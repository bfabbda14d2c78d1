#!/usr/bin/env python3
"""Tracing overhead of one workload on one seed.

    python3 perfbench/overhead.py --workload refresh --seed 1 [--seconds 10]

Runs ``run.py`` untraced, then traced, one after the other, and prints the
untraced ``work_p50_s``, the traced ``trace.work_p50_s`` and their
difference as a share of the untraced figure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), check=True, capture_output=True, text=True,
        timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)["work_p50_s"]["value"]
    traced = _run(args.workload, args.seed, args.seconds, 1)["trace.work_p50_s"]["value"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "work_p50_s": plain, "trace.work_p50_s": traced,
        "overhead_frac": traced / plain - 1,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
