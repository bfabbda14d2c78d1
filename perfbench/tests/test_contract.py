"""BENCHMARK.json against the metric list ``run.py`` reports, and against
the limits of its own format."""

import json
import os
import re

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_keys_and_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_workloads_are_run_py_workloads():
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_end_to_end_matches_metrics_py():
    e2e = _bench()["end_to_end"]
    assert 1 <= len(e2e) <= 16
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    assert {m["name"]: (m["unit"], m["better"]) for m in e2e} == metrics.END_TO_END
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_matches_metrics_py():
    per = _bench()["per_layer"]
    assert 1 <= len(per) <= 128
    for m in per:
        assert set(m) == {"name", "unit", "better"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert [(m["name"], m["unit"], m["better"]) for m in per] == [
        (n, u, b) for n, u, b, _ in metrics.PER_LAYER
    ]


def test_paths_hold_only_regular_files():
    for p in _bench()["paths"]:
        for root, _dirs, files in os.walk(os.path.join(ROOT, p)):
            if "__pycache__" in root:
                continue
            for f in files:
                assert not os.path.islink(os.path.join(root, f))
