#!/usr/bin/env python3
"""CineGraph benchmark: one run of one workload.

    python3 perfbench/run.py --workload {build,refresh,serve} --seed N \\
        --seconds S --trace {0,1}

Run it from the root of a checkout. It generates its inputs from the seed
under ``.perfbench_work/`` in the checkout (removed at exit), starts one
Spark session on ``local[nproc]``, sets up, measures for at least
``--seconds`` seconds and at least one unit of work, checks every timed
result, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
``metrics.py``); the traced run also writes its spans to
``.perfbench_spans/<workload>-<seed>.jsonl``.

A failed or wrong op counts against ``attempted`` and is never retried.
See ``README.md`` for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.model import make_model_loader  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("build", "refresh", "serve")
#: movies in the build corpus
BUILD_MOVIES = 150
#: movies in the serving state of refresh and serve
BASE_MOVIES = 200
#: subtitle files per refresh batch (a quarter are re-uploads)
BATCH_SIZE = 24
#: similar-movies result size
TOP_K = 10
#: vector ids at and above this are probes, never corpus movies
PROBE_ID = 1 << 40
READS = ("graph_node", "movie_arc", "similar")


def _pctl(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


class Recorder:
    """Latency, attempts and failures per op, shared by client threads."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.wrong = 0  # failed ops that returned a wrong result
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def run(self, op: str, call, check, since: float | None = None):
        """Time ``call()``, then ``check(result)`` outside the timing. An
        exception or a failed check fails the op; returns ``(result, ok)``.
        ``since`` moves the start of the op's time back (a refresh batch is
        timed from its files landing)."""
        t0 = time.perf_counter() if since is None else since
        try:
            res = call()
        except Exception as exc:  # the op failed: count it, keep serving
            # name the Spark error class, not the Py4J wrapper's first line
            msg = str(exc)
            cls = re.search(r"\[([A-Z][A-Z0-9_.]+)\]", msg)
            detail = cls.group(1) if cls else (msg.strip().splitlines() or [""])[0][:300]
            self.add(op, time.perf_counter() - t0, f"{op}: {type(exc).__name__}: {detail}")
            return None, False
        dt = time.perf_counter() - t0
        reason = check(res)
        if reason is not None:
            with self._lock:
                self.wrong += 1
        self.add(op, dt, reason)
        return res, reason is None

    def add(self, op: str, seconds: float, reason: str | None) -> None:
        with self._lock:
            self.attempted[op] = self.attempted.get(op, 0) + 1
            if reason is None:
                self.lat.setdefault(op, []).append(seconds)
            else:
                self.failed[op] = self.failed.get(op, 0) + 1
                if len(self.errors) < 20:
                    self.errors.append(reason)


class Expected:
    """What a correct read may return, over time. While a refresh batch is
    in flight both the old and the new version of its movies and vectors
    are acceptable; a version stops being acceptable when the batch that
    replaced it has returned."""

    def __init__(self, movies, ids, X):
        self._lock = threading.Lock()
        self.windows = {m.movie_id: [[0.0, math.inf, m.n_windows]] for m in movies}
        self.snapshots = [[0.0, math.inf, ids, X]]

    def windows_allowed(self, movie_id: int, t0: float, t1: float) -> set:
        with self._lock:
            return {n for a, b, n in self.windows.get(movie_id, ()) if a <= t1 and b >= t0}

    def vector_states(self, t0: float, t1: float) -> list:
        with self._lock:
            return [(ids, X) for a, b, ids, X in self.snapshots if a <= t1 and b >= t0]

    def current_vectors(self):
        with self._lock:
            return self.snapshots[-1][2], self.snapshots[-1][3]

    def begin_movies(self, batch, t: float) -> None:
        with self._lock:
            for m in batch:
                self.windows.setdefault(m.movie_id, []).append([t, math.inf, m.n_windows])

    def begin_vectors(self, vecs: dict, batch_ids: set, t: float) -> None:
        with self._lock:
            ids, X = self.snapshots[-1][2], self.snapshots[-1][3]
            keep = [i for i, v in enumerate(ids) if int(v) not in batch_ids]
            new_ids = np.concatenate([ids[keep], np.array(sorted(vecs), dtype=np.int64)])
            new_X = np.vstack([X[keep]] + [vecs[i] for i in sorted(vecs)])
            order = np.argsort(new_ids)
            self.snapshots.append([t, math.inf, new_ids[order], new_X[order]])

    def end_batch(self, t: float) -> None:
        """The batch returned: every superseded version expires at ``t``."""
        with self._lock:
            for versions in self.windows.values():
                for v in versions[:-1]:
                    v[1] = min(v[1], t)
            for s in self.snapshots[:-1]:
                s[1] = min(s[1], t)


def session(server, rec: Recorder, base, expected: Expected, target: int,
            probe_seed: int, request: str, prefix: str = "",
            stop: threading.Event | None = None) -> bool | None:
    """One user session: walk from the root to ``target``'s leaf with
    ``/graph?node=``, open its ``/movie?id=`` page, then ask for the movies
    emotionally closest to it. Returns None if ``stop`` cut it short."""
    ok = True
    path = base.nodes[base.leaf_of[target]][0].split(".")
    root = next(i for i, (p, _) in base.nodes.items() if p == "root")
    for nid in [root] + [int(x) for x in path[1:]]:
        if stop is not None and stop.is_set():
            return None
        _, good = rec.run(
            prefix + "graph_node", lambda: server.graph_node(nid, request),
            lambda r: checks.check_graph_node(r, nid, base.nodes, base.members),
        )
        ok &= good
    if stop is not None and stop.is_set():
        return None
    t0 = time.perf_counter()
    _, good = rec.run(
        prefix + "movie_arc", lambda: server.movie_arc(target, request),
        lambda r: checks.check_movie_arc(
            r, target, expected.windows_allowed(target, t0, time.perf_counter())),
    )
    ok &= good
    if stop is not None and stop.is_set():
        return None
    q = gen.probe_vector(base.X[int(base.ids.searchsorted(target))], probe_seed)
    t0 = time.perf_counter()

    def check_similar(res):
        reasons = [
            checks.check_similar(res[PROBE_ID], ids, X, q, TOP_K)
            for ids, X in expected.vector_states(t0, time.perf_counter())
        ]
        return None if None in reasons else reasons[0]

    _, good = rec.run(
        prefix + "similar",
        lambda: server.similar([(PROBE_ID, [float(x) for x in q])], TOP_K, request),
        check_similar,
    )
    return ok and good


class Sessions:
    """Runs user sessions from the shared Zipf stream. ``rec`` may be
    swapped while sessions run: each session records into the recorder
    current when it starts."""

    def __init__(self, server, base, expected, stream, rec: Recorder, prefix: str = ""):
        self.server, self.base, self.expected = server, base, expected
        self.stream, self.rec, self.prefix = stream, rec, prefix
        self._lock = threading.Lock()
        self._n = 0

    def one(self, stop: threading.Event | None = None) -> None:
        """One session; a session that ``stop`` cuts short is not counted
        (its requests that ran are)."""
        with self._lock:
            target, probe_seed = next(self.stream)
            n, self._n = self._n, self._n + 1
        rec, t0 = self.rec, time.perf_counter()
        ok = session(self.server, rec, self.base, self.expected, target, probe_seed,
                     f"{self.prefix}s{n}", self.prefix, stop)
        if ok is not None:
            rec.add(self.prefix + "session", time.perf_counter() - t0,
                    None if ok else "session: a request failed")

    def until(self, deadline: float, stop: threading.Event | None = None) -> None:
        while time.perf_counter() < deadline and not (stop and stop.is_set()):
            self.one(stop)


def _environment(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        # the launcher's and the driver's JVM: temp files in the work
        # directory, and no performance-counter file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(k + '=' + v)}" for k, v in {
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # the traced run reads every job back from the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }.items()
        ) + " pyspark-shell",
    )


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _peak_rss_mb() -> float:
    from pyspark import SparkContext

    return (_vm_hwm_kb("self") + _vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass  # the process ended while we looked
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits at the end of its input
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --- workloads ------------------------------------------------------------


def _verify_build(spark, app, movies, tables, probe_seed: int):
    """The whole published state of one build against the generator."""
    from pyspark.sql import functions as F

    from cinegraph_spark.operators.maintenance import layout_read

    eligible = {m.movie_id for m in movies if m.n_windows >= 3}
    graph = spark.read.parquet(tables.graph).collect()
    leaves = {r["id"] for r in graph if r["children_count"] == 0 and r["type"] == "leaf"}
    pairs = [(r["movie_id"], r["graph_id"])
             for r in spark.read.parquet(tables.membership).collect()]
    bad = checks.check_membership(pairs, leaves, eligible)
    if bad:
        return bad
    rows = layout_read(spark, tables.movies).select(
        "movie_id", "n_tokens", "n_windows", F.col("arc.window_id").alias("wids")
    ).collect()
    bad = checks.check_movies(rows, {m.movie_id: (m.n_tokens, m.n_windows) for m in movies})
    if bad:
        return bad
    vec = sorted((r["vec_id"], r["v"]) for r in layout_read(spark, tables.vectors).collect())
    ids = np.array([i for i, _ in vec], dtype=np.int64)
    if set(ids.tolist()) != eligible:
        return "vectors: the vector layout does not hold exactly the clustered movies"
    X = np.array([v for _, v in vec])
    q = gen.probe_vector(X[probe_seed % len(X)], probe_seed)
    server = app.Server(spark, tables, NullTracer())
    res = server.similar([(PROBE_ID, [float(x) for x in q])], TOP_K)[PROBE_ID]
    return checks.check_similar(res, ids, X, q, TOP_K)


def build_inputs(g, work) -> dict:
    movies = g.corpus(BUILD_MOVIES)
    corpus_dir = os.path.join(work, "corpus")
    gen.write_corpus(movies, corpus_dir)
    return {"movies": movies, "corpus_dir": corpus_dir}


def run_build(spark, app, tracer, g, inputs, seconds, rec, work, marks, out) -> None:
    """Whole builds of one corpus, back to back, each into fresh tables."""
    movies, corpus_dir = inputs["movies"], inputs["corpus_dir"]
    loader = make_model_loader(g.seed)
    marks["first_op"] = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - marks["first_op"] < seconds:
        tables = app.Tables(os.path.join(work, f"build{n}"))
        counts, _ = rec.run(
            "build",
            lambda: app.build(spark, tracer, corpus_dir, movies, tables, loader),
            lambda r: _verify_build(spark, app, movies, tables, n + 1),
        )
        if counts is not None:
            out["counts"].append(counts)
            out["tables"] = tables
        n += 1
    marks["end"] = time.perf_counter()


def base_inputs(g, work) -> dict:
    movies = g.corpus(BASE_MOVIES, text=False)
    return {"movies": movies, "arcs": {m.movie_id: gen.arc_scores(g.seed, m) for m in movies}}


def _base(spark, app, tracer, g, inputs, work, out):
    """Publish the serving state that refresh and serve start from."""
    movies, arcs = inputs["movies"], inputs["arcs"]
    tables = app.Tables(os.path.join(work, "serving"))
    base = app.publish_base(spark, tracer, tables, movies, arcs, g.seed)
    out["tables"], out["base_bytes"] = tables, base.bytes_written
    return movies, tables, base


def run_serve(spark, app, tracer, g, inputs, seconds, rec, work, marks, out,
              clients) -> None:
    """``clients`` threads run closed-loop sessions, one at a time each."""
    movies, tables, base = _base(spark, app, tracer, g, inputs, work, out)
    server = app.Server(spark, tables, tracer)
    expected = Expected(movies, base.ids, base.X)
    users = Sessions(server, base, expected, g.sessions(sorted(base.leaf_of)), Recorder())
    # warm-up: one session per client, concurrently, untimed
    _run_threads([users.one] * clients)
    if users.rec.failed:
        raise RuntimeError(f"serve warm-up failed: {users.rec.errors[:3]}")
    users.rec = rec
    marks["first_op"] = time.perf_counter()
    deadline = marks["first_op"] + seconds
    _run_threads([lambda: users.until(deadline)] * clients)
    marks["end"] = time.perf_counter()


def _run_threads(fns) -> None:
    errors = []

    def wrap(fn):
        try:
            fn()
        except BaseException as exc:  # re-raised below, after every join
            errors.append(exc)

    threads = [threading.Thread(target=wrap, args=(fn,), daemon=True) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def run_refresh(spark, app, tracer, g, inputs, seconds, rec, work, marks, out) -> None:
    """A writer lands batches one after another while one reader runs
    sessions, until ``seconds`` have passed and a batch has succeeded. A
    failed batch ends the run, which is then incorrect."""
    movies, tables, base = _base(spark, app, tracer, g, inputs, work, out)
    server = app.Server(spark, tables, tracer)
    expected = Expected(movies, base.ids, base.X)
    reader = Sessions(server, base, expected, g.sessions(sorted(base.leaf_of)),
                      rec, prefix="reader_")
    writer = _Writer(spark, app, tracer, g, movies, work, tables, base, expected)
    stop = threading.Event()
    thread = threading.Thread(target=reader.until, args=(math.inf, stop), daemon=True)
    marks["first_op"] = time.perf_counter()
    thread.start()
    try:
        while not writer.failed and (
                not writer.ok or time.perf_counter() - marks["first_op"] < seconds):
            batch = writer.batch(rec)
            if batch is not None:
                out["batches"].append(batch)
                out["counts"].append(batch["counts"])
    finally:
        stop.set()
        thread.join()
    marks["end"] = time.perf_counter()


class _Writer:
    """Lands refresh batches one after another, runs each through the
    program, then checks that a read sees every movie of the batch."""

    def __init__(self, spark, app, tracer, g, movies, work, tables, base, expected):
        self.spark, self.app, self.tracer, self.g = spark, app, tracer, g
        self.work, self.tables, self.base = work, tables, base
        self.expected = expected
        # its own reads are the freshness check, not user requests
        self.server = app.Server(spark, tables, NullTracer())
        self.known = list(movies)
        self.loader = make_model_loader(g.seed)
        self.ok = self.failed = 0

    def batch(self, rec: Recorder) -> dict | None:
        """One batch, recorded as op ``refresh`` from its files landing to
        the check passing. Returns what the per-layer metrics need."""
        b = self.ok + self.failed
        batch = self.g.refresh_batch(
            b, self.known, BATCH_SIZE, max(m.movie_id for m in self.known) + 1)
        batch_dir = os.path.join(self.work, "landing", f"batch{b}")
        t_land = time.perf_counter()
        gen.write_corpus(batch, batch_dir)
        self.expected.begin_movies(batch, t_land)
        res, ok = rec.run("refresh", lambda: self._run(batch, batch_dir),
                          lambda r: r[1], since=t_land)
        ids = {m.movie_id for m in batch}
        self.known = [k for k in self.known if k.movie_id not in ids] + batch
        self.ok += ok
        self.failed += not ok
        return res[0] if ok else None

    def _run(self, batch, batch_dir):
        ids = {m.movie_id for m in batch}
        out = self.app.refresh(
            self.spark, self.tracer, batch_dir, batch, self.tables, self.loader,
            self.base.scaler,
            on_index_update=lambda vecs: self.expected.begin_vectors(
                vecs, ids, time.perf_counter()),
        )
        self.expected.end_batch(time.perf_counter())
        rows = self.server.movies(sorted(ids))
        bad = checks.check_movies(
            [{**r.asDict(), "wids": [a["window_id"] for a in r["arc"]]} for r in rows],
            {m.movie_id: (m.n_tokens, m.n_windows) for m in batch},
        )
        if bad:
            return out, bad
        vec_ids, X = self.expected.current_vectors()
        vecs = out["vectors"]
        probes = {PROBE_ID + i: mid for i, mid in enumerate(sorted(vecs))}
        got = self.server.similar(
            [(p, [float(x) for x in vecs[mid]]) for p, mid in probes.items()], TOP_K)
        for p, mid in probes.items():
            if not got[p] or got[p][0][0] != mid:
                return out, f"refresh: movie {mid} is not its own top-1"
            bad = checks.check_similar(got[p], vec_ids, X, vecs[mid], TOP_K)
            if bad:
                return out, bad
        return out, None


# --- metrics --------------------------------------------------------------


def _median_span(tracer, name, attr="seconds", after=0.0):
    """Median of ``attr`` over the spans called ``name`` that started in the
    measured window, or over all of them when every one ran in set-up (the
    refresh set-up's publish and index save)."""
    spans = [s for s in tracer.spans if s.name == name]
    timed = [s for s in spans if s.start >= after]
    vals = [getattr(s, attr) for s in (timed or spans)]
    return statistics.median(vals) if vals else 0.0


def _per_layer(spark, app, tracer, workload, rec, marks, session_start_s, out) -> dict:
    from cinegraph_spark.operators.maintenance import dataset_stats

    tracer.attribute_jobs()
    t = marks["first_op"]
    m = {name: 0.0 for name, *_ in PER_LAYER}
    m["session.start_s"] = session_start_s
    m["peak_rss_mb"] = _peak_rss_mb()
    for name, span in [
        ("text_corpus.read_s", "text_corpus.read"), ("text_clean.s", "text_clean"),
        ("windowize.s", "windowize"), ("scoring.s", "scoring"), ("features.s", "features"),
        ("graph_build.s", "graph_build"), ("hnsw.save_s", "hnsw.save"),
        ("hnsw.update_s", "hnsw.update"), ("maintenance.upsert_s", "maintenance.upsert"),
        ("maintenance.read_s", "maintenance.read"), ("hnsw.knn_s", "hnsw.knn"),
        ("graph_build.node_with_children_s", "graph_build.node_with_children"),
    ]:
        m[name] = _median_span(tracer, span, after=t)
    # a publish is several spans: report their sum per build, or the set-up's
    publish = sum(s.seconds for s in tracer.spans if s.name == "serving_io.publish")
    m["serving_io.publish_s"] = publish / (len(out["counts"]) if workload == "build" else 1)
    m["graph_build.spark_jobs"] = _median_span(tracer, "graph_build", "jobs", t)
    m["graph_build.node_with_children_jobs"] = _median_span(
        tracer, "graph_build.node_with_children", "jobs", t)
    m["hnsw.knn_jobs"] = _median_span(tracer, "hnsw.knn", "jobs", t)
    m["hnsw.knn_tasks"] = _median_span(tracer, "hnsw.knn", "tasks", t)
    for op, span in zip(READS, ("graph_build.node_with_children", "maintenance.read",
                                "hnsw.knn")):
        sp = [s for s in tracer.spans if s.name == span and s.request and s.start >= t]
        if sp:
            m[f"spark.{op}.jobs_per_request"] = statistics.mean(s.jobs for s in sp)
            m[f"spark.{op}.tasks_per_request"] = statistics.mean(s.tasks for s in sp)

    counts = out["counts"]

    def med(key):
        vals = [c[key] for c in counts if key in c]
        return statistics.median(vals) if vals else 0.0

    for name, key in [
        ("text_corpus.files", "files"), ("text_corpus.bytes", "bytes"),
        ("text_clean.chars_in", "chars_in"), ("text_clean.chars_out", "chars_out"),
        ("windowize.windows", "windows"), ("hnsw.index_bytes", "index_bytes"),
        ("serving_io.bytes_written", "bytes_written"),
    ]:
        m[name] = med(key)
    kept = [c["movies_kept"] / c["movies_in"] for c in counts if c.get("movies_in")]
    m["features.movies_kept_frac"] = statistics.median(kept) if kept else 0.0
    if m["scoring.s"]:
        m["scoring.windows_per_s"] = m["windowize.windows"] / m["scoring.s"]
    if workload != "build":
        m["serving_io.bytes_written"] = out["base_bytes"]

    tables = out["tables"]
    if tables is not None:
        graph = spark.read.parquet(tables.graph).collect()
        m["graph_build.nodes"] = len(graph)
        m["graph_build.depth"] = max(r["path"].count(".") for r in graph)
        idx = spark.read.parquet(tables.index).select("part_id", "n_vectors").collect()
        m["hnsw.subindexes"] = len(idx)
        if not m["hnsw.index_bytes"]:
            m["hnsw.index_bytes"] = dataset_stats(tables.index, spark)["total_bytes"]
    if out["batches"]:
        n_vec = {int(r["part_id"]): int(r["n_vectors"]) for r in idx}
        layout_bytes = dataset_stats(tables.movies, spark)["total_bytes"]
        row_bytes = layout_bytes / (BASE_MOVIES + sum(b["counts"]["files"] for b in out["batches"]))
        rebuilt, fracs, amps = [], [], []
        for b in out["batches"]:
            files = b["counts"]["files"]
            rebuilt.append(sum(n_vec.get(p, 0) for p in b["update"]["rebuilt_partitions"]) / files)
            touched = b["movies"]["touched_partitions"]
            fracs.append(len(touched) / app.MOVIE_PARTS)
            written = sum(dataset_stats(os.path.join(tables.movies, f"part_id={p}"), spark)
                          ["total_bytes"] for p in touched)
            amps.append(written / (files * row_bytes))
        m["hnsw.rebuilt_vectors_per_changed"] = statistics.median(rebuilt)
        m["maintenance.dirs_rewritten_frac"] = statistics.median(fracs)
        m["maintenance.bytes_written_per_delta_byte"] = statistics.median(amps)
    m.update(_op_views(workload, rec, marks))
    m["trace.work_p50_s"] = _work_p50(workload, rec)
    return m


def _op_views(workload, rec, marks) -> dict:
    """The workload-specific end-to-end views, under the issue's names."""
    out = {}
    lat = rec.lat
    if lat.get("build"):
        out["build_s"] = statistics.median(lat["build"])
    prefix = "reader_" if workload == "refresh" else ""
    n = sum(len(lat.get(prefix + op, [])) for op in READS)
    if n:
        out["serve_rps"] = n / (marks["end"] - marks["first_op"])
    for op in READS:
        xs = lat.get(prefix + op, [])
        if xs:
            out[f"{op}_p50_ms"] = 1000 * statistics.median(xs)
            out[f"{op}_p90_ms"] = 1000 * _pctl(xs, 90)
    if lat.get("refresh"):
        out["refresh_visible_p50_s"] = statistics.median(lat["refresh"])
    reads = [x for op in READS for x in lat.get("reader_" + op, [])]
    if reads:
        out["refresh_read_p50_ms"] = 1000 * statistics.median(reads)
        out["refresh_read_p90_ms"] = 1000 * _pctl(reads, 90)
    return out


UNIT = {"build": "build", "serve": "session", "refresh": "refresh"}


def _work_p50(workload, rec) -> float:
    """Median time of the workload's successful units of work. With none,
    there is nothing to report: the run fails rather than report 0."""
    xs = rec.lat.get(UNIT[workload])
    if not xs:
        raise RuntimeError(f"no {UNIT[workload]} succeeded: {rec.errors[:3]}")
    return statistics.median(xs)


def _verdict(workload, rec) -> tuple[bool, int, int]:
    """``(correct, attempted, failed)`` of a run. A failed op (an exception,
    such as a read racing a refresh) counts in ``failed``. A wrong result,
    or a failed unit of work (which the median would otherwise leave out),
    also makes the run incorrect."""
    # sessions group requests already counted one by one
    attempted = sum(v for k, v in rec.attempted.items() if not k.endswith("session"))
    failed = sum(v for k, v in rec.failed.items() if not k.endswith("session"))
    correct = rec.wrong == 0 and not rec.failed.get(UNIT[workload]) and attempted > failed
    return correct, attempted, failed


def _report(workload, rec, marks, metrics) -> None:
    """Human-readable lines before the JSON line."""
    print(f"workload {workload}: measured {marks['end'] - marks['first_op']:.1f} s")
    for op in sorted(rec.attempted):
        xs = rec.lat.get(op, [])
        line = f"  {op:18s} attempted {rec.attempted[op]:5d} failed {rec.failed.get(op, 0):4d}"
        if xs:
            line += (f"  p50 {1000 * statistics.median(xs):10.1f} ms"
                     f"  p90 {1000 * _pctl(xs, 90):10.1f} ms (n={len(xs)})")
        print(line)
    for name, val in metrics.items():
        print(f"  {name} = {val:.6g}")
    for err in rec.errors[:10]:
        print(f"  error: {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        from perfbench import app  # imports the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cpus)

    # inputs first: their generation is not part of set-up
    t_inputs = time.perf_counter()
    g = gen.Generator(args.seed)
    inputs = build_inputs(g, work) if args.workload == "build" else base_inputs(g, work)
    rec, marks = Recorder(), {}
    out = {"counts": [], "batches": [], "tables": None, "base_bytes": 0}
    spark = None
    try:
        t0 = time.perf_counter()
        from cinegraph_spark.session import ensure_shipped, get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(spark)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        run = {"build": run_build, "refresh": run_refresh, "serve": run_serve}[args.workload]
        extra = (cpus,) if args.workload == "serve" else ()
        run(spark, app, tracer, g, inputs, args.seconds, rec, work, marks, out, *extra)
        setup_s = marks["first_op"] - t0
        if args.trace:
            metrics = _per_layer(spark, app, tracer, args.workload, rec, marks,
                                 session_start_s, out)
            os.makedirs(os.path.join(ROOT, ".perfbench_spans"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_spans", f"{args.workload}-{args.seed}.jsonl"))
            units = {n: u for n, u, *_ in PER_LAYER}
            shown = metrics
        else:
            metrics = {"setup_s": setup_s, "work_p50_s": _work_p50(args.workload, rec)}
            units = {n: u for n, (u, _) in END_TO_END.items()}
            shown = {**metrics, "peak_rss_mb": _peak_rss_mb(),
                     **_op_views(args.workload, rec, marks)}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        marks["stopped"] = time.perf_counter() - t_stop
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    print(f"wall time: inputs {t0 - t_inputs:.1f} s, set-up {setup_s:.1f} s, "
          f"measured {marks['end'] - marks['first_op']:.1f} s, metrics "
          f"{t_stop - marks['end']:.1f} s, stop {marks['stopped']:.1f} s")
    _report(args.workload, rec, marks, shown)
    correct, attempted, failed = _verdict(args.workload, rec)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
