"""In-memory spans for the traced run.

A span records ``name, start, end, parent, request``. Spans nest per
thread. Each span runs under its own Spark job
group, so the jobs and tasks it caused are read afterwards from
``SparkContext.statusTracker()``: from outside the program, not from
counters inside it. ``NullTracer`` has the same surface and records nothing;
the untraced run uses it, so its plans and timings carry no tracing cost.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: str | None
    group: str
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, request: str | None = None):
        yield

    def force(self, df):
        return df


class Tracer:
    """Tracing on. ``sc`` is the SparkContext whose jobs are attributed."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._cached = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"perfbench-{id(self):x}-{sid}"
        sp = Span(
            sid, name, time.perf_counter(),
            parent.sid if parent else None,
            request if request is not None else (parent.request if parent else None),
            group,
        )
        stack.append(sp)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def force(self, df):
        """Materialise ``df`` at a layer boundary so the span around the
        call that built it times the work, not just the planning."""
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def attribute_jobs(self) -> None:
        """Fill ``jobs``/``tasks`` of every span from the status tracker.
        A job belongs to the innermost span open when it started."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            ids = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(ids)
            tasks = 0
            for jid in ids:
                info = tracker.getJobInfo(jid)
                for st in info.stageIds if info else ():
                    stage = tracker.getStageInfo(st)
                    tasks += stage.numTasks if stage else 0
            sp.tasks = tasks

    def self_seconds(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, last = 0.0, sp.start
            for c in sorted(kids.get(sp.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[sp.sid] = sp.seconds - covered
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        selfs = self.self_seconds()
        with open(path, "w", encoding="utf-8") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent,
                    "request": sp.request, "self_s": selfs[sp.sid],
                    "jobs": sp.jobs, "tasks": sp.tasks,
                }) + "\n")
