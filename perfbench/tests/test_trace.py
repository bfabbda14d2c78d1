"""Span bookkeeping of the traced run, without Spark."""

import json

from perfbench.trace import Span, Tracer


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_spans_nest_and_share_the_request_id():
    tr = Tracer(_FakeSc())
    with tr.span("outer", request="r1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.request == outer.request == "r1"
    assert inner.group != outer.group
    # the inner span's job group is restored to the outer one, then cleared
    assert tr.sc.groups == [outer.group, inner.group, outer.group, None]


def test_self_time_subtracts_children_once():
    tr = Tracer(_FakeSc())
    tr.spans = [
        Span(1, "a", 0.0, None, None, "g1", end=10.0),
        Span(2, "b", 1.0, 1, None, "g2", end=4.0),
        Span(3, "c", 3.0, 1, None, "g3", end=5.0),  # overlaps b
        Span(4, "d", 9.0, 1, None, "g4", end=12.0),  # runs past a
    ]
    selfs = tr.self_seconds()
    assert selfs[1] == 10.0 - 4.0 - 1.0
    assert selfs[2] == 3.0 and selfs[4] == 3.0


def test_dump_writes_one_line_per_span(tmp_path):
    tr = Tracer(_FakeSc())
    with tr.span("x", request="q"):
        with tr.span("y"):
            pass
    out = tmp_path / "spans.jsonl"
    tr.dump(str(out))
    recs = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["x", "y"]
    assert recs[1]["parent"] == recs[0]["id"] and recs[1]["request"] == "q"
    assert recs[0]["self_s"] <= recs[0]["end"] - recs[0]["start"]
