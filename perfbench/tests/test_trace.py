from __future__ import annotations

import json

from perfbench.trace import Span, Tracer


def test_spans_nest_and_share_the_run_id():
    t = Tracer("r1")
    with t.span("op") as op:
        with t.span("child"):
            pass
    child = t.spans[1]
    assert child.parent == op.span_id and op.parent is None
    assert {s.run_id for s in t.spans} == {"r1"}
    assert op.start <= child.start <= child.end <= op.end


def test_self_time_subtracts_the_union_of_children():
    t = Tracer("r")
    parent = Span(0, "op", None, "r", start=0.0, end=10.0)
    t.spans = [
        parent,
        Span(1, "a", 0, "r", start=1.0, end=4.0),
        Span(2, "b", 0, "r", start=3.0, end=5.0),  # overlaps a
        Span(3, "c", 0, "r", start=9.0, end=12.0),  # runs past the parent
        Span(4, "grandchild", 1, "r", start=1.0, end=2.0),
    ]
    assert t.self_seconds(parent) == 10.0 - (4.0 + 1.0)
    assert t.self_seconds(t.spans[1]) == 3.0 - 1.0
    summary = t.summary()
    assert summary["op"] == {"count": 1, "total_s": 10.0, "self_s": 5.0}


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("op") as s:
        pass
    assert s is None and t.spans == []


def test_write_keeps_spans_and_self_time(tmp_path):
    t = Tracer("r")
    with t.span("op"):
        pass
    path = tmp_path / "trace.json"
    t.write(str(path), {"box": {"nproc": 4}})
    doc = json.loads(path.read_text())
    assert doc["run_id"] == "r" and doc["box"] == {"nproc": 4}
    assert doc["spans"][0]["name"] == "op" and "op" in doc["self_time"]
