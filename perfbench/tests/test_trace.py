"""Span self-time arithmetic."""

import pytest

from perfbench.trace import NullTracer, Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(0, 4), (6, 12)], 2, 10) == pytest.approx(6)
    assert covered([], 0, 1) == 0
    assert covered([(5, 6)], 0, 1) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),       # overlaps a: counted once
        Span("a.child", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_tracer_records_parents(tmp_path):
    t = Tracer()
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    with t.span("second"):
        pass
    assert [s.parent for s in t.spans] == [None, 0, None]
    assert t.spans[1].attrs["k"] == 1
    assert all(s.end >= s.start for s in t.spans)
    t.dump(str(tmp_path / "trace.json"), {"workload": "x"})
    assert (tmp_path / "trace.json").exists()


def test_named_prefers_primary_spans():
    t = Tracer()
    with t.span("x"):
        pass
    t.phase = "coverage"
    with t.span("x"):
        pass
    with t.span("y"):
        pass
    assert [s.attrs["phase"] for s in t.named("x")] == ["primary"]
    assert [s.attrs["phase"] for s in t.named("y")] == ["coverage"]


def test_null_tracer_records_nothing():
    t = NullTracer()
    with t.span("x"):
        pass
    assert t.spans == []
