"""Span nesting and self time."""

import pytest

from tracing import Span, Tracer, self_time_by_pass, self_times


def test_self_time_subtracts_direct_children():
    spans = [
        Span(0, "pass", 0.0, 10.0, None, 0),
        Span(1, "checkpoint.run_s", 1.0, 9.0, 0, 0),
        Span(2, "pipeline.geo_pipeline_s", 2.0, 3.0, 1, 0),
        Span(3, "action_s", 4.0, 8.0, 1, 0),
        Span(4, "inner", 5.0, 6.0, 3, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)  # 10 - 8 covered by checkpoint.run_s
    assert st[1] == pytest.approx(3.0)  # 8 - (1 + 4); grandchild not subtracted twice
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_overlapping_children_are_counted_once():
    spans = [
        Span(0, "p", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 5.0, 0, 0),
        Span(2, "b", 3.0, 7.0, 0, 0),
        Span(3, "c", 9.0, 12.0, 0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_parent_and_pass():
    t = Tracer(enabled=True)
    t.pass_id = 3
    with t.span("outer"):
        with t.span("inner"):
            pass
    with t.span("next"):
        pass
    outer, inner, nxt = t.spans
    assert (outer.parent, inner.parent, nxt.parent) == (None, outer.id, None)
    assert {s.pass_id for s in t.spans} == {3}
    assert outer.start <= inner.start <= inner.end <= outer.end
    by_pass = self_time_by_pass(t.spans)
    assert set(by_pass) == {"outer", "inner", "next"}
    assert by_pass["outer"][3] == pytest.approx(outer.duration - inner.duration)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == [] and t.records() == []
