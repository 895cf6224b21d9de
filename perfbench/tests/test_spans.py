import pytest

from spans import Span, Tracer, self_times


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span("entry", 0, 100),
        Span("entry.build", 10, 40, parent=0),
        Span("entry.collect", 30, 90, parent=0),  # overlaps build by 10
        Span("entry", 200, 210),
    ]
    st = self_times(spans)
    assert st["entry"]["count"] == 2
    assert st["entry"]["total_ms"] == pytest.approx(110)
    assert st["entry"]["self_ms"] == pytest.approx(20 + 10)
    assert st["entry.build"]["self_ms"] == pytest.approx(30)


def test_children_are_clipped_to_their_parent():
    spans = [Span("p", 0, 10), Span("c", 5, 50, parent=0)]
    assert self_times(spans)["p"]["self_ms"] == pytest.approx(5)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as sid:
        assert sid is None
    assert t.add("y", 0, 1) is None
    assert t.spans == []


def test_tracer_nests_spans():
    t = Tracer(True)
    with t.span("outer") as a:
        with t.span("inner", a):
            pass
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0
    assert t.spans[0].end_ms >= t.spans[1].end_ms
