"""Self-time arithmetic on synthetic spans."""

from spans import Span, Tracer, covered, self_times


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(1, 3), (2, 5), (7, 8)]) == 5
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps its sibling: counted once
        _span(3, 7.0, 8.0, 0),
        _span(4, 1.5, 2.5, 1),  # grandchild: only reduces its parent
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0
    assert st[1] == 2.0 - 1.0
    assert st[2] == 3.0 and st[3] == 1.0 and st[4] == 1.0


def test_child_outside_parent_is_clipped():
    st = self_times([_span(0, 0.0, 4.0), _span(1, 3.0, 6.0, 0)])
    assert st[0] == 3.0 and st[1] == 3.0


def test_tracer_records_nesting_and_run_id():
    t = Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert {s.run_id for s in t.spans} == {"run-1"}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert t.total("inner") == inner.duration


def test_disabled_tracer_records_nothing():
    t = Tracer("run-2", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []
