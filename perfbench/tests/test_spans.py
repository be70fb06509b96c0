from spans import Span, Tracer, covered


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1, 3), (2, 5), (7, 8)], 0.0, 10.0) == 5.0
    # clipped to the window on both sides
    assert covered([(-5, 2), (9, 20)], 0.0, 10.0) == 3.0
    # nested intervals count once
    assert covered([(1, 9), (2, 3), (4, 5)], 0.0, 10.0) == 8.0


def _tracer(layout):
    """A tracer holding spans with the given (name, start, end, parent)."""
    t = Tracer()
    t.spans = [Span(i, *row[:3], parent=row[3]) for i, row in enumerate(layout)]
    return t


def test_self_time_subtracts_children_once():
    t = _tracer(
        [
            ("pass", 0.0, 10.0, None),
            ("spec", 1.0, 2.0, 0),
            ("plans", 2.0, 4.0, 0),
            ("writers.writer", 3.5, 7.0, 0),  # overlaps plans by 0.5
            ("grandchild", 5.0, 6.0, 3),
        ]
    )
    assert t.self_time(0) == 10.0 - 6.0
    assert t.self_time(3) == 3.5 - 1.0
    assert t.self_time(4) == 1.0
    assert sorted(t.descendants(0)) == [0, 1, 2, 3, 4]


def test_spans_nest_and_read_cpu_at_edges():
    reads = iter(range(100))
    t = Tracer(cpu=lambda: next(reads))
    t.pass_id = "p0"
    with t.span("pass"):
        with t.span("op", kind="merge"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.pass_id == "p0" and inner.attrs == {"kind": "merge"}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert outer.cpu == (0, 3) and inner.cpu == (1, 2)
