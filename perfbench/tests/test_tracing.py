import pytest

from tracing import Span, Tracer, ancestors, child_coverage, covered, self_times, span_id


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: union 1..6
        Span(3, "c", 1, 2.0, 3.0),  # grandchild: not subtracted from op
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert child_coverage(spans, 0) == pytest.approx(0.5)
    assert [s.sid for s in ancestors(spans, 3)] == [3, 1, 0]


def test_tracer_nesting_and_wrap():
    class Mod:
        @staticmethod
        def leaf(x):
            return x + 1

        @staticmethod
        def count():
            return 0

    tr = Tracer()
    tr.wrap(Mod, "leaf", "plans.leaf")
    tr.wrap(Mod, "count", "op.count", under="op")
    Mod.count()  # outside "op": not traced
    with tr.span("op"):
        assert Mod.leaf(1) == 2
        Mod.count()
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("op", None), ("plans.leaf", 0), ("op.count", 0)]
    assert all(s.end >= s.start for s in tr.spans)
    tr.unwrap_all()
    Mod.leaf(1)
    assert len(tr.spans) == 3


def test_span_id_from_description():
    assert span_id("sources.sinks.upsert_to_path#12") == 12
    assert span_id("") is None
    assert span_id("no id here") is None
