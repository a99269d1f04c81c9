"""Span nesting, self time and the layer wrappers."""

import sys
import types

import pytest

from perfbench.spans import Span, Tracer, patched, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_self_time_on_a_synthetic_tree():
    spans = [
        Span(0, "job", None, 0.0, 10.0),
        Span(1, "construct", 0, 1.0, 4.0),
        Span(2, "spark.job", 0, 3.0, 6.0),  # overlaps construct: counted once
        Span(3, "sources.readers", 1, 2.0, 3.0),
        Span(4, "spark.stage", 2, 2.5, 7.0),  # sticks out of its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(0.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.5)


def test_tracer_nests_and_reports_the_current_span():
    t = Tracer()
    seen = []
    t.on_current = seen.append
    with t.span("pass"):
        with t.span("job", job="q") as job:
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert job.attrs == {"job": "q"} and job.end >= job.start
    assert seen == [0, 1, 0, None]


def test_patched_wraps_every_reference_and_restores_them():
    def read_table(x):
        return x * 2

    owner = types.ModuleType("pkg_under_test.readers")
    owner.read_table = read_table
    user = types.ModuleType("pkg_under_test.queries")
    user.read_table = read_table
    sys.modules[owner.__name__], sys.modules[user.__name__] = owner, user
    try:
        t = Tracer()
        with patched(t, [("sources.readers", owner, "read_table")], "pkg_under_test"):
            assert user.read_table(3) == 6
            assert owner.read_table(4) == 8
        assert [s.name for s in t.spans] == ["sources.readers", "sources.readers"]
        assert owner.read_table is read_table and user.read_table is read_table
    finally:
        del sys.modules[owner.__name__], sys.modules[user.__name__]


def test_trace_overhead_cancels_the_warm_up_trend():
    from perfbench.report import trace_overhead_s

    walls = [(5.0, False), (4.2, True), (3.0, False), (2.9, True), (2.6, False)]
    passes = [Span(i, "pass", None, 0.0, w, {"wall_s": w, "traced": t})
              for i, (w, t) in enumerate(walls)]
    # 4.2 - (5.0 + 3.0) / 2 = 0.2 and 2.9 - (3.0 + 2.6) / 2 = 0.1
    assert trace_overhead_s(passes) == pytest.approx(0.15)
