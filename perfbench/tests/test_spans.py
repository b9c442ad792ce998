"""Self-time arithmetic and the tail-percentile rule."""

import math

import pytest

from spans import Span, Tracer, nearest_rank, self_times, tail_percentile


def tree(*spans):
    """Spans from (start, end, parent) triples."""
    return [Span(f"s{i}", "test", a, b, p) for i, (a, b, p) in enumerate(spans)]


def test_self_time_is_duration_minus_children():
    own = self_times(tree((0, 10, None), (1, 3, 0), (5, 9, 0)))
    assert own == pytest.approx([4, 2, 4])


def test_self_time_nested():
    own = self_times(tree((0, 10, None), (2, 8, 0), (3, 5, 1)))
    assert own == pytest.approx([4, 4, 2])


def test_children_are_clipped_to_their_parent():
    # A Spark job stamped a little before the span that submitted it.
    own = self_times(tree((0, 10, None), (2, 6, 0), (1, 8, 1)))
    assert own == pytest.approx([6, 0, 4])


def test_overlapping_siblings_share_the_overlap():
    # Two concurrent jobs under one consume call.
    own = self_times(tree((0, 10, None), (2, 6, 0), (4, 8, 0)))
    assert own == pytest.approx([4, 3, 3])


def test_self_times_sum_to_the_roots():
    spans = tree((0, 10, None), (1, 4, 0), (2, 9, 0), (3, 3.5, 2), (3.2, 8, 2), (12, 15, None), (13, 20, 5))
    assert sum(self_times(spans)) == pytest.approx(10 + 3)


def test_zero_length_span_has_no_self_time():
    assert self_times(tree((0, 2, None), (1, 1, 0))) == pytest.approx([2, 0])


def test_tracer_nests_spans_and_finds_innermost():
    t = Tracer()
    with t.span("op", "bench.op"):
        with t.span("builder", "catalog.builder") as b:
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.subtree(0) == [0, 1]
    assert t.innermost(b.start, [0, 1]) == 1
    assert t.innermost(b.end + 1, [0, 1]) is None
    assert not math.isnan(t.spans[0].end)


@pytest.mark.parametrize("n, p", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_tail_leaves_at_least_ten_samples_above_it():
    for n in range(1, 3000, 7):
        p = tail_percentile(n)
        if p is not None:
            values = list(range(n))
            assert sum(v > nearest_rank(values, p) for v in values) >= 10


def test_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(values, 50) == 3.0
    assert nearest_rank(values, 80) == 4.0
    assert nearest_rank(values, 100) == 5.0
