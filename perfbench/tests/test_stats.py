"""The benchmark's pure helpers: percentile rule, interval union, span self
time and ratios. Run with ``python -m pytest perfbench/tests``."""

import pytest

from perfbench.stats import (
    Span,
    highest_supported_quantile,
    percentile,
    ratio,
    self_times,
    union_length,
)


def test_p90_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    assert percentile(values, 0.9) == 90.0  # ranks 91..100 lie beyond
    with pytest.raises(ValueError, match="9 beyond"):
        percentile(values[:99], 0.9)


def test_percentile_is_order_insensitive_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 6  # 30 samples
    assert percentile(values, 0.5) == 3.0
    assert percentile(values, 0.5, min_beyond=0) == percentile(sorted(values), 0.5, min_beyond=0)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 1.0, min_beyond=0)


@pytest.mark.parametrize("n", [20, 21, 26, 50, 99, 100, 250])
def test_highest_supported_quantile_is_accepted_and_maximal(n):
    values = list(range(n))
    q = highest_supported_quantile(n)
    assert q is not None and 0.5 <= q <= 0.9
    percentile(values, q)  # accepted
    if q < 0.9:  # one rank higher leaves fewer than ten beyond
        with pytest.raises(ValueError):
            percentile(values, q + 1.0 / n)


def test_no_supported_quantile_for_small_samples():
    assert highest_supported_quantile(19) is None
    assert highest_supported_quantile(0) is None


def test_union_merges_overlaps_and_ignores_empty_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_length([(5, 6), (0, 1), (1, 2)]) == 3.0  # touching, unsorted
    assert union_length([(3, 3), (4, 2)]) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "fetch", 1.0, 5.0, 0, "a"),
        Span(2, "fsio", 4.0, 6.0, 0, "a"),  # overlaps its sibling
        Span(3, "fsio", 2.0, 3.0, 1, "a"),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 5.0)
    assert st["fetch"] == pytest.approx(4.0 - 1.0)
    assert st["fsio"] == pytest.approx(2.0 + 1.0)


def test_ratio_refuses_an_empty_base():
    assert ratio(3.0, 2.0) == 1.5
    with pytest.raises(ValueError):
        ratio(1.0, 0.0)
