"""Percentile helper: nearest rank and the highest percentile a sample supports."""

import pytest

from perfbench import stats


def test_nearest_rank_percentile():
    values = list(range(100, 0, -1))  # unsorted input
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 99) == 99
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([5.0, 1.0, 3.0], 50) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [
        (1000, 99.0),   # exactly 10 samples beyond p99
        (999, 98.0),    # p99 would leave only 9 beyond
        (9_999, 99.0),   # p99.9 would leave only 9 beyond
        (10_000, 99.9),
        (200, 95.0),
        (100, 90.0),
        (20, 50.0),
        (19, None),     # not even the median has 10 beyond it
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = stats.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert stats.beyond(p, n) >= stats.MIN_BEYOND


def test_slope_and_median():
    assert stats.slope([0, 1, 2, 3], [5, 7, 9, 11]) == pytest.approx(2.0)
    assert stats.slope([1, 1], [0, 5]) == 0.0
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
