"""Small, dependency-free statistics used by the benchmark.

Percentiles use the nearest-rank definition: the p-th percentile of n sorted
samples is the sample at 1-based rank ceil(p/100 * n). Nothing is
interpolated, so a reported percentile is always a value that was measured.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

# Percentiles tried, highest first, when picking the tail percentile a sample
# supports.
PERCENTILE_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, one outlier decides the value.
MIN_BEYOND = 10


def rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, min(n, math.ceil(p / 100.0 * n - 1e-9)))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank p-th percentile of `values` (need not be sorted)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    return ordered[rank(p, len(ordered)) - 1]


def beyond(p: float, n: int) -> int:
    """How many of n samples lie above the p-th percentile's rank."""
    return n - rank(p, n)


def tail_percentile(n: int) -> float | None:
    """Highest percentile on PERCENTILE_LADDER with at least MIN_BEYOND of n
    samples beyond it; None when even the median lacks them."""
    for p in PERCENTILE_LADDER:
        if beyond(p, n) >= MIN_BEYOND:
            return p
    return None


def median(values: Sequence[float]) -> float:
    """Median (mean of the middle two for an even count)."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def slope(xs: Sequence[float], ys: Sequence[float]) -> float:
    """Least-squares slope of ys over xs; 0.0 when xs has no spread."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
