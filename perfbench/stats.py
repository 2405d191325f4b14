"""Order statistics the benchmark reports: medians and a tail percentile
chosen by sample count."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has
    TAIL_BEYOND samples above it, never below the median.

    With n sorted samples the value at 0-based rank n - 1 - TAIL_BEYOND
    has exactly TAIL_BEYOND samples beyond it, i.e. it is the
    100 * (n - TAIL_BEYOND) / n percentile. When fewer than TAIL_BEYOND
    samples lie beyond the median (n < 2 * TAIL_BEYOND + 1) the median
    is the highest percentile the sample supports, so it is returned as
    the tail with percentile 50."""
    if not values:
        raise ValueError("tail() of an empty sample")
    xs = sorted(values)
    n = len(xs)
    rank = n - 1 - TAIL_BEYOND
    pct = 100.0 * (n - TAIL_BEYOND) / n
    if rank < 0 or pct <= 50.0:
        return 50.0, median(xs)
    return pct, float(xs[rank])
