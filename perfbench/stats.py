"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile of ``n`` samples that leaves at
    least ``TAIL_MIN_BEYOND`` samples above it, or None when that
    percentile would not lie above the median (fewer than
    ``2 * TAIL_MIN_BEYOND`` samples): a "tail" under the median is no
    tail."""
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    return math.floor(100 * (n - TAIL_MIN_BEYOND) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, or None."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values)
