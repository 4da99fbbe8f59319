"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# candidate percentile levels, highest first
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    return float(statistics.median(values))


def _rank(n: int, pct: float) -> int:
    # round first: 99.9 / 100 * 10_000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values, pct: float) -> float:
    """The nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    return float(xs[_rank(len(xs), pct) - 1])


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``
    percentile."""
    return n - _rank(n, pct)


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float] | None:
    """(level, value) of the highest percentile in TAIL_LEVELS that
    still has at least ``min_beyond`` samples beyond it, or None when
    even the median does not (fewer than 2 * min_beyond samples)."""
    n = len(values)
    for pct in TAIL_LEVELS:
        if samples_beyond(n, pct) >= min_beyond:
            return pct, nearest_rank(values, pct)
    return None
