"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: Samples that must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def nearest_rank(sorted_vals: list[float], pct: int) -> float:
    """The ``pct``-th percentile by nearest rank (a value that was seen)."""
    k = max(math.ceil(pct / 100 * len(sorted_vals)), 1)
    return sorted_vals[k - 1]


def tail(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile above 50 that has at least
    ``TAIL_BEYOND`` samples beyond it, and its value.

    With too few samples for any such percentile, the median is the tail."""
    vals = sorted(values)
    n = len(vals)
    for pct in range(99, 50, -1):
        if n - max(math.ceil(pct / 100 * n), 1) >= TAIL_BEYOND:
            return pct, nearest_rank(vals, pct)
    return 50, statistics.median(vals)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
