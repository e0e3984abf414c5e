"""Percentiles as the benchmark reports them."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int, cap: int = 90) -> int | None:
    """The highest whole percentile, at most ``cap``, that has at least
    ten of ``n`` samples beyond it (nearest-rank). None below 11 samples,
    where no percentile has ten beyond it."""
    if n < 11:
        return None
    return min(cap, 100 * (n - 10) // n)


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    ordered = sorted(values)
    return ordered[max(math.ceil(p * len(ordered) / 100), 1) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else float("nan")
