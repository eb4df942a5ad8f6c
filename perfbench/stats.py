"""Summary statistics shared by the benchmark and its spread check."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile of ``n`` samples that has at least ten
    samples beyond it (nearest-rank), or None below 11 samples.

    At 100 samples this is p90; at 60, p83; at 33, p66.
    """
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p or None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def relative_iqr(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)`` gives."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
