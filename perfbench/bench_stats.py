"""Summary statistics the benchmark reports: median, quartile spread and
geometric mean. Kept free of Spark so the maths is testable on its own."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) exactly as ``statistics.quantiles(values, n=4)``
    gives them (the 'exclusive' method); needs at least two values."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median — the figure the
    benchmark's bounds are compared against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values, so one large term cannot swamp a
    change in the small ones."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
