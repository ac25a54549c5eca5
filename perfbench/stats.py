"""Order statistics used by the benchmark's metrics and spread checks."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def median(values: Iterable[float]) -> float:
    """Median of a non-empty sample (mean of the two middle values for an
    even count)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    if len(xs) % 2:
        return float(xs[mid])
    return (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values. Used to fold per-type medians
    into one figure in which a given relative change of any one type
    moves the result by the same amount, whatever that type's size."""
    xs = list(values)
    if not xs:
        raise ValueError("geomean of an empty sample")
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    `statistics.quantiles(values, n=4)` (the "exclusive" method)."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
