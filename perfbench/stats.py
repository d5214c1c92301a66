"""Summary statistics used by every workload.

Timings are reported as a median plus a tail: the highest percentile
that still has at least ``MIN_BEYOND`` samples beyond it.  When the
sample is too small for that percentile to lie above the median, the
tail is the maximum (percentile 100).
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``min_beyond`` samples strictly above its rank.

    With n sorted samples, the sample at 1-based rank r has n - r samples
    beyond it, so the highest qualifying rank is n - min_beyond and its
    percentile is 100 * r / n.  Below 2 * min_beyond + 2 samples that
    rank is not above the median's, so the maximum is returned instead,
    as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    r = n - min_beyond
    if r <= (n + 1) // 2:
        return xs[-1], 100.0
    return xs[r - 1], 100.0 * r / n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
