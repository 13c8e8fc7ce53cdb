"""Small statistics helpers for the benchmark: medians, tail percentiles
that refuse to report on too few samples, geometric means, run-to-run
spread, and interval arithmetic for layer self time."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]), the same
    definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(values, threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def tail_percentile(values, q: float, min_beyond: int = 10) -> float | None:
    """The ``q``-th percentile, or None unless at least ``min_beyond``
    samples lie strictly above it: a p90 read off 20 samples rests on
    two points and is not reported."""
    values = list(values)
    if not values:
        return None
    p = percentile(values, q)
    return p if samples_beyond(values, p) >= min_beyond else None


def geomean(values) -> float:
    values = list(values)
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, covered) -> float:
    """Length of [start, end] not covered by any of ``covered`` (child
    spans and Spark job intervals), each clipped to the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in covered]
    return (end - start) - union_length(clipped)
