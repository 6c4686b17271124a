"""The benchmark's own arithmetic: percentiles, interval unions, spreads.

Pure functions over plain numbers so they can be tested without Spark.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a percentile.
MIN_BEYOND = 10


def tail_percentile(xs: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` percentile (0 < q < 1), or None unless at least
    ``MIN_BEYOND`` samples lie strictly above its rank."""
    if not 0 < q < 1:
        raise ValueError(f"percentile {q} outside (0, 1)")
    n = len(xs)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.

    Overlapping job intervals (concurrent jobs) count once, so
    ``(hi - lo) - union_length(...)`` is the time no job was running.
    """
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def gap_s(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Driver gap: wall time of ``[start, end]`` during which no Spark job
    ran (planning, Py4J round trips, Python-side work between jobs)."""
    return (end - start) - union_length(jobs, start, end)


def quartile_spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the median
    (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
