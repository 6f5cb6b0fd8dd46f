"""Small statistics helpers shared by the workloads (and their tests)."""

from __future__ import annotations

import math
import statistics

# the tail is the highest percentile with at least this many samples
# strictly beyond it, so it is never read off a handful of outliers
TAIL_BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest integer percentile whose nearest-rank sample leaves at
    least ``beyond`` samples above it (floor(100 * (n - beyond) / n))."""
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    return (100 * (n - beyond)) // n


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float]:
    """(percentile, value) of the tail rule above."""
    p = tail_percentile(len(xs), beyond)
    return p, percentile(xs, p)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(parent: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Parent span length minus the time covered by its child spans,
    counting overlapping children once and clipping them to the
    parent."""
    a, b = parent
    clipped = [(max(a, x), min(b, y)) for x, y in children if min(b, y) > max(a, x)]
    return (b - a) - union_length(clipped)


def lateness(due: list[float], started: list[float]) -> list[float]:
    """How late each scheduled operation started (never negative: an
    open-loop sender waits for the due time, so early is on time)."""
    if len(due) != len(started):
        raise ValueError("one start per due time")
    return [max(0.0, s - d) for d, s in zip(due, started)]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
