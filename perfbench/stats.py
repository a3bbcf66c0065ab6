"""Summary statistics used by the benchmark: medians, the tail-percentile
rule and interval unions."""

from __future__ import annotations

import statistics

# a reported tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(percentile, value)``: ``value`` is the k-th smallest sample
    with k = n - TAIL_BEYOND, so exactly ``TAIL_BEYOND`` samples lie beyond
    it, and ``percentile = 100 * k / n``. Returns None when there are too
    few samples for any percentile to qualify (n <= TAIL_BEYOND).
    """
    n = len(values)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    ordered = sorted(values)
    return 100.0 * k / n, float(ordered[k - 1])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out
