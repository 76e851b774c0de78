"""Pure arithmetic the benchmark reports with: percentiles, the tail
rule, interval unions and span self time.  No Spark imports, so the
benchmark's own tests exercise these on fixed inputs."""

from __future__ import annotations

import statistics


def quantile(sorted_xs: list[float], p: float) -> float:
    """Linear-interpolated quantile of an ascending list (numpy's
    default "linear" method); ``p`` in [0, 1]."""
    if not sorted_xs:
        raise ValueError("quantile of no samples")
    pos = p * (len(sorted_xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (pos - lo)


def tail(xs: list[float], min_beyond: int = 10) -> tuple[int, float, int]:
    """The highest whole percentile with at least ``min_beyond``
    samples strictly above it.  Returns (percentile, value, samples
    beyond).  With too few samples for any percentile from 99 down to
    50, it falls back to the median and says how many lie beyond."""
    s = sorted(xs)
    for pct in range(99, 49, -1):
        v = quantile(s, pct / 100)
        beyond = sum(1 for x in s if x > v)
        if beyond >= min_beyond:
            return pct, v, beyond
    v = quantile(s, 0.5)
    return 50, v, sum(1 for x in s if x > v)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping
    intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it its
    child spans cover.  ``spans`` holds (id, parent id, start, end)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, parent, t0, t1 in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    return {
        sid: (t1 - t0) - union_length(clipped(children.get(sid, []), t0, t1))
        for sid, _parent, t0, t1 in spans
    }
