"""Interval and sample arithmetic behind the benchmark's trace numbers.

Intervals are ``(start, end)`` pairs of seconds with ``start <= end``.
Nothing here touches Spark, so the unit tests run without a session.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

Interval = tuple[float, float]

#: percentiles tried, highest first, by ``summarize``
PERCENTILES = (99.9, 99.0, 90.0)


def union(intervals: Iterable[Interval]) -> list[Interval]:
    """Sorted, disjoint intervals covering the same points."""
    out: list[Interval] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals: Iterable[Interval]) -> float:
    """Measure of the union of ``intervals``."""
    return sum(e - s for s, e in union(intervals))


def subtract(base: Iterable[Interval], cut: Iterable[Interval]) -> list[Interval]:
    """Points of ``base`` not covered by ``cut``, as disjoint intervals."""
    cuts = union(cut)
    out: list[Interval] = []
    for s, e in union(base):
        cur = s
        for cs, ce in cuts:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def contains(intervals: Sequence[Interval], t: float) -> bool:
    """True iff ``t`` lies in one of the half-open ``[start, end)`` intervals."""
    return any(s <= t < e for s, e in intervals)


def self_intervals(span: Interval, children: Iterable[Interval]) -> list[Interval]:
    """A span's own time: its interval minus the ones its children cover."""
    return subtract([span], children)


def idle(window: Sequence[Interval], busy: Iterable[Interval]) -> float:
    """Time in ``window`` not covered by ``busy`` (e.g. driver-only time:
    a span's wall minus the union of the Spark jobs running in it)."""
    return length(subtract(window, busy))


def summarize(samples: Sequence[float]) -> dict[str, float]:
    """Median and sample count, plus the highest percentile in
    ``PERCENTILES`` that has at least ten samples beyond it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs)}
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            # nearest-rank percentile: the smallest sample with at
            # least p% of the samples at or below it
            rank = -(-p * n // 100)
            out[f"p{p:g}"] = xs[int(rank) - 1]
            break
    return out
