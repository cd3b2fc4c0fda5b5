"""Small statistics helpers shared by the workloads and the self-tests."""

from __future__ import annotations

import bisect
import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """A percentile ``q`` (0..1) is reported only when at least ``beyond``
    samples lie above it."""
    return n - _rank(n, q) >= beyond


def _rank(n: int, q: float) -> int:
    """1-based nearest-rank position of percentile ``q`` among ``n``."""
    return max(1, math.ceil(q * n - 1e-9))


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when the tail is too thin."""
    if not values or not tail_supported(len(values), q):
        return None
    ordered = sorted(values)
    return float(ordered[_rank(len(ordered), q) - 1])


def freshness(
    scheduled: list[float], landed: list[float], cycles: list[tuple[float, float]]
) -> list[float]:
    """Per file: end of the first engine cycle that *started* at or after the
    file landed, minus the file's scheduled landing time.

    ``cycles`` are (start, end) pairs in start order.  A file that no cycle
    started after has no freshness yet and is left out."""
    starts = [s for s, _ in cycles]
    out = []
    for due, at in zip(scheduled, landed):
        i = bisect.bisect_left(starts, at)
        if i < len(cycles):
            out.append(cycles[i][1] - due)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
