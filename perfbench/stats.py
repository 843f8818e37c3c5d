"""Order statistics for latency samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it


def median(xs) -> float | None:
    """Median, or None when there are no samples (an operation failed)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else None


def tail(xs) -> tuple[float | None, float | None, int]:
    """(value, percentile, n) of the highest percentile that has at least
    TAIL_BEYOND samples beyond it. Below 2 * TAIL_BEYOND + 1 samples that
    percentile would sit under the median, so the median is reported
    (percentile 50) and ``n`` says why."""
    s = sorted(xs)
    n = len(s)
    if not n:
        return None, None, 0
    i = n - TAIL_BEYOND - 1
    if i < (n - 1) / 2:
        return median(s), 50.0, n
    return float(s[i]), 100.0 * (i + 1) / n, n
