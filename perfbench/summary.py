"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: samples a reported tail percentile must leave beyond it
TAIL_BEYOND = 10


def p50(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it,
    by nearest rank: ``(value, percentile, n)``. With ``n`` samples that
    is the ``n - beyond``-th smallest, the ``100 (n - beyond) / n``-th
    percentile. Too few samples give ``(nan, nan, n)``."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return float("nan"), float("nan"), n
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n
