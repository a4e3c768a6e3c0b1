"""Order statistics for the benchmark's reported timings."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or ``None`` when fewer than ``MIN_BEYOND``
    samples lie beyond it (p90 needs at least 100 samples)."""
    if not values or samples_beyond(len(values), q) < MIN_BEYOND:
        return None
    return percentile(values, q)


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
