"""Summary statistics the benchmark reports: medians, tail percentiles and
the run-to-run quartile spread.

A timing is reported as its median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, chosen from a fixed ladder so
metric names stay stable between runs.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
PERCENTILE_LADDER = (50, 75, 90, 95, 99, 99.9)


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest ladder percentile with at least ``min_beyond`` of ``n``
    samples strictly beyond its nearest rank; None when even the median
    has too few."""
    best = None
    for p in PERCENTILE_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = p
    return best


def samples_needed(p: float, min_beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which percentile ``p`` has ``min_beyond`` beyond."""
    n = min_beyond + 1
    while n - max(1, math.ceil(p / 100.0 * n)) < min_beyond:
        n += 1
    return n


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, _, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / median(values)
