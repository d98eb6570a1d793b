"""Summary statistics for job timings."""

from __future__ import annotations

import statistics
from collections.abc import Sequence

#: a tail percentile is reported only where this many samples lie beyond it
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float], min_beyond: int = MIN_BEYOND) -> dict:
    """The highest percentile that has at least ``min_beyond`` samples
    strictly beyond it: the order statistic with exactly ``min_beyond``
    larger samples, at percentile ``100 * (n - min_beyond) / n``.

    When fewer than ``2 * min_beyond`` samples exist that percentile would
    sit below the median, so the median is reported instead; ``beyond``
    then records how many samples lie above it (fewer than ``min_beyond``).
    """
    if not values:
        raise ValueError("tail() needs at least one sample")
    xs = sorted(values)
    n = len(xs)
    if n >= 2 * min_beyond:
        idx = n - min_beyond - 1  # 0-based: exactly min_beyond samples after it
        return {"value": float(xs[idx]), "pct": 100.0 * (idx + 1) / n, "beyond": min_beyond, "n": n}
    med = median(xs)
    return {"value": med, "pct": 50.0, "beyond": sum(1 for x in xs if x > med), "n": n}
