"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ten of ``n`` samples
    above it, or None when even the median has fewer than ten."""
    for pct in TAIL_CANDIDATES:
        rank = max(1, math.ceil(pct / 100 * n))
        if n - rank >= 10:
            return pct
    return None
