"""Small statistics helpers for the benchmark's figures."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (the 50th is the median)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10, floor: int = 50) -> int:
    """The highest whole percentile, at most 99, with at least
    ``min_beyond`` of ``n`` samples above it. Runs too short to support
    any percentile above ``floor`` report ``floor``."""
    for p in range(99, floor, -1):
        if n - 1 - math.floor((n - 1) * p / 100.0) >= min_beyond:
            return p
    return floor


def median(values: list[float]) -> float:
    return percentile(values, 50)


def drift(values: list[float]) -> float:
    """Median of the last quarter of a run over the median of its first
    quarter (1.0 = no drift). A leak across operations reads above 1."""
    if not values:
        return 1.0
    q = max(1, len(values) // 4)
    return median(values[-q:]) / median(values[:q])
