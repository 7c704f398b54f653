"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only when at least this many samples
#: lie strictly above it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (0 < q < 1) by linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the ``q``-quantile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def supported_tail(values: list[float], q: float) -> bool:
    """True when the ``q``-quantile has at least ``MIN_BEYOND`` samples
    above it, so it is a measured tail rather than a guess at the max."""
    return bool(values) and samples_beyond(values, q) >= MIN_BEYOND


def min_samples_for(q: float) -> int:
    """Smallest count of distinct samples whose ``q``-quantile has
    ``MIN_BEYOND`` samples above it."""
    n = MIN_BEYOND + 1
    while n - 1 - math.floor(q * (n - 1)) < MIN_BEYOND:
        n += 1
    return n


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
