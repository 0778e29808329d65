"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

# a reported tail percentile must have at least this many samples above it
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = MIN_TAIL_SAMPLES) -> float | None:
    """The highest percentile of ``n`` samples that still leaves at least
    ``min_beyond`` samples strictly above it, or None when ``n`` is too
    small for any percentile to qualify.

    With nearest-rank percentiles, p sits at rank ceil(p/100 * n), so
    n - rank samples lie beyond it; the largest p with n - rank >=
    min_beyond is the one at rank n - min_beyond.
    """
    rank = n - min_beyond
    if rank < 1:
        return None
    return 100.0 * rank / n


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    ordered = sorted(values)
    # the epsilon keeps float error in p/100 * n from pushing an exact
    # rank up by one
    rank = max(1, math.ceil(p / 100.0 * len(ordered) - 1e-9))
    return float(ordered[rank - 1])


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile the sample supports."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return p, percentile(values, p)
