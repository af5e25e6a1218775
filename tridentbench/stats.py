"""Summary statistics for latency samples."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], pct: float) -> int:
    """Index of the ``pct`` percentile by the nearest-rank rule."""
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in binary floating point
    return max(0, math.ceil(round(pct * len(sorted_xs) / 100.0, 9)) - 1)


def tail(xs: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ``MIN_BEYOND`` samples above it.

    Returns ``(value, label, n)``. Fewer than ``2 * MIN_BEYOND`` samples
    support no percentile, not even the median; the maximum is returned then,
    labelled ``"max"``, so the caller can tell an estimate from a bare extreme.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in TAIL_PERCENTILES:
        k = nearest_rank(s, p)
        if n - 1 - k >= MIN_BEYOND:
            return float(s[k]), f"p{p:g}", n
    return float(s[-1]), "max", n
