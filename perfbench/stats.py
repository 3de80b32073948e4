"""Order statistics (stdlib only)."""

from __future__ import annotations

import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sequence")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs, p: float):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sequence")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile whose nearest-rank value leaves at least
    `beyond` of `n` samples strictly above its rank; None when n is too
    small for any percentile above 0 to have that many."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= beyond:
            return p
    return None
