"""Percentiles with the ten-beyond rule."""

from __future__ import annotations

import math

#: a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default), q in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """Samples that lie strictly beyond the q-quantile of n samples."""
    return n - 1 - math.floor(q * (n - 1))


def tail_ok(n: int, q: float) -> bool:
    """True when the q-quantile of n samples has at least MIN_BEYOND
    samples beyond it, so it is a tail estimate and not the maximum."""
    return beyond(n, q) >= MIN_BEYOND
