"""Order statistics used by the benchmark and the compare command."""

from __future__ import annotations


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method); 0.0 when empty."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs) -> float:
    return quantile(xs, 0.5)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
