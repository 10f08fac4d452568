"""Percentiles of the benchmark: nearest rank over a fixed ladder."""

from __future__ import annotations

import math
from fractions import Fraction

# percentiles a timing may be reported at, from the median upwards
LADDER = (50.0, 60.0, 70.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def tail_percentile(n: int, ladder=LADDER) -> float:
    """Highest percentile of ``ladder`` with at least 10 of ``n``
    samples beyond it; the median if none qualifies."""
    best = ladder[0]
    for p in ladder:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def min_samples(p: float) -> int:
    """Fewest samples that leave at least 10 beyond percentile ``p``."""
    n = 10
    while n - _rank(p, n) < 10:
        n += 1
    return n


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(p, len(xs)) - 1]
