"""Summary statistics with the benchmark's percentile rule.

A tail percentile (above the median) is reported only when at least ten
samples lie beyond it, so p90 needs 100 samples and p99 needs 1000.
The median is always reported, together with its sample count.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile of ``samples`` (``pct`` in 0..100)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def median(samples: list[float]) -> float:
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def reportable(n: int, pct: float) -> bool:
    """The percentile rule: the median needs one sample, a tail
    percentile needs at least ``MIN_BEYOND`` samples beyond it."""
    if pct <= 50:
        return n >= 1
    return beyond(n, pct) >= MIN_BEYOND


def tail(samples: list[float], pct: float) -> float | None:
    """``percentile`` when the rule allows it, else None."""
    return percentile(samples, pct) if reportable(len(samples), pct) else None


def min_samples(pct: float) -> int:
    """Smallest sample count for which ``pct`` is reportable."""
    n = 1
    while not reportable(n, pct):
        n += 1
    return n
