"""Summary statistics shared by the runner and the steadiness mode."""

from __future__ import annotations

import math
import statistics

# samples a tail percentile must leave above it (the percentile rule)
BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``BEYOND`` of ``n``
    samples above it (n * (100 - p) / 100 >= BEYOND), or None when
    ``n`` is too small for any."""
    if n < BEYOND:
        return None
    return math.floor(100 - 100 * BEYOND / n)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the acceptance check
    computes them, with ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else math.inf
