"""Reductions shared by the run and the steadiness command: the
tail-percentile rule, percentiles and quartile spreads."""

from __future__ import annotations

import statistics

import numpy as np

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest ladder percentile with at least ``beyond`` of ``n``
    samples above it; the median when ``n`` is too small for any."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 100.0 * beyond - 1e-6:  # float-safe
            return p
    return 50.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (NumPy's default); NaN when empty."""
    if len(values) == 0:
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def spread(values) -> tuple[float, float, float, float]:
    """``(q1, median, q3, (q3 - q1) / median)`` as ``statistics.quantiles``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")
