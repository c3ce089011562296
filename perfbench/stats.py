"""Summary statistics shared by the benchmark's metrics."""
from __future__ import annotations

import math
import statistics

# percentiles a tail may be reported at, highest first
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail(values, min_beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest ladder percentile that has at
    least ``min_beyond`` samples above it.

    With fewer than ``4 * min_beyond`` samples not even p75 has that
    many beyond it; the tail is then p75 anyway — the maximum of a few
    samples is too unsteady to compare runs by — and callers print the
    sample count next to it.
    """
    n = len(values)
    for q in _TAIL_LADDER:
        if n * (100.0 - q) >= min_beyond * 100.0 - 1e-6:
            return percentile(values, q), q
    return percentile(values, 75.0), 75.0

