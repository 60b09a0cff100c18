"""Order statistics shared by the run and the compare command."""

from __future__ import annotations

import math
import statistics

# The tail percentile reported for per-query samples.
TAIL_PCT = 90.0


def tail(values: list[float]) -> tuple[float, float]:
    """Nearest-rank TAIL_PCT percentile of ``values`` and the percentile
    used. A run holds tens of samples, fewer than the ten beyond the
    percentile that make a tail robust; callers print n beside it."""
    if not values:
        return float("nan"), TAIL_PCT
    ordered = sorted(values)
    rank = max(1, math.ceil(TAIL_PCT / 100 * len(ordered)))
    return ordered[rank - 1], TAIL_PCT


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
