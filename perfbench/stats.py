"""Small statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the number of
    samples strictly beyond it, so a report can say how many samples the
    tail rests on."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"q must be in (0, 100], got {q}")
    xs = sorted(values)
    v = xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]
    return v, sum(1 for x in xs if x > v)


def quartile_spread(values) -> float:
    """Interquartile distance as a share of the median (the stability figure
    the benchmark is tuned against)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def scaling_efficiency(rows: int, seconds_at_1: float, seconds_at_n: float, n: int = 4) -> float:
    """(rows/s at n task threads ÷ rows/s at 1) ÷ n; 1.0 is linear scaling."""
    if seconds_at_1 <= 0 or seconds_at_n <= 0 or rows <= 0:
        raise ValueError("rows and both times must be positive")
    return (rows / seconds_at_n) / (rows / seconds_at_1) / n
