"""Small statistics helpers shared by the runner and the spread check."""

from __future__ import annotations

import math
import statistics

# percentiles the tail rule may pick, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first: 99.9 * 10000 / 100 is 9990.000000000002 in floats
    return math.ceil(round(p * n, 6) / 100.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, _rank(p, len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile of TAIL_LADDER with at least
    TAIL_MIN_BEYOND samples beyond it, as (value, label).

    A percentile p leaves n - ceil(p/100 * n) samples above its rank.
    When even p50 leaves fewer than TAIL_MIN_BEYOND (n < 20), no
    percentile qualifies and the tail is the sample maximum, labelled
    "max"; the caller records the sample count next to the label."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of an empty sample")
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return percentile(values, p), f"p{p:g}"
    return max(values), "max"


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
