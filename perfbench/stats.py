"""Pure summary arithmetic for the benchmark (no Spark): medians, the
tail-percentile rule, throughput and failure accounting."""

from __future__ import annotations

import math
import statistics

# percentiles a tail may report, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return float(s[_rank(p, len(s)) - 1])


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest ladder percentile that leaves at
    least ``MIN_BEYOND`` samples strictly above its rank. With too few
    samples for any ladder step the median is returned, marked as p50."""
    n = len(xs)
    best = 50.0
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return percentile(xs, best), best


def per_second(units: int, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError(f"non-positive op time {seconds}")
    return units / seconds


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted

