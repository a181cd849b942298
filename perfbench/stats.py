"""Order statistics shared by the benchmark and its diff tool."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.  The reported tail is the
# highest one that still has at least TAIL_MIN_BEYOND samples above it,
# so a small run never reports a "p99" that is really its maximum.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # round first so 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with p % at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """Number of samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND samples beyond it.

    Returns None when n is too small for any percentile on the ladder.
    """
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            return p
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def best_pass_s(passes: list[dict[str, float]]) -> float:
    """Sum over queries of each query's smallest latency across passes.

    ``passes`` maps query name to latency, one dict per pass; a query
    missing from a pass (it failed there) counts with the passes it has.
    """
    best: dict[str, float] = {}
    for latency in passes:
        for query, seconds in latency.items():
            best[query] = min(seconds, best.get(query, seconds))
    return sum(best.values())
