"""Statistics helpers for the benchmark's reported metrics."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean, over query kinds, of each kind's median latency.

    A median per kind first keeps the result from jumping between the
    latency clusters of different kinds as their sample counts shift."""
    return geomean([statistics.median(v) for v in latencies.values() if v])


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples strictly above it in rank.

    With ``n`` samples sorted ascending that is the sample at 0-based rank
    ``n - beyond - 1``, the ``100 * (n - beyond) / n`` percentile."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    rank = n - beyond - 1
    return sorted(samples)[rank], 100.0 * (rank + 1) / n


def failed_share(failed: int, attempted: int) -> float:
    """Failed or wrong-result operations over operations attempted."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: failed={failed} attempted={attempted}")
    return failed / attempted
