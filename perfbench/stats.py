"""Summary statistics the benchmark reports (pure stdlib, no Spark)."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values):
    return statistics.median(values) if values else float("nan")


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile p whose nearest-rank value has at least
    ``beyond`` samples above it in a sample of ``n``; None when n is too
    small for any percentile to qualify."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def nearest_rank(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        return float("nan")
    rank = max(math.ceil(p / 100.0 * len(s)), 1)
    return s[rank - 1]


def prefix_self_times(prefix_medians: list[float]) -> list[float]:
    """Self time of each stage of a pipeline timed as growing prefixes.

    ``prefix_medians[i]`` is the median time of the pipeline cut after
    stage i (the last entry is the whole pipeline); stage i's self time
    is the difference to the previous prefix."""
    out, prev = [], 0.0
    for t in prefix_medians:
        out.append(t - prev)
        prev = t
    return out


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
