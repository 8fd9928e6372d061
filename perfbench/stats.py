"""Pure arithmetic shared by the workloads, the steadiness mode and the tests."""

from __future__ import annotations

import math
import statistics


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile that leaves at least `min_beyond` of `n`
    samples above it (nearest-rank), or None when even the median does not.
    40 samples give 75; 100 samples give 90."""
    if n <= 0:
        return None
    p = math.floor(100 * (1 - min_beyond / n))
    return p if p >= 50 else None


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(values)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def recall_at_k(found: list[list[int]], truth: list[list[int]]) -> float:
    """Mean over queries of |found ∩ truth| / |truth|."""
    return sum(len(set(f) & set(t)) / len(t) for f, t in zip(found, truth)) / len(truth)


def pair_recall(found: set[tuple[int, int]], planted: set[tuple[int, int]]) -> float:
    """Share of planted pairs present in `found`."""
    return len(found & planted) / len(planted)


def quartile_spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")
