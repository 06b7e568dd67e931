"""Percentiles, recall and run-to-run spread for perfbench results."""

from __future__ import annotations

import math
import statistics
from typing import Sequence


def rank(n: int, p: float) -> int:
    """1-based nearest-rank index of the ``p``-th percentile of ``n``
    samples."""
    if n < 1:
        raise ValueError("no samples")
    return max(1, math.ceil(p / 100.0 * n))


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile."""
    return n - rank(n, p)


def percentile(samples: Sequence[float], p: float) -> float:
    xs = sorted(samples)
    return xs[rank(len(xs), p) - 1]


def windowed_rate(latencies: Sequence[float], windows: int = 10) -> float:
    """Calls per second of one closed-loop client: the median, over
    ``windows`` runs of consecutive calls, of calls / time spent in
    them. A stall of a few calls moves one window, not the result."""
    n = len(latencies)
    if n < windows:
        raise ValueError(f"{n} calls for {windows} windows")
    bounds = [n * i // windows for i in range(windows + 1)]
    return statistics.median(
        (hi - lo) / sum(latencies[lo:hi]) for lo, hi in zip(bounds, bounds[1:]))


def recall_at_k(got: Sequence[Sequence[int]], truth: Sequence[Sequence[int]],
                k: int = 10) -> float:
    """Mean over queries of |returned ids among the first k ∩ true top-k|
    / k. A query that returned nothing scores 0."""
    if len(got) != len(truth):
        raise ValueError("got and truth differ in length")
    if not got:
        raise ValueError("no queries")
    hits = sum(len(set(list(g)[:k]) & set(list(t)[:k])) for g, t in zip(got, truth))
    return hits / (k * len(got))


def spread(values: Sequence[float]) -> float:
    """Interquartile distance as a share of the median, the way
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")
