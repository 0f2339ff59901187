"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie beyond
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank p-th percentile (0 < p < 100) of `samples`."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of `n` samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reportable(samples: list[float], ps=(50, 75, 90, 95, 99)) -> dict:
    """{"p<p>": value} for each percentile with >= MIN_BEYOND samples beyond
    it; percentiles the sample count cannot support are left out."""
    n = len(samples)
    return {
        f"p{p}": percentile(samples, p)
        for p in ps if n and beyond(n, p) >= MIN_BEYOND
    }


def median(samples) -> float:
    """Median of an iterable of numbers."""
    return statistics.median(samples)


def floor_mean(groups: dict[str, list[float]]) -> float:
    """Mean over groups of each group's smallest sample.  Contention from
    other work on the host only adds time, so the fastest sample of each
    kind of operation moves with the program far more than with the host."""
    if not groups or not all(groups.values()):
        raise ValueError("floor of an empty group")
    return statistics.mean(min(xs) for xs in groups.values())
