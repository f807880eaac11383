"""Percentiles for the benchmark's summaries."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    ordered = sorted(values)
    idx = max(0, math.ceil(pct / 100.0 * len(ordered)) - 1)
    return float(ordered[idx])


def tail_percentile(values: list[float], target: int = 90,
                    min_beyond: int = 10) -> tuple[int, float]:
    """(percentile, value) for a tail latency that the sample can support.

    Reports the highest whole percentile ``p <= target`` that leaves at
    least ``min_beyond`` samples above it, so a p90 is only claimed from
    100 or more samples.  The percentile never drops below the median: with
    fewer than ``2 * min_beyond`` samples the median is reported as p50.
    """
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    p = math.floor(100.0 * (n - min_beyond) / n) if n > min_beyond else 0
    p = max(50, min(target, p))
    return p, median(values) if p == 50 else nearest_rank(values, p)

