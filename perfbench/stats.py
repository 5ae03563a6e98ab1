"""Summary statistics for benchmark timings."""

from __future__ import annotations

import math
import statistics

# Percentiles above the median that a report may use, low to high.
TAIL_PERCENTILES = (90.0, 95.0, 99.0, 99.9)


def highest_tail_percentile(n_samples: int) -> float | None:
    """The highest percentile in ``TAIL_PERCENTILES`` that leaves at
    least ten of ``n_samples`` beyond it, or None when none does (a
    run then reports the median alone)."""
    best = None
    for p in TAIL_PERCENTILES:
        if n_samples * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, math.ceil(len(ordered) * p / 100.0))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
