"""Small order statistics shared by the workloads."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(p, value): the highest of p90/p75/p50 that has at least ten samples
    above it, or (0.5, median) when even p50 has fewer."""
    xs = sorted(xs)
    for p in (0.9, 0.75, 0.5):
        k = int(p * len(xs))
        if len(xs) - k - 1 >= 10:
            return p, xs[k]
    return 0.5, median(xs)
