"""Percentile rule shared by every timing the benchmark reports.

A timing is reported as a median plus the highest percentile that has at
least ``MIN_BEYOND`` samples above it, so a tail figure is never read off
two or three samples."""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank pth."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of TAIL_CANDIDATES with at least
    MIN_BEYOND samples beyond it; None when even the median lacks them."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50)
