"""Summary statistics with the percentile rule of the benchmark."""

from __future__ import annotations

import math
import statistics

#: samples a tail percentile needs beyond it before it is reported
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float], q: float) -> float | None:
    """The ``q`` quantile (nearest rank) when at least ``MIN_BEYOND``
    samples lie beyond it, else None; with fewer samples a "tail" is the
    max or close to it."""
    n = len(xs)
    rank = math.ceil(q * n)  # 1-based nearest rank
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return float(sorted(xs)[rank - 1])
