"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile that still has at least ten samples
    beyond it (p89 for 96 samples), or None below 11 samples."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]
