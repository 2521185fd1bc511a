"""Exact-sample percentiles (a single process has nothing to merge, so
no sketch is needed)."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile of ``values``, or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it (p90 needs at least 100)."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]
