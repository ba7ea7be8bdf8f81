"""Latency summaries: the median and the tail percentile rule."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of ascending ``sorted_values``; returns the
    value and how many samples lie strictly after its rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values: list[float]) -> dict:
    """The highest ladder percentile that still has at least ``MIN_BEYOND``
    samples beyond it. With too few samples for any rung (fewer than 20)
    the tail is the maximum, and the record says so."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    for pct in TAIL_LADDER:
        v, beyond = nearest_rank(s, pct)
        if beyond >= MIN_BEYOND:
            return {"value": v, "percentile": pct, "beyond": beyond,
                    "samples": len(s), "rule": f"p{pct:g}"}
    return {"value": s[-1], "percentile": 100.0, "beyond": 0,
            "samples": len(s), "rule": "max (fewer than 20 samples)"}
