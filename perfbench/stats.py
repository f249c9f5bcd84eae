"""Percentiles that always travel with their sample count."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def describe(name: str, values: list[float], unit: str, qs: tuple[int, ...] = (50, 90, 99)) -> str:
    """One printed line: every percentile with ``n=`` beside it."""
    if not values:
        return f"{name}: n=0 (no samples)"
    parts = [f"p{q}={percentile(values, q):.4f} {unit}" for q in qs]
    return f"{name}: " + ", ".join(parts) + f" (n={len(values)})"
