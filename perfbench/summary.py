"""Percentile reporting: a median plus the highest percentile that still has
at least ten samples beyond it, always with the sample count."""

from __future__ import annotations

import statistics

# per mille, so the arithmetic stays in integers: p99.9, p99, p90, p75
PER_MILLE = (999, 990, 900, 750)
MIN_BEYOND = 10


def highest_supported_percentile(n: int) -> float | None:
    """Highest of the PER_MILLE percentiles with at least MIN_BEYOND of
    ``n`` samples above its nearest rank."""
    for pm in PER_MILLE:
        if n - _rank(n, pm) >= MIN_BEYOND:
            return pm / 10
    return None


def _rank(n: int, pm: int) -> int:
    return max(1, -(-pm * n // 1000))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with p% of them at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), round(p * 10)) - 1]


def describe(values) -> dict:
    """{'n', 'p50'[, 'p<q>']} for a list of timings."""
    xs = list(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else float("nan")}
    p = highest_supported_percentile(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out
