"""Summary statistics used by every metric the benchmark reports."""

from __future__ import annotations

import math

import numpy as np

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    return float(np.percentile(values, p))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it; 50 when only the median qualifies."""
    for p in TAIL_CANDIDATES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            return p
    return 50.0


def tail(values: list[float]) -> dict:
    """``{"value", "pct", "n"}``: the tail percentile of ``values``;
    ``value`` and ``pct`` are ``None`` when the samples support no
    percentile above the median (fewer than 40)."""
    p = tail_percentile(len(values))
    if p == 50.0:
        return {"value": None, "pct": None, "n": len(values)}
    return {"value": percentile(values, p), "pct": p, "n": len(values)}


def failed_frac(calls: list[dict], bad_keys: set[str]) -> tuple[int, int]:
    """``(failed, attempted)`` over timed calls: a call fails when it raised
    or when its key's output failed verification."""
    failed = sum(1 for c in calls if c.get("error") or c["key"] in bad_keys)
    return failed, len(calls)
