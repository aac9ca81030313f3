"""Pure helpers: percentiles with a sample-count rule, and span self time."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def percentile(values: list[float], p: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``min_beyond`` samples lie beyond it (the sample does not support
    that percentile)."""
    n = len(values)
    if n == 0 or beyond(n, p) < min_beyond:
        return None
    return sorted(values)[max(1, math.ceil(p / 100.0 * n)) - 1]


def highest_supported(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile with at least ``min_beyond`` samples beyond it."""
    for p in range(99, 0, -1):
        if beyond(n, p) >= min_beyond:
            return p
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total time covered by possibly overlapping ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """``{span id: duration − time covered by its direct children}``.

    Children are clipped to their parent's interval and overlapping
    children are counted once (the union of their intervals)."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            [(max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], []) if c["end"] > lo and c["start"] < hi]
        )
        out[s["id"]] = (hi - lo) - covered
    return out

