"""Pure helpers: percentile rule, interval arithmetic, span self time."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many operations
#: lie beyond it, so the figure is never one or two outliers
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(samples) -> tuple[float, float, int] | None:
    """``(percentile, value, n)`` for the highest percentile with at least
    ``TAIL_BEYOND`` samples strictly above its rank, or None when fewer
    than ``2 * TAIL_BEYOND`` samples exist. The value is the sample at
    that rank (nearest-rank, no interpolation)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND  # 1-based rank with exactly TAIL_BEYOND above
    pct = math.floor(100.0 * rank / n)
    rank = math.ceil(pct * n / 100.0)
    return float(pct), float(xs[rank - 1]), n


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """Span time minus the time covered by its children, each clipped to
    the span (children may overlap each other: a job inside an operator
    call is counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return max(0.0, (end - start) - union_length(clipped))

