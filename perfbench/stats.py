"""Latency statistics used by the benchmark: percentiles with a tail-sample
floor, medians, and the rate-ladder capacity search."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(values, q: float = 99.0, min_beyond: int = 10) -> tuple[float, float]:
    """The q-th percentile if at least ``min_beyond`` samples lie beyond it,
    else the highest percentile that keeps ``min_beyond`` samples beyond it.
    Returns (percentile used, value)."""
    n = len(values)
    if n <= min_beyond:
        raise ValueError(f"need more than {min_beyond} samples, got {n}")
    q_max = 100.0 * (1.0 - min_beyond / n)
    q_used = min(q, q_max)
    return q_used, percentile(values, q_used)


def ladder(r0: float, step: float, n: int) -> list[float]:
    """The fixed geometric rate ladder r0 * step**k, k = 0..n-1."""
    return [r0 * step**k for k in range(n)]


def step_ok(offered: int, completed: int, lat_ms, limit_ms: float,
            backlog_ms: float) -> bool:
    """One ladder step holds when every offered request completed, the
    step's p90 latency stays under the limit and the backlog (how late the
    last request finished past its schedule) did not grow past the limit."""
    if completed < offered or not lat_ms:
        return False
    return percentile(lat_ms, 90.0) < limit_ms and backlog_ms < limit_ms


def max_passing_rate(results: list[tuple[float, bool]]) -> float:
    """Highest rate of the ladder prefix that passes: the ladder is walked
    upwards and stops at the first failing step."""
    best = 0.0
    for rate, ok in sorted(results):
        if not ok:
            break
        best = rate
    return best
