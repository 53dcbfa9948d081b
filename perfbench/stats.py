"""Latency summaries: median and the tail percentile rule."""

from __future__ import annotations

import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``.  With ``n`` sorted samples the
    percentile ``p = 100 * (n - beyond) / n`` leaves exactly ``beyond``
    samples strictly after its rank, and the value is the sample at that
    rank (``xs[n - beyond - 1]``).  With ``beyond`` or fewer samples no
    percentile qualifies; the rule then falls back to the maximum and
    reports ``p = 100``, so the caller can print which rule applied."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("no samples")
    return statistics.median(samples)
