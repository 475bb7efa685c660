"""Order statistics used by the run and the report."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest percentile of ``n`` samples with at least ``beyond``
    samples above it, and never below the median: under ``2 * beyond``
    samples no tail percentile has that many above it, and 50 is used."""
    return max(50.0, 100.0 * (n - beyond) / n)


def percentile(xs: list[float], pct: float) -> float:
    """The sample at rank ceil(pct% of n): for ``tail_percentile(len(xs))``
    exactly ``beyond`` samples lie above it."""
    s = sorted(xs)
    k = max(1, math.ceil(round(pct * len(s) / 100.0, 9)))
    return s[k - 1]
