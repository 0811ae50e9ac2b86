"""Summary statistics and metric-name rules shared by the runner and the
steadiness mode."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """Metric/workload names: a letter or digit, then letters, digits,
    ``_``, ``.`` and ``-``; at most 64 characters."""
    return NAME_RE.fullmatch(name) is not None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float, beyond: int = 10) -> bool:
    """True iff a q-th percentile of n samples has at least `beyond`
    samples above it."""
    return n - math.ceil(n * q / 100.0) >= beyond


def highest_supported(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0), beyond: int = 10):
    """The highest candidate percentile with >= `beyond` samples above it,
    or None when even the median is unsupported."""
    for q in candidates:
        if supported(n, q, beyond):
            return q
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """(q3 - q1) / median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
