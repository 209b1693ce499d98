"""Summary statistics the benchmark reports, kept free of Spark so they can be
unit-tested without a session."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default
    "linear" method), so p50 of an even-sized sample is the mean of the two
    middle values, like ``statistics.median``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, q: float) -> bool:
    """True when a sample of ``n`` leaves at least ten values beyond the
    ``q``-th percentile, the rule for which tail percentile may be reported."""
    return n * (100 - q) >= 1000


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest of the usual tail percentiles the sample
    supports, or None when it supports none above the median."""
    for q in (99, 95, 90, 85, 80, 75):
        if supported_percentile(len(values), q):
            return q, percentile(values, q)
    return None


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations as a share of attempted ones."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median — the steadiness
    measure the benchmark is tuned against (``statistics.quantiles`` with
    n=4, its default "exclusive" method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
