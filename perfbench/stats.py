"""Summary statistics shared by the timed and traced runs."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples above it


def median(xs) -> float:
    return float(statistics.median(xs))


def quartiles(xs) -> tuple[float, float]:
    if len(xs) < 2:
        return float(xs[0]), float(xs[0])
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return float(q1), float(q3)


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that has
    at least TAIL_BEYOND samples beyond it. Raises when there are too few
    samples for any such percentile."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    s = sorted(xs)
    return float(s[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n
