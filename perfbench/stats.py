"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie above a reported percentile


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank q-quantile (0 < q < 1), refused unless at least
    MIN_BEYOND samples lie beyond it: a tail read from fewer samples
    is mostly noise."""
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(xs)
    rank = max(1, math.ceil(q * n))  # 1-based
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it, "
            f"fewer than {MIN_BEYOND}"
        )
    return sorted(xs)[rank - 1]


def highest_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest of p99/p95/p90/p75/p50 that has at
    least MIN_BEYOND samples beyond it, or None."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        try:
            return q, percentile(xs, q)
        except ValueError:
            continue
    return None


def geomean(xs: list[float]) -> float:
    """Geometric mean of positive values."""
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def kind_median_geomean(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency.
    Kinds whose latencies sit far apart are never pooled, so no kind's
    share of the mix can flip the result between its group and
    another's."""
    by_kind: dict[str, list[float]] = {}
    for kind, secs in samples:
        by_kind.setdefault(kind, []).append(secs)
    return geomean([median(v) for v in by_kind.values()])


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2
