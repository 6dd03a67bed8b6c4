"""Order statistics and the seeded sampler the benchmark reports with."""

from __future__ import annotations

import math
import random
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile that has at least ten samples beyond it.

    With ``n`` sorted samples, the sample at 0-based rank ``n - 11`` has
    exactly ten samples above it, and it is the ``floor(100 (n-10) / n)``-th
    percentile. Returns ``(value, percentile)``, or ``(None, None)`` when
    fewer than eleven samples exist, so no such percentile does.
    """
    n = len(values)
    if n < 11:
        return None, None
    return sorted(values)[n - 11], math.floor(100 * (n - 10) / n)


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Q1/Q3 from ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def stratified_sample(pool: list[tuple[str, float]], k: int, seed: int) -> list[str]:
    """Pick ``k`` keys from ``pool`` (key, cost) pairs, one from each of ``k``
    equal-count strata of the cost-sorted pool, and return them in seeded
    order. Every seed then draws the same cost profile, so medians of the
    sample move with the engine, not with which keys were drawn."""
    if not 0 < k <= len(pool):
        raise ValueError(f"cannot draw {k} keys from a pool of {len(pool)}")
    rng = random.Random(seed)
    ranked = [key for key, _ in sorted(pool, key=lambda kc: (kc[1], kc[0]))]
    edges = [round(i * len(ranked) / k) for i in range(k + 1)]
    picks = [ranked[rng.randrange(edges[i], edges[i + 1])] for i in range(k)]
    rng.shuffle(picks)
    return picks
