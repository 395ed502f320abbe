"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

import math

#: A percentile is reported only when at least this many samples lie
#: beyond it, so one outlier cannot decide it.
MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q``-th percentile of ``n`` samples,
    refused unless ``MIN_BEYOND`` samples rank above it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{q:g} of {n} samples has {n - rank} beyond it; needs {MIN_BEYOND}")
    return rank


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``samples``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples rank
    above the returned one: p50 needs 20 samples, p90 needs 100.
    """
    return sorted(samples)[_rank(len(samples), q) - 1]


def tail_mean(samples: list[float], q: float) -> float:
    """Mean of the samples ranked above the ``q``-th percentile (the
    expected shortfall beyond it), under the same ten-sample rule.

    Unlike the percentile it does not jump when the percentile's rank
    falls on the edge between two groups of similar samples."""
    return mean(sorted(samples)[_rank(len(samples), q) :])


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
