"""Order statistics used for every reported timing."""

from __future__ import annotations

import statistics

# A tail percentile is only reported when at least this many samples lie
# beyond it, so one slow sample cannot set it.
TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def median_or(xs: list[float], default):
    """Median of ``xs``, or ``default`` for a run that had no such sample."""
    return median(xs) if xs else default


def median_of_sums(samples: list[tuple[int, float]]) -> float:
    """Median over groups of each group's total: ``samples`` are
    ``(group, seconds)``, e.g. the calls of each repetition of a phase."""
    totals: dict[int, float] = {}
    for group, seconds in samples:
        totals[group] = totals.get(group, 0.0) + seconds
    return median(list(totals.values()))


def tail(xs: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples beyond it.

    Returns ``(value, percentile, n_beyond)``. With ``n`` sorted samples the
    answer is the sample at rank ``n - min_beyond`` (1-based), the
    ``100 * (n - min_beyond) / n``-th percentile by nearest rank, with
    exactly ``min_beyond`` samples above it. Below ``2 * min_beyond``
    samples that percentile would fall under the median, so such a run
    reports its maximum as the 100th percentile with 0 samples beyond, and
    says so through ``n_beyond``.
    """
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    if n < 2 * min_beyond:
        return s[-1], 100.0, 0
    rank = n - min_beyond
    return s[rank - 1], 100.0 * rank / n, min_beyond
