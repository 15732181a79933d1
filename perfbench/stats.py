"""Percentiles that refuse to claim more than the sample supports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, nearest rank) of ``values``.

    Raises :class:`TooFewSamples` unless at least ``MIN_BEYOND`` samples lie
    beyond it, so a p99 needs at least 1,000 samples."""
    xs = sorted(values)
    rank = math.ceil(q / 100.0 * len(xs))
    if not xs or len(xs) - rank < MIN_BEYOND:
        raise TooFewSamples(f"p{q:g} of {len(xs)} samples has fewer than "
                            f"{MIN_BEYOND} samples beyond it")
    return float(xs[max(rank, 1) - 1])


def median(values) -> float:
    """Median of a non-empty sample; reported at any sample count."""
    return float(statistics.median(values))


def tail_percentile(values: list) -> tuple[float, float]:
    """``(q, value)`` for the highest of p99, p90 and p75 that the sample
    supports, else the median."""
    for q in (99, 90, 75):
        try:
            return q, percentile(values, q)
        except TooFewSamples:
            continue
    return 50, median(values)
