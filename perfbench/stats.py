"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only when at least this many samples lie
#: beyond it; with fewer, one outlier moves it.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``values``.

    Refuses (``TooFewSamples``) when fewer than ``MIN_BEYOND`` samples lie
    above the percentile's rank: p90 needs at least 100 samples."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must be in (0, 1), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it; "
            f"at least {MIN_BEYOND} are needed"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)
