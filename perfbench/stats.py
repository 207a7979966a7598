"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math
import statistics
from typing import Sequence

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def percentile(values: Sequence[float], q: float,
               min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100).

    Refuses unless at least ``min_beyond`` samples lie beyond it, so
    a p99 needs 1,000 samples and a p50 needs 20."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(values)
    rank = math.ceil(q / 100.0 * n)          # 1-based nearest rank
    if n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {max(n - rank, 0)} beyond it; "
            f"need {min_beyond}")
    return sorted(values)[rank - 1]


def median(values: Sequence[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)
