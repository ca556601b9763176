"""Summary statistics for the benchmark's timing samples."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, int]:
    """The highest whole percentile of ``values`` that has at least
    ``TAIL_BEYOND`` samples above it, as ``(value, percentile)``.

    Percentiles use the nearest-rank definition: percentile ``p`` is
    the sample at rank ``ceil(p * n / 100)`` of the sorted values, and
    the samples beyond it are the ``n - rank`` above that rank. With
    ``n <= TAIL_BEYOND`` samples no percentile qualifies and ``ValueError``
    is raised."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    p = (100 * (n - TAIL_BEYOND)) // n
    while p > 0 and math.ceil(p * n / 100) > n - TAIL_BEYOND:
        p -= 1
    rank = max(1, math.ceil(p * n / 100))
    return float(xs[rank - 1]), p
