"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least ``min_beyond`` samples
    above it: ``(value, percentile, n)``.

    With n sorted samples the k-th smallest (1-based) has n - k samples
    beyond it, so the highest usable rank is k = n - min_beyond, i.e. the
    percentile 100 * k / n. Fewer than ``min_beyond + 1`` samples cannot
    support any percentile with that many beyond it, which raises instead
    of reporting a maximum as a tail."""
    n = len(values)
    if n < min_beyond + 1:
        raise ValueError(
            f"{n} samples cannot support a tail percentile with "
            f"{min_beyond} samples beyond it; need at least {min_beyond + 1}"
        )
    k = n - min_beyond
    return float(sorted(values)[k - 1]), math.floor(1000 * k / n) / 10, n
