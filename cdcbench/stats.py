"""Summary statistics of the end-to-end report."""

from __future__ import annotations

import statistics
from typing import Sequence

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def p50(values: Sequence[float]) -> float:
    """Median; raises on an empty sample (a metric must be measured)."""
    if not values:
        raise ValueError("no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as ``(value, percentile, n)``.

    With ``n`` sorted samples that is the sample at index ``n - 11``: exactly
    ten samples lie above it, so it sits at percentile ``(n - 10) / n``.
    Up to ``n = 2 * TAIL_BEYOND`` that sample lies below the interpolated
    median, so the sample supports no tail at all and the median is returned
    with percentile 0.5: the reported tail never undercuts the p50."""
    n = len(values)
    if n <= 2 * TAIL_BEYOND:
        return p50(values), 0.5, n
    s = sorted(values)
    return float(s[n - TAIL_BEYOND - 1]), (n - TAIL_BEYOND) / n, n

