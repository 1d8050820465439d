"""Order statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` samples above
    it: returns (value, percentile, sample count).

    A closed loop gives fewer samples than that rule needs (below
    ``4 * beyond``), so there a quarter of the samples must lie above the
    percentile instead: the second highest of four or five refreshes, not
    the single slowest one.  Below four samples the maximum is returned,
    as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    beyond = min(beyond, n // 4)
    if beyond == 0:
        return float(xs[-1]), 100, n
    pct = (100 * (n - beyond)) // n
    idx = max(0, math.ceil(pct / 100 * n) - 1)
    while n - idx - 1 < beyond:
        pct -= 1
        idx = max(0, math.ceil(pct / 100 * n) - 1)
    return float(xs[idx]), pct, n
