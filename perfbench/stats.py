"""Summary arithmetic for the benchmark's metrics (no Spark)."""

from __future__ import annotations

import math

#: samples a tail percentile must have beyond it
BEYOND = 10


def tail(samples: list[float], beyond: int = BEYOND) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the highest percentile that
    has at least ``beyond`` samples above it.

    With n samples sorted ascending, the sample at rank n - beyond - 1
    has exactly ``beyond`` samples ranked above it; its percentile is
    floor(100 * (n - beyond) / n). With ``beyond`` samples or fewer no
    percentile qualifies, and the maximum is returned as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100, n
    return xs[n - beyond - 1], math.floor(100 * (n - beyond) / n), n


def failure_ratios(ops: dict[str, bool]) -> tuple[int, int, float, float]:
    """(attempted, failed, failed_ratio, ok_ratio) over op outcomes."""
    attempted = len(ops)
    if attempted == 0:
        raise ValueError("no ops attempted")
    failed = sum(1 for ok in ops.values() if not ok)
    return attempted, failed, failed / attempted, 1.0 - failed / attempted
