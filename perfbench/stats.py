"""Order statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, one slow sample decides the value.
MIN_TAIL_SAMPLES = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    if not xs:
        raise ValueError("geometric mean of no samples")
    return statistics.geometric_mean(xs)


def tail(xs: list[float], q: float) -> float:
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``xs``.

    Raises ValueError when fewer than MIN_TAIL_SAMPLES samples lie
    beyond the percentile, so a tail the sample cannot support is never
    reported."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile {q} outside (0, 1)")
    n = len(xs)
    rank = max(1, math.ceil(round(n * q, 9)))  # 1-based; round() absorbs 0.1 + 0.2 error
    beyond = n - rank
    if beyond < MIN_TAIL_SAMPLES:
        raise ValueError(
            f"p{q * 100:g} needs {MIN_TAIL_SAMPLES} samples beyond it; "
            f"{n} samples leave {beyond}"
        )
    return sorted(xs)[rank - 1]


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
