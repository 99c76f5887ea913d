"""Summary statistics for op latencies."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict | None:
    """The highest percentile that still has at least ``min_beyond``
    samples strictly above its rank: with n sorted samples that is the
    (n - min_beyond)-th smallest, reported as percentile
    100 * (n - min_beyond) / n. None when n <= min_beyond."""
    n = len(values)
    if n <= min_beyond:
        return None
    rank = n - min_beyond  # 1-based rank of the reported sample
    return {
        "value": sorted(values)[rank - 1],
        "percentile": round(100.0 * rank / n, 1),
        "n": n,
        "beyond": min_beyond,
    }

