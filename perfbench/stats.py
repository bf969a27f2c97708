"""Latency statistics for one run."""

from __future__ import annotations

import math
import statistics
from typing import Sequence


BEYOND = 10  # samples the tail percentile leaves beyond it


def tail(latencies_ms: Sequence[float], failed: int = 0) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``BEYOND`` samples beyond it.

    Returns (value_ms, percentile, n) or None when n <= ``BEYOND``. Failed
    ops count as samples beyond every latency. Nearest rank: the value at
    rank r (1-based) of the n sorted samples has n - r samples beyond it,
    so r = n - BEYOND and the percentile is 100 * r / n. If that rank is
    itself a failed op the value is infinite.
    """
    values = sorted(latencies_ms) + [math.inf] * failed
    n = len(values)
    rank = n - BEYOND
    if rank < 1:
        return None
    return values[rank - 1], 100.0 * rank / n, n


def p50(values: Sequence[float]) -> float | None:
    return statistics.median(values) if values else None


def quarter_p50s(values: Sequence[float]) -> tuple[float | None, float | None]:
    """p50 of the first and of the last quarter of an ordered series."""
    q = max(1, len(values) // 4)
    return p50(values[:q]), p50(values[-q:])

