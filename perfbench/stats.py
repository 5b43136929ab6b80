"""Order statistics the benchmark reports, kept free of Spark so the
benchmark's own tests can check them."""

from __future__ import annotations

import statistics

# A tail percentile is only reported with at least this many samples
# ranked above it.
TAIL_BEYOND = 10


def tail_index(n: int) -> int:
    """Index, in ascending order, of the highest-ranked sample that has at
    least ``TAIL_BEYOND`` samples beyond it.

    With fewer than ``2 * TAIL_BEYOND + 1`` samples no rank above the
    median qualifies, so the tail falls back to the upper median.
    """
    if n < 1:
        raise ValueError("no samples")
    return max(n - 1 - TAIL_BEYOND, n // 2)


def tail(values: list[float]) -> dict:
    """The tail value with its percentile and sample counts."""
    xs = sorted(values)
    i = tail_index(len(xs))
    return {
        "value": xs[i],
        "percentile": round(100.0 * (i + 1) / len(xs), 1),
        "samples": len(xs),
        "beyond": len(xs) - 1 - i,
    }


def halves_ratio(values: list[float]) -> float | None:
    """Median of the second half of a run's latencies over the median of
    the first half; ``None`` with fewer than two samples.  A warm-up that
    ended too early shows as a ratio well below 1."""
    if len(values) < 2:
        return None
    h = len(values) // 2
    return statistics.median(values[-h:]) / statistics.median(values[:h])
