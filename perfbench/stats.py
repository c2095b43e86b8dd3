"""Order statistics used by the report."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples above it:
    (value, percentile, sample count). When even the median has fewer than
    ``beyond`` samples above it, the maximum is returned as percentile 100."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    ordered = sorted(values)
    if n < 2 * beyond:
        return ordered[-1], 100.0, n
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median_and_tail(prefix: str, values: list[float]) -> list[tuple]:
    """``<prefix>_p50_s`` and ``<prefix>_tail_s`` as (name, value, unit,
    note) rows, the note naming the tail's percentile and sample count."""
    value, pct, n = tail(values)
    return [(f"{prefix}_p50_s", median(values), "s", f"{n} samples"),
            (f"{prefix}_tail_s", value, "s", f"p{pct:.1f} of {n} samples")]
