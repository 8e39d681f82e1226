"""Percentiles, spreads and the result line (no Spark here)."""

from __future__ import annotations

import json
import math
import statistics

#: percentiles a tail may be reported at, highest first
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``min_beyond`` of
    ``n`` samples beyond it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p
    return None


def latency_summary(seconds: list[float]) -> dict:
    """Median, p75, p90 and the highest percentile with ten samples beyond
    it, in milliseconds, with the sample count."""
    ms = [s * 1000.0 for s in seconds]
    tail = tail_percentile(len(ms))
    return {
        "n": len(ms),
        "p50_ms": statistics.median(ms),
        "p75_ms": percentile(ms, 75),
        "p90_ms": percentile(ms, 90),
        "tail_pct": tail,
        "tail_ms": percentile(ms, tail) if tail is not None else None,
    }


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (the steadiness
    measure the bounds in BENCHMARK.json are compared with)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def metric(value: float, unit: str) -> dict:
    if not isinstance(value, (int, float)) or isinstance(value, bool) or math.isnan(value):
        raise ValueError(f"metric value must be a number: {value!r}")
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, dict]) -> str:
    """The last stdout line of a run."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
         "metrics": metrics},
        sort_keys=True,
    )
