"""Summary statistics the benchmark reports (pure functions, no Spark)."""

from __future__ import annotations

import math
import statistics


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean of each op's median latency, so every distinct op
    weighs the same however many samples it has."""
    return geomean([statistics.median(v) for v in samples.values()])


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest percentile (a whole number or one decimal) that leaves at
    least ``beyond`` of ``n`` samples above it; ``None`` below
    ``2·beyond`` samples, where no tail estimate is meaningful."""
    if n < 2 * beyond:
        return None
    # p leaves n·(1 - p/100) samples beyond it; the largest p with
    # n·(1 - p/100) >= beyond, floored to 0.1 (integer arithmetic, so
    # 95.0 does not come out as 94.9).
    return (1000 * (n - beyond) // n) / 10.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def op_tail(values: list[float], beyond: int = 10) -> dict | None:
    """``{"value", "percentile", "samples"}`` for the pooled op latencies,
    or ``None`` when there are too few samples for a tail."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return {"value": percentile(values, p), "percentile": p, "samples": len(values)}
