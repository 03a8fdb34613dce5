"""Sample summaries shared by the benchmark."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    """Median, quartiles (`statistics.quantiles(n=4)`, exclusive
    method) and sample count; one sample is its own quartiles."""
    if not values:
        return {"n": 0}
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "min": min(values), "max": max(values)}


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0
