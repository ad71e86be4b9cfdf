"""Pure statistics and result formatting for the benchmark (no Spark).

Warm numbers are built from per-operation medians across passes, because a
single pass sum moves several percent between processes while the sum of
per-operation medians does not. A percentile is reported only where it has
at least ``MIN_BEYOND`` samples beyond it.
"""

from __future__ import annotations

import json
import math
import statistics
from collections.abc import Mapping, Sequence

MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def sum_of_medians(samples_by_op: Mapping[str, Sequence[float]]) -> float:
    """Sum over operations of each operation's median sample."""
    return float(sum(median(s) for s in samples_by_op.values()))


def samples_needed(q: float) -> int:
    """Fewest samples for which percentile ``q`` (0 < q < 1) has at least
    ``MIN_BEYOND`` samples beyond it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile out of range: {q}")
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: Sequence[float], q: float) -> float:
    """Percentile ``q`` of ``values`` (0 < q < 1), interpolating linearly
    between the two nearest order statistics, so a run's figure does not
    jump from one operation's time to the next one's."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(values)
    pos = q * (len(ordered) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return float(ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo))


def tail_supported(n: int, q: float) -> bool:
    """Whether ``n`` samples support percentile ``q`` by the beyond rule."""
    return n >= samples_needed(q)


def fail_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def metric_lines(metrics: Mapping[str, tuple[float, str]]) -> list[str]:
    """Human-readable ``name = value unit`` lines, one per metric."""
    width = max((len(n) for n in metrics), default=0)
    return [f"{name:<{width}} = {value!r} {unit}" for name, (value, unit) in metrics.items()]


def result_line(
    correct: bool, attempted: int, failed: int, metrics: Mapping[str, tuple[float, str]]
) -> str:
    """The final stdout line: one JSON object with exactly four keys."""
    for name, (value, unit) in metrics.items():
        if not isinstance(value, (int, float)) or isinstance(value, bool):
            raise TypeError(f"{name}: value {value!r} is not a number")
        if not math.isfinite(value):
            raise ValueError(f"{name}: value {value!r} is not finite")
        if not unit:
            raise ValueError(f"{name}: no unit")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }
    )
