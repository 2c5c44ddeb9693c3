"""Summary statistics and the result printer.

Timings are reported as a median and as a *tail*: the highest percentile
that still has at least ten samples beyond it (``tail``), never below the
median, with the sample count stated next to it.
"""

from __future__ import annotations

import json
import math
import statistics

TAIL_BEYOND = 10


def tail_rank(n: int) -> int:
    """1-based rank of the tail sample among ``n`` sorted samples: the
    highest rank with at least TAIL_BEYOND samples above it, or the median's
    rank when the sample is too small for any rank above the median to have
    that many (n < 2 * TAIL_BEYOND)."""
    if n < 1:
        raise ValueError("no samples")
    return max(n - TAIL_BEYOND, math.ceil(n / 2))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the tail sample (module doc). Below
    2 * TAIL_BEYOND samples the value is the median (percentile 50)."""
    s = sorted(values)
    n = len(s)
    r = tail_rank(n)
    if n - r < TAIL_BEYOND:
        return statistics.median(s), 50.0, n
    return s[r - 1], 100.0 * r / n, n


def metric_line(workload: str, name: str, value: float, unit: str,
                note: str = "") -> str:
    """One human-readable metric line: ``workload  name = value unit  (note)``."""
    text = f"{workload:<20} {name:<36} = {value:.6g} {unit}"
    return f"{text}  ({note})" if note else text


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The final JSON line: every metric with its unit, values unrounded."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
