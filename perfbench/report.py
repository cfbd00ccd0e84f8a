"""Latency summaries and the result lines the benchmark prints."""

from __future__ import annotations

import json
import math
import statistics
from fractions import Fraction

# Candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """Nearest-rank position (1-based) of percentile `pct` among `n`
    samples, in exact arithmetic (0.999 * 10000 is not 9990 in floats)."""
    return max(1, math.ceil(Fraction(str(pct)) * n / 100))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile of TAIL_LADDER that
    has at least MIN_BEYOND samples beyond it (nearest-rank); None when
    there are too few samples for any of them."""
    s = sorted(values)
    for pct in TAIL_LADDER:
        k = _rank(pct, len(s))
        if len(s) - k >= MIN_BEYOND:
            return pct, s[k - 1]
    return None


def latency_lines(name: str, unit: str, values: list[float]) -> list[str]:
    """Median and tail lines for one latency series, with sample counts."""
    if not values:
        return [f"{name}.p50 = n/a {unit} (0 samples)"]
    lines = [f"{name}.p50 = {statistics.median(values):.6g} {unit} "
             f"({len(values)} samples)"]
    t = tail(values)
    if t is None:
        lines.append(f"{name}.tail = n/a {unit} ({len(values)} samples; a "
                     f"tail needs {MIN_BEYOND} beyond it)")
    else:
        pct, v = t
        beyond = len(values) - _rank(pct, len(values))
        lines.append(f"{name}.tail = {v:.6g} {unit} (p{pct:g}, "
                     f"{len(values)} samples, {beyond} beyond)")
    return lines


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })
