"""Summary statistics and the result line of the benchmark.

Percentiles use linear interpolation between closest ranks (the
``statistics.quantiles(..., method="inclusive")`` convention). A
percentile p is *supported* by n samples when at least ten samples lie
beyond it, i.e. n * (1 - p/100) >= 10; the benchmark still reports an
unsupported p90 (the workloads are defined with it) and prints the
sample count beside every timing so the reader can judge it.
"""

from __future__ import annotations

import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SUPPORT_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """The p-th percentile (0 <= p <= 100) by linear interpolation."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile out of range: {p}")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, p: float) -> bool:
    """True when n samples leave at least ten beyond the p-th percentile."""
    return round(n * (100.0 - p) / 100.0, 9) >= SUPPORT_TAIL


def highest_supported(n: int, candidates=(50.0, 90.0, 99.0, 99.9)) -> float | None:
    """The highest candidate percentile that n samples support, or None."""
    best = None
    for p in candidates:
        if supported(n, p):
            best = p
    return best


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit: {unit!r}")
    return unit


class Metrics:
    """Ordered metric table: name -> (value, unit, samples)."""

    def __init__(self):
        self.rows: dict[str, tuple[float, str, int]] = {}

    def add(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        check_name(name)
        check_unit(unit)
        if name in self.rows:
            raise ValueError(f"metric reported twice: {name}")
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        self.rows[name] = (value, unit, int(samples))

    def table(self) -> str:
        return "\n".join(
            f"{name:48s} {value:>14.6g} {unit:8s} n={n}"
            for name, (value, unit, n) in self.rows.items()
        )

    def result_line(self, attempted: int, failed: int) -> str:
        """The last stdout line: correct/attempted/failed/metrics."""
        if attempted < 1:
            raise ValueError("no operation was attempted")
        return json.dumps({
            "correct": failed == 0,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": value, "unit": unit}
                for name, (value, unit, _) in self.rows.items()
            },
        })
