"""Metric naming, summary statistics and the stdout contract.

Pure Python (no Spark) so the self-tests can pin every rule here
without starting a JVM.
"""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

TAIL_MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def nearest_rank(sorted_vals: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of an ascending list: the value and the
    number of samples strictly after it in the order."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_vals[rank - 1], n - rank


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile that still has at least ten
    samples beyond it: ``(percentile, value, samples_beyond)``. With n
    samples that is rank n - 10, the ``100 (n - 10) / n``-th percentile.

    With ten samples or fewer no percentile qualifies; the maximum is
    reported with zero samples beyond, so a reader sees the tail is
    unresolved.
    """
    if not samples:
        raise ValueError("tail of no samples")
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return 100.0, s[-1], 0
    rank = n - TAIL_MIN_BEYOND
    return round(100.0 * rank / n, 2), s[rank - 1], TAIL_MIN_BEYOND


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


def median_low(samples: list[float]) -> float:
    """The median, or with an even count the lower of the middle two."""
    return float(statistics.median_low(samples))


class Report:
    """Collects metrics, prints one JSON line per metric as it is set,
    and renders the final result line the benchmark contract reads."""

    def __init__(self, workload: str, out=None) -> None:
        self.workload = workload
        self.values: dict[str, tuple[float, str]] = {}
        self._out = out

    def set(self, name: str, value: float, unit: str, **extra) -> None:
        check_name(name)
        check_unit(unit)
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value!r}")
        self.values[name] = (value, unit)
        line = {"metric": name, "value": value, "unit": unit, "workload": self.workload}
        line.update(extra)
        print(json.dumps(line), file=self._out, flush=True)

    def result_line(
        self, names: list[str], *, attempted: int, failed: int
    ) -> str:
        """The final stdout line: exactly the requested metrics."""
        missing = [n for n in names if n not in self.values]
        if missing:
            raise KeyError(f"metrics never measured: {missing}")
        return json.dumps(
            {
                "correct": failed == 0,
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    n: {"value": self.values[n][0], "unit": self.values[n][1]}
                    for n in names
                },
            }
        )
