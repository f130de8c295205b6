"""Pure-Python statistics and the output schema of one benchmark run."""

from __future__ import annotations

import json
import math
import re
import statistics

#: metric names: a letter or digit first, then letters, digits, ``_ . -``
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: samples that must lie strictly above the reported tail sample
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, int]:
    """``(value, percentile)`` of the highest percentile that has at
    least ``TAIL_BEYOND`` samples beyond it, never below the median.

    For ``n`` sorted samples the highest such sample sits at index
    ``n - 11``; it reads as the nearest-rank percentile
    ``100 * (n - 10) / n``. Below 21 samples that index is not above
    the median, so the median itself is reported as ``p50``.
    """
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    i = n - 1 - TAIL_BEYOND
    if i <= (n - 1) // 2:
        return median(xs), 50
    return float(sorted(xs)[i]), math.floor(100 * (i + 1) / n)


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    metrics: dict[str, tuple[float, str]],
) -> str:
    """The run's last stdout line: one JSON object with exactly
    ``correct``, ``attempted``, ``failed`` and ``metrics``."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    check_result(out)
    return json.dumps(out, sort_keys=False)


def check_result(obj: dict, expected: list[str] | None = None) -> None:
    """Raise ``ValueError`` unless ``obj`` has the result schema (and,
    given ``expected``, exactly those metric names)."""
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in obj["metrics"].items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad metric entry {name!r}: {m!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name!r} is not a finite number")
    if expected is not None and sorted(obj["metrics"]) != sorted(expected):
        missing = set(expected) - set(obj["metrics"])
        extra = set(obj["metrics"]) - set(expected)
        raise ValueError(f"metric names differ: missing {missing}, extra {extra}")
