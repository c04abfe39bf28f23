"""Pure helpers: sample summaries and Spark's formatted SQL metric values."""

from __future__ import annotations

import re
import statistics

TAIL_BEYOND = 10  # a reported tail percentile keeps at least this many samples above it


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) of the highest nearest-rank percentile that
    still has at least `beyond` samples above it, or None when there are
    too few samples for any.

    With n sorted samples the value at rank k (1-based) has n - k samples
    above it, so the highest admissible rank is n - beyond, reported as
    the percentile 100 * k / n."""
    n = len(xs)
    k = n - beyond
    if k < 1:
        return None
    return 100.0 * k / n, float(sorted(xs)[k - 1])


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)\s*([A-Za-z]*)$")


def parse_metric(text: str) -> float:
    """One SQL metric as Spark's status store formats it, in base units:
    bytes for sizes, seconds for times, a plain number for counts.

    A metric updated by several tasks is formatted as a header line and
    `total (min, med, max (stageId: taskId))`; only the total counts:
        '65.1 KiB'                                        -> 66662.4
        'total (min, med, max (stageId: taskId))\\n12.8 s (...)' -> 12.8
        '2,024'                                           -> 2024.0
    Raises ValueError for anything else, such as the per-task averages
    Spark prints without a total."""
    body = text.strip()
    if "\n" in body:
        head, body = body.split("\n", 1)
        if not head.startswith("total"):
            raise ValueError(f"no total in metric {text!r}")
        body = body.split(" (", 1)[0].strip()
    m = _VALUE.match(body)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    raise ValueError(f"unknown unit {unit!r} in metric {text!r}")
