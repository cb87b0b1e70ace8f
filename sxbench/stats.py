"""Spark-free numeric helpers: quantiles, interval unions and span self time,
and parsing of the formatted strings Spark's SQL status store keeps for
operator metrics."""

from __future__ import annotations

import re
import statistics

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
               "PiB": 1 << 50, "EiB": 1 << 60}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
               "h": 3600.0}
_TOKEN = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def parse_sql_metric(text: str | None) -> float:
    """Value of one formatted SQL metric, in bytes, seconds or a plain count.

    Spark formats a metric either as a single value (``"8,000"``,
    ``"3.5 MiB"``, ``"12 ms"``) or, when it has per-task statistics, as
    ``"total (min, med, max (stageId: taskId))\\n6.1 s (…)"``; the total is
    the first value on the second line."""
    if text is None:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _TOKEN.match(text)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])
