"""Pure helpers: Spark status-store value parsing and the tail rule.

Nothing here imports Spark, so the tests run without a session.
"""

from __future__ import annotations

import re

_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_BYTES = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "PiB": 2**50, "EiB": 2**60}
_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """One SQL status-store display string as a number: seconds for a
    duration (``30 ms``, ``2.0 s``), bytes for a size (``1,141.2 KiB``),
    the plain number for a count (``18,095``).

    Metrics summed over several tasks arrive as two lines,
    ``total (min, med, max (stageId: taskId))`` then
    ``<total> (<min>, <med>, <max> (stage s.a: task t))``; the total is
    kept."""
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1]) if lines else None
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SECONDS:
        return number * _SECONDS[unit]
    if unit in _BYTES:
        return number * _BYTES[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")
    return number


def tail_percentile(values: "list[float]", beyond: int = 10) -> "tuple[int, float]":
    """The highest whole percentile with at least ``beyond`` samples above
    it, by nearest rank: returns ``(percentile, value)``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples, got {n}")
    p = 100 * (n - beyond) // n
    rank = max(1, -(-p * n // 100))
    return p, sorted(values)[rank - 1]
