"""Pure helpers: percentiles, the tail rule, metric records and host facts.

Nothing here imports Spark, so the helpers are unit-tested on their own
(``perfbench/test_helpers.py``).
"""

from __future__ import annotations

import os
import re
import statistics

#: a metric name: letters, digits, ``_``, ``.`` and ``-``
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
#: a unit: letters, digits, ``_``, ``/``, ``%``, ``.`` and ``-``
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that still has ``beyond``
    samples above it, or a quarter of the samples when there are fewer
    than ``4 * beyond`` — so the reported tail is never below p75.

    Returns ``(value, percentile, n)``; the percentile is the
    closest-rank ``100 * rank / n``, where ``rank`` counts the samples at
    or below the value."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    rank = n - min(beyond, n // 4)
    return float(sorted(values)[rank - 1]), 100.0 * rank / n, n


def metric(name: str, value: float, unit: str) -> tuple[str, dict]:
    """One ``metrics`` entry, validated against the naming rules."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")
    if not isinstance(value, (int, float)) or value != value:
        raise ValueError(f"metric {name} is not a number: {value!r}")
    return name, {"value": value, "unit": unit}


def dir_bytes(path: str, suffix: str = "") -> int:
    """Bytes of the regular files under ``path`` whose names end in
    ``suffix``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(suffix) and os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def bytes_per_row(namespace_dir: str, live_rows: int) -> float:
    """Parquet bytes of the user tables' namespace per live row.  Only
    data files of that namespace count: table metadata and monitoring
    logs record run times, so their size is not a function of the inputs
    alone."""
    return dir_bytes(namespace_dir, ".parquet") / live_rows


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields), steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def peak_rss_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
