"""Arithmetic the benchmark reports, plus the /proc readers it samples.

Pure functions only; ``tests/test_stats.py`` pins each one.
"""

from __future__ import annotations

import math
import os

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``: the sample at rank ``n - TAIL_BEYOND``
    of the sorted values, that rank as a percentile of ``n``, and ``n``.
    A run with ``TAIL_BEYOND`` samples or fewer has no such rank; it reports
    its maximum at the 100th percentile instead, and ``n`` says so.
    """
    if not values:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    n = len(ordered)
    rank = n - TAIL_BEYOND if n > TAIL_BEYOND else n
    return ordered[rank - 1], 100.0 * rank / n, n


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(a, start), min(b, end)) for a, b in children if b > start and a < end]
    return (end - start) - union_length(clipped)


def cpu_jiffies() -> dict[str, int]:
    """The aggregate ``cpu`` line of /proc/stat as named jiffy counters;
    empty when the line is missing or short."""
    fields = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return {}
    return dict(zip(fields, vals)) if len(vals) == len(fields) else {}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of the window's CPU time the hypervisor gave to other guests."""
    if not before or not after:
        return 0.0
    total = sum(after[k] - before[k] for k in after)
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
