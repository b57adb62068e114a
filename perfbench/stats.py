"""Measured intervals and the order statistics used by every workload.

A unit's cost is measured twice: wall seconds, and the CPU seconds of
the benchmark's process tree. On a shared 4-vCPU host the wall time of
the same unit varied by a third between runs as the hypervisor's steal
came and went (2-20% of CPU time); CPU time, which leaves steal out,
varied by a tenth.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict


def cpu_ticks() -> tuple[int, int]:
    """``(all, steal)`` CPU ticks since boot, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def steal_share(t0, t1) -> float:
    """Share of all CPU time between two ``cpu_ticks()`` the hypervisor took."""
    total = t1[0] - t0[0]
    return (t1[1] - t0[1]) / total if total else 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by a process and all its descendants.

    Sums user and system time, own and of reaped children, from
    ``/proc/<pid>/stat`` over the process tree (here: this process, the
    Spark JVM and its Python workers). The kernel leaves the time the
    hypervisor stole out of these counters."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        pid = int(name)
        children[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


class Interval:
    """Wall seconds and process-tree CPU seconds from creation to :meth:`stop`."""

    def __init__(self):
        self.t0, self.c0 = time.perf_counter(), tree_cpu_s()

    def stop(self) -> "Interval":
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.c0
        return self


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int] | None:
    """The highest whole percentile with at least ``beyond`` samples above it.

    Uses the nearest-rank percentile: percentile ``p`` of ``n`` sorted
    samples is the sample at rank ``ceil(p * n / 100)``, and the samples
    beyond it are the ``n - rank`` ranked after it. Returns
    ``(value, p, n)``, or ``None`` when even the 1st percentile has fewer
    than ``beyond`` samples after it.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return xs[rank - 1], p, n
    return None
