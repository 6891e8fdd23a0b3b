"""Per-run contention and hygiene record.

Contention is measured the way the repository's ``bench.py`` measures it:

- hypervisor steal: the ``/proc/stat`` steal-jiffies delta over the timed
  window, as a fraction of the usable CPUs' capacity (``SC_CLK_TCK``
  jiffies per second each);
- PSI CPU stall: a short single-threaded NumPy canary runs while Spark is
  idle, and the ``/proc/pressure/cpu`` ``some total`` delta over it, as a
  fraction of its wall time, is load from outside this process.

A run whose steal exceeds 1% or whose canary stall exceeds 10% is flagged
contended (the same gates as ``bench.py``).

Hygiene is read from the live session at the end of the timed loop: JVM
thread count, cached RDD storage, active streaming queries, and
``spark_graft_*`` temp dirs left in the run's temp dir.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

STEAL_GATE = 0.01
STALL_GATE = 0.10


def usable_cpus() -> int:
    try:
        return min(os.cpu_count() or 1, len(os.sched_getaffinity(0)))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _psi_total() -> int | None:
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


def canary_stall() -> float | None:
    """CPU-stall fraction seen by a single-threaded canary (~0.3 s)."""
    import numpy as np

    a = np.random.default_rng(0).random(500_000)
    p0, t0 = _psi_total(), time.perf_counter()
    acc = 0.0
    for _ in range(8):
        acc += float(np.sort(a)[0] + a.sum())
    dt = time.perf_counter() - t0
    p1 = _psi_total()
    return None if p0 is None or p1 is None else (p1 - p0) / 1e6 / dt


class StealWindow:
    """Steal fraction of machine capacity between ``start`` and ``stop``."""

    def __init__(self):
        self.s0 = self.t0 = None
        self.frac: float | None = None

    def start(self) -> None:
        self.s0, self.t0 = _steal_jiffies(), time.perf_counter()

    def stop(self) -> None:
        s1, dt = _steal_jiffies(), time.perf_counter() - self.t0
        try:
            hz = float(os.sysconf("SC_CLK_TCK"))
        except (ValueError, OSError):
            hz = 100.0
        if self.s0 is not None and s1 is not None and dt > 0:
            self.frac = (s1 - self.s0) / (usable_cpus() * hz * dt)


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid`` and
    every process below it: the driver JVM with its Python workers. Stolen
    time is not CPU time, so this reads the same on a contended host."""
    parent, ticks = {}, {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while /proc was scanned
            continue
        p = int(stat.parent.name)
        parent[p] = int(fields[1])
        ticks[p] = sum(int(x) for x in fields[11:15])
    keep, frontier = {pid}, [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        keep.update(kids)
        frontier = kids
    return sum(ticks.get(p, 0) for p in keep) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM of the driver JVM, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


def hygiene(spark, tmp_dir: Path) -> dict:
    jvm = spark._jvm
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(s.memSize() + s.diskSize() for s in storage)
    return {
        "jvm_threads_end": int(jvm.java.lang.management.ManagementFactory
                               .getThreadMXBean().getThreadCount()),
        "cached_mb_end": cached / 2**20,
        "active_streams_end": len(spark.streams.active),
        "tmp_dirs_end": len(list(tmp_dir.glob("spark_graft_*"))),
    }


def contention(steal: float | None, stall: float | None) -> dict:
    contended = ((steal is not None and steal > STEAL_GATE)
                 or (stall is not None and stall > STALL_GATE))
    return {"steal_frac": steal, "canary_stall": stall, "contended": contended}
