"""Host and JVM witnesses: the numbers that explain a slow run.

* ``cal_py_ms`` -- a fixed pure-Python loop, timed.
* ``cal_spark_ms`` -- a fixed one-stage Spark job, timed.
* ``steal_pct`` -- CPU steal over the run, from ``/proc/stat``.
* ``load_1m`` -- the 1-minute load average when the run starts.
* JIT and GC time from the JVM's ``CompilationMXBean`` and GC MXBeans.
* :class:`PeakMemory` -- peak summed memory of this process and its
  descendants (the JVM and its Python workers).
"""

from __future__ import annotations

import os
import time


def cal_py_ms() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1000


def cal_spark_ms(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(hash(id))").collect()
    return (time.perf_counter() - t0) * 1000


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_times(spark) -> tuple[float, float]:
    """(cumulative JIT compile seconds, cumulative GC seconds) of the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000
    return jit, gc


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        kids = tree.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _memory_kb(pid: int) -> int:
    """RSS of the JVM; proportional RSS (PSS) of a Python process, so
    forked Python workers are not counted again for the pages they share
    with their parent. Walking the JVM's mappings for its PSS every
    sample stalled it: cycles took 25% longer."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return _status_kb(pid, "VmRSS:")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakMemory:
    """Largest summed memory (:func:`_memory_kb`) of this process and every
    descendant: the JVM and its Python workers. The runner samples it
    between rounds, outside the timed region; a sampling thread cost each
    sample about 20 ms of this process and showed in the op times. Plain
    RSS summed over forked workers moved by 1.3 GB between runs of the
    same work."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        me = os.getpid()
        self.peak_kb = max(self.peak_kb, sum(_memory_kb(p) for p in [me, *descendants(me)]))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
