"""The machine's state, stamped on every run so that a run on a loaded
host can be told apart from a change in the engine."""

from __future__ import annotations

import os
import statistics
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_yardstick_s(reps: int = 5) -> float:
    """Median time of a fixed single-threaded integer loop."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def job_floor_s(spark, reps: int = 5) -> float:
    """Median wall time of a trivial one-task JVM job (no Python worker)."""
    jdf = spark.range(0, 1, 1, 1)._jdf
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        jdf.rdd().count()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a VM, steal is
    time the host ran someone else while this guest wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def stamp(spark=None) -> dict:
    out = {"nproc": os.cpu_count(), "cores_usable": cores(), "loadavg": os.getloadavg()}
    if spark is not None:
        out["jvm_max_heap_mb"] = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        out["driver_memory"] = spark.conf.get("spark.driver.memory", None)
    return out
