"""Host context recorded with every result: CPU and memory, versions, the
session's settings, peak resident memory, and a pure-compute control.

The control is a shuffle-free hash fold over a range (the same recipe as
``bench_extra.py control``, smaller), run before and after the measured
pass. A degraded host phase shows as a slow control on both sides, and on
a virtual machine as CPU time stolen by the hypervisor during the pass.
"""

from __future__ import annotations

import os
import platform
import resource
import time

CONTROL_ROWS = 50_000_000


def control_s(spark) -> float:
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    (
        spark.range(0, CONTROL_ROWS, 1, cores * 2)
        .select(F.xxhash64("id").alias("h"))
        .select(F.bit_count("h").alias("b"))
        .agg(F.sum("b"))
        .collect()
    )
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """The JVM's VmHWM plus this driver process's ru_maxrss."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def context(spark) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(_meminfo_mb()),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "master": conf.get("spark.master"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "local_dir": conf.get("spark.local.dir", ""),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "event_log": conf.get("spark.eventLog.enabled", "false"),
    }
