"""Host and session record printed with every run's summary."""

from __future__ import annotations

import os
import platform


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def host_record() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "mem_total_kb": _meminfo_kb("MemTotal"),
            "loadavg_1_5_15": load, "python": platform.python_version()}


def session_record(spark, driver_memory: str) -> dict:
    import pyarrow
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "driver_memory": driver_memory,
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory()
        / 2 ** 20,
        "shuffle_partitions": int(spark.conf.get(
            "spark.sql.shuffle.partitions")),
        "master": spark.sparkContext.master,
    }
