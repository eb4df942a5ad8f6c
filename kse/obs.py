"""Engine-side observability helpers (bench.py reads both).

- ``host_block``: what every timing artifact records about the machine it
  ran on, so numbers from different hosts are never read as one series.
- ``codegen_compiles``: the JVM's running count of Janino compilations of
  generated classes. A warm session over a fixed query mix should read 0
  between passes; a count that keeps growing means the codegen class cache
  (``spark.sql.codegen.cache.maxEntries``, see kse/session.py) is smaller
  than the mix's working set and evicted classes are being rebuilt.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _proc_field(path: str, key: str) -> str | None:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def host_block(spark: SparkSession) -> dict:
    """nproc, ``SPARK_GRAFT_CPUS``, master, default parallelism, total
    memory and CPU model of the host ``spark`` runs on."""
    sc = spark.sparkContext
    mem = _proc_field("/proc/meminfo", "MemTotal")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "mem_total_mb": round(int(mem.split()[0]) / 1024) if mem else None,
        "cpu_model": _proc_field("/proc/cpuinfo", "model name"),
    }


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled by this JVM so far; take the difference
    of two reads to count the compilations of the work between them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
