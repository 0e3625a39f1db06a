"""SparkSession helper with scale-oriented defaults.

Tests/bench run on local[N] (single JVM), but every setting here is what we'd
ship to a 1000-executor cluster: AQE on (runtime re-plan + skew-join
handling), Arrow transfer for all pandas UDFs, bounded Arrow batch size (the
Spark analogue of the reference's 2^11-item DPU buckets,
``src/pim_bloom_filter_common.h:8`` — it bounds per-batch UDF memory the same
way the bucket cap bounds DPU MRAM).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 32 * 1024


def _physical_memory_mb() -> int:
    """Physical RAM of this host in MiB (``MemTotal`` where /proc exists)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def default_driver_memory() -> str:
    """``spark.driver.memory`` unless ``SPARK_GRAFT_DRIVER_MEM`` overrides:
    min(32g, half of physical RAM). A fixed 32g let the local-mode JVM
    grow until the kernel OOM-killed it on a 15 GB host."""
    return f"{min(_MAX_DRIVER_MEM_MB, _physical_memory_mb() // 2)}m"


def get_spark(app_name: str = "pimbloomfilters-spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # Make this package importable in executor Python workers regardless of
    # the caller's cwd (local mode inherits the driver env; on a real cluster
    # you'd ship it with spark-submit --py-files instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
