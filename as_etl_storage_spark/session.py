"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that transfer to a real cluster (AQE, Arrow, sane shuffle counts).

On a 1000-executor cluster the same builder applies — only master/memory
change; AQE re-plans shuffle partition counts at runtime so the static
``spark.sql.shuffle.partitions`` here is a ceiling for local runs, not a
cluster assumption.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 48g. A heap larger than the
    host would meet the kernel's OOM killer before Spark spilled to disk."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, ram // 2**31))}g"


def get_spark(app_name: str = "as_etl_storage_spark") -> SparkSession:
    """Build (or reuse) the session.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract)
    and ``SPARK_DRIVER_MEMORY`` for the driver heap (default: see
    ``default_driver_memory``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide rows (e.g. simhash's 60 bit-sums and the 60-term signature
        # projection over them) stay in whole-stage codegen up to 300
        # fields instead of the default 100, still clear of the 64KB method
        # limit; what the cap changes for the other queries is unmeasured
        .config("spark.sql.codegen.maxFields", "300")
        # generated classes are cached by their code; Spark's default of
        # 100 entries (an LRU split four ways) holds fewer than the
        # distinct classes of one versioned-table DML sequence (scans with
        # and without vector filters, staging writes, change feed), so
        # every pass recompiled and re-JITed ~20 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # let Python DataSources (sources/pyds) receive pushFilters —
        # off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
