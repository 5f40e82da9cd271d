"""SparkSession factory tuned for the test harness (local[32]) while
keeping every knob cluster-appropriate.

At 100 TB on a 1000-executor cluster the same settings hold: AQE
coalesces post-shuffle partitions and splits skewed ones at runtime,
so a static ``spark.sql.shuffle.partitions`` only needs to be an
upper bound; session timezone is pinned UTC so timestamp semantics
match the (UTC-naive) parquet data and the DuckDB oracle.

Whole-stage codegen caches each compiled class by its source text,
but Spark's cache holds 100 classes and evicts some before it is
full. Measured on 4 CPUs: q80, q253 and q406 at sf0.01 generate 98
classes, and each warm pass of the three recompiled 26 of them;
adding q414 at sf0.001 makes 104 classes and 45-68 recompiles per
warm pass. The session raises the cap to
``CODEGEN_CACHE_ENTRIES``, after which a warm pass compiles nothing.
The cap is a static conf: it applies only when this call starts the
JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (Spark's default: 100). The
# classes above average 2.4 KB of bytecode, so a full cache holds
# about 5 MB of it: room for ~20 such passes.
CODEGEN_CACHE_ENTRIES = 2000


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 16g: on a host with no swap a
    16g heap plus the JVM's own overhead can exhaust memory."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return "16g"
    return f"{max(1, min(16 << 10, phys // 2 >> 20))}m"


def get_spark(app_name: str = "hadoop_brotli_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # Spark Connect: no local sparkContext
        pass
    return spark
