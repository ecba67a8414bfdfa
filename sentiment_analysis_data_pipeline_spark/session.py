"""SparkSession factory tuned for the test rig (local[N]) while keeping every
setting cluster-sane: AQE on (runtime coalesce + skew-join handling), shuffle
partitions sized to cores locally (set explicitly per-job at cluster scale),
Arrow enabled for the few pandas-UDF paths, UTC session timezone so timestamp
semantics agree with the DuckDB oracle and with any downstream engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical memory in whole GiB, at least 1g and at most 24g.
    A fixed 24g heap outgrows a small box: there a driver JVM's RSS grows
    past what the box can give two drivers side by side, and one of them
    is OOM-killed. SPARK_DRIVER_MEMORY overrides this (a deployment
    setting)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys // 2**31))}g"


def get_spark(app_name: str = "sentiment-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """The live session if there is one, else a new one with the settings
    below. A live session is returned as it is: the builder's getOrCreate
    would re-apply this function's SQL confs to it (shuffle partitions from
    SPARK_GRAFT_CPUS among them), silently changing plans under whoever
    created it."""
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Generated-code cache (a static conf, so builder-only). Spark's
        # default of 100 entries is below the working set: one streaming
        # ingest epoch uses about 105 distinct classes and one
        # analytics-board pass about 112, so an LRU cycling over them
        # missed on nearly every access and recompiled 80-100 Janino
        # classes per epoch (~1.2 s of driver time, plus JIT work on the
        # new bytecode).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
