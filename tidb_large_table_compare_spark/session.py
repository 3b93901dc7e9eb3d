"""SparkSession factory with the engine's standard configuration.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, skew-join handling, UTC session timezone, Arrow) are what we would ship
on a real cluster — only master/memory are local-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tidb_large_table_compare_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    AQE is on so runtime statistics re-plan joins (broadcast conversion,
    skew-join splitting, partition coalescing) — at 100 TB this is what turns
    the static plan into a survivable one. The session timezone is pinned to
    UTC so timestamp semantics agree with the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # differential verification collects FULL query results to compare
        # against the oracle; at replica SFs a single result can exceed the
        # 1g default (the r11 sf10 sweep lost a 15M-row stream-join result
        # to it). 4g of a 16g driver is safe; operators themselves never
        # rely on large collects (registry guardrails audit every collect)
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
        # runtime bloom-filter join pruning: build a bloom filter on the
        # small join side and push it into the big side's scan — at 100 TB
        # this skips row groups for selective joins with zero code changes
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # keep input splits bounded so a 100 TB scan parallelizes evenly
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # one sync cycle generates ~90 classes: the default 100-entry
        # codegen cache evicted and recompiled ~20 of them every cycle
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # builder-time extras (e.g. the profiler's event-log settings, which
    # cannot be set on a live session) — measurement plumbing, not engine
    # behavior; ignored when an existing session is returned by getOrCreate
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
