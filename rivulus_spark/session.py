"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same config block is what we would ship for a real cluster — AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF boundary, and a UTC session timezone so timestamp semantics
are deterministic across engines. The codegen cache holds 2000 classes,
so a repeated workload reuses its generated code instead of recompiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to any builder (also used on cluster)."""
    return (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan output partitioning above cached relations
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("RIVULUS_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # static conf; at the default 100 entries one relational pass
        # evicts its own generated classes and recompiles them
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # catalog (bucketed) tables need a warehouse path; keep it out
        # of the repo working tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("RIVULUS_WAREHOUSE", "/tmp/rivulus-warehouse"))
    )


def get_spark(app_name: str = "rivulus-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        # local[32] puts driver + all 32 task slots in one JVM heap; an
        # undersized heap shows up as multi-second GC outliers on the
        # wide-aggregate queries, not as OOM — size it generously.
        .config("spark.driver.memory", os.environ.get("RIVULUS_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # stage-progress bars write \r-updates to stderr/stdout; under
        # the driver's tail-capture they can crowd out the one JSON line
        # bench.py prints, so keep them off everywhere
        .config("spark.ui.showConsoleProgress", "false")
    )
    return configure(builder).getOrCreate()
