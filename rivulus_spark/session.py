"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same config block is what we would ship for a real cluster — AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF boundary, and a UTC session timezone so timestamp semantics
are deterministic across engines. The codegen cache holds 2000 classes,
so a repeated workload reuses its generated code instead of recompiling.
Local sessions commit streaming checkpoint files through Hadoop's
``FileSystem`` API, whose local rename forks no ``readlink`` process.
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


def local_builder(app_name: str = "rivulus-spark") -> SparkSession.Builder:
    """The ``local[$SPARK_GRAFT_CPUS]`` builder before ``configure``:
    driver heap, no UI or progress bars, and the local checkpoint
    manager. Callers may add confs on top (later ``config`` calls win)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
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
        # Spark's default checkpoint manager renames through
        # FileContext, which on a local path without libhadoop stats
        # each file and its .crc via a forked `readlink` (8 forks per
        # offset, commit or state file). The FileSystem manager does the
        # same exists-then-rename (File.renameTo), so fail-if-exists
        # and exactly-once hold. configure() keeps the default: on HDFS
        # the FileContext rename is atomic.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
    )


def get_spark(app_name: str = "rivulus-spark") -> SparkSession:
    return configure(local_builder(app_name)).getOrCreate()
