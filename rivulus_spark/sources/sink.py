"""Write paths (sinks): hive-partitioned parquet, CSV, and JSONL.

The reference engine has no write path at all (results surface only via
``collect()`` — /root/reference/src/physical_plan/streaming.rs); a
usable 100 TB engine needs one, because every pipeline stage that isn't
the last one persists its output for the next stage.

Scale design:

- **Hive partitioning** (``partitionBy``) lays the output out as
  ``col=value/`` directories, so downstream readers with a filter on
  the partition column prune whole directories before listing a single
  row group (``PartitionFilters`` in the scan, distinct from row-group
  ``PushedFilters``). Partition by LOW-cardinality routing columns
  (date, language, source); high-cardinality partitioning creates
  millions of tiny files and kills the driver's listing phase.
- The CSV/JSONL sinks mirror the read formats in csv.py / jsonl.py
  (header + explicit null token round-trips the CSV parsing contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import scan


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Write parquet, optionally hive-partitioned by ``partition_by``."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_parquet(spark: SparkSession, path: str,
                 merge_schema: bool = False) -> DataFrame:
    """Read a (possibly partitioned) parquet dataset; partition columns
    come back as real columns, and filters on them prune directories.

    ``merge_schema=True`` unions the footers of every file instead of
    trusting the first one — the schema-evolution read: batches written
    before a column existed surface it as null. Footer merging is a
    driver-side listing cost, so leave it off (Spark's default) unless
    the dataset actually evolved."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return scan(spark, path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              delimiter: str = ",", header: bool = True) -> None:
    """CSV sink matching the engine's CSV source contract (header row,
    ``null`` as the null token). The SINGLE place that contract is
    encoded — LazyFrame.write_csv delegates here, like from_csv
    delegates to sources.csv."""
    (df.write.mode(mode)
     .option("sep", delimiter)
     .option("header", header).option("nullValue", "null")
     .csv(path))


def write_orc(df: DataFrame, path: str,
              partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """ORC sink; same hive-partitioning semantics as write_parquet."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one JSON object per row), the interchange
    format of most LLM-corpus tooling."""
    df.write.mode(mode).json(path)
