"""Parquet table loading for the driver's TPC-H-ish star schema.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md). Parquet scans are splittable and
support predicate pushdown + column pruning, which is what makes the
same code viable at 100 TB — the scan only materializes the columns and
row groups a query touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The events table is read by this schema, batch and stream alike: the
# file stores ts as a tz-naive TIMESTAMP(MICROS), and watermarks need a
# tz-aware TimestampType event time.
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    reader = spark.read.schema(EVENTS_SCHEMA) if name == "events" else spark.read
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str]) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
