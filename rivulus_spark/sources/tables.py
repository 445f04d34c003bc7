"""Parquet table loading for the driver's TPC-H-ish star schema.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md). Parquet scans are splittable and
support predicate pushdown + column pruning, which is what makes the
same code viable at 100 TB — the scan only materializes the columns and
row groups a query touches. A single file is typed by its footer
(:func:`scan`), so building a query over it starts no Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
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


def _needs_inference(t: pa.DataType) -> bool:
    """Whether Spark types ``t`` otherwise than its Arrow mapping, or
    rejects it with an error of its own: ``timestamp[ns]`` (also what
    pyarrow reads INT96 as), and the Arrow-only ``duration`` (stored as
    int64), ``time64`` and ``null`` (stored as int32)."""
    if pa.types.is_timestamp(t):
        return t.unit == "ns"
    if (pa.types.is_duration(t) or pa.types.is_time64(t)
            or pa.types.is_null(t)):
        return True
    return any(_needs_inference(t.field(i).type) for i in range(t.num_fields))


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema of the parquet file at ``path`` from its footer,
    or None where Spark must infer it."""
    if not os.path.isfile(path):
        # a directory or glob: partition columns are not in a footer
        return None
    try:
        footer = pq.read_schema(path)
    except (OSError, pa.ArrowInvalid):
        return None
    if any(_needs_inference(f.type) for f in footer):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        return from_arrow_schema(footer, prefer_timestamp_ntz=ntz == "true")
    except TypeError:  # no Spark type for it, e.g. uint8
        return None


def scan(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet at ``path``; a single file is typed by its footer
    (``pq.read_schema``, about 1 ms) as Spark's inference would type it,
    without the inference job. Tz-naive timestamps are ``timestamp_ntz``
    while ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on. Spark
    infers directories, globs, unreadable footers, types with no Arrow
    mapping (``uint8``, ``uint64``) and the types of
    :func:`_needs_inference`."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return spark.read.schema(EVENTS_SCHEMA).parquet(path)
    return scan(spark, path)


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str]) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
