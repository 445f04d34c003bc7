"""Parquet table loading for the driver's TPC-H-ish star schema.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md). Parquet scans are splittable and
support predicate pushdown + column pruning, which is what makes the
same code viable at 100 TB — the scan only materializes the columns and
row groups a query touches. A single file is typed by its footer
(:func:`scan`), so building a query over it starts no Spark job, and
its relation is resolved once per session and file version.
"""

from __future__ import annotations

import os
import stat
import weakref
from typing import Any

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

_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


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


def _footer_schema(path: str, ntz: str) -> StructType | None:
    """The Spark schema of the parquet file at ``path`` from its footer,
    or None where Spark must infer it. ``ntz`` is the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``."""
    try:
        footer = pq.read_schema(path)
    except (OSError, pa.ArrowInvalid):
        return None
    if any(_needs_inference(f.type) for f in footer):
        return None
    try:
        return from_arrow_schema(footer, prefer_timestamp_ntz=ntz == "true")
    except TypeError:  # no Spark type for it, e.g. uint8
        return None


class _Relations:
    """One session's resolved single-file relations, keyed by (path,
    ``inferTimestampNTZ`` value, fixed schema or None for the footer's)
    and stamped with the file's (``st_mtime_ns``, ``st_size``)."""

    def __init__(self) -> None:
        self.plans: dict[tuple, tuple[tuple[int, int], Any, StructType]] = {}
        self.of_rows: Any = None  # classic.Dataset.ofRows, looked up once

    def instance(self, spark: SparkSession, plan: Any) -> DataFrame:
        """A DataFrame over a copy of ``plan`` with fresh attribute ids,
        so two instances join like two independent reads."""
        if self.of_rows is None:
            self.of_rows = spark._jvm.org.apache.spark.sql.classic \
                .Dataset.ofRows
        return DataFrame(self.of_rows(spark._jsparkSession,
                                      plan.newInstance()), spark)


_RELATIONS: "weakref.WeakKeyDictionary[SparkSession, _Relations]" = \
    weakref.WeakKeyDictionary()


def _read(spark: SparkSession, path: str,
          fixed: StructType | None) -> tuple[DataFrame, StructType | None]:
    """Read parquet at ``path`` by ``fixed``, else a single file by its
    footer, else by Spark's inference; returns the frame and the schema
    it was read by (None where Spark inferred it). A single file read
    by a known schema is resolved once per session and file version;
    later reads re-instance that relation."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        # a directory or glob (partition columns are not in a footer),
        # or a missing path, for which Spark raises its own error
        reader = spark.read if fixed is None else spark.read.schema(fixed)
        return reader.parquet(path), fixed
    ntz = spark.conf.get(_NTZ)
    relations = _RELATIONS.setdefault(spark, _Relations())
    key = (path, ntz, fixed)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = relations.plans.get(key)
    if hit is not None and hit[0] == stamp:
        return relations.instance(spark, hit[1]), hit[2]
    schema = fixed or _footer_schema(path, ntz)
    if schema is None:
        return spark.read.parquet(path), None
    df = spark.read.schema(schema).parquet(path)
    relations.plans[key] = (stamp, df._jdf.queryExecution().analyzed(),
                            schema)
    return df, schema


def scan_typed(spark: SparkSession,
               path: str) -> tuple[DataFrame, StructType | None]:
    """:func:`scan`, with the schema the file was read by (None where
    Spark inferred it)."""
    return _read(spark, path, None)


def scan(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet at ``path``; a single file is typed by its footer
    (``pq.read_schema``, about 1 ms) as Spark's inference would type it,
    without the inference job. Tz-naive timestamps are ``timestamp_ntz``
    while ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on. Spark
    infers directories, globs, unreadable footers, types with no Arrow
    mapping (``uint8``, ``uint64``) and the types of
    :func:`_needs_inference`.

    Reuse contract: a footer-typed file is resolved (relation lookup,
    file listing, analysis) once per ``SparkSession`` for each
    (path, ``st_mtime_ns``, ``st_size``, ``inferTimestampNTZ``). Later
    calls copy that relation with fresh attribute ids, so every call
    returns an independent relation: two scans of one path self-join
    like two ``spark.read`` calls, a rewritten file is read anew, and
    no session sees another's relation."""
    return _read(spark, path, None)[0]


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Parquet events at ``path`` typed by ``EVENTS_SCHEMA``, reused
    per session as :func:`scan` reuses a footer-typed file."""
    return _read(spark, path, EVENTS_SCHEMA)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return read_events(spark, path)
    return scan(spark, path)


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str]) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
