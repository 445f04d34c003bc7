"""SQL entry point.

The reference is API-only — it has no SQL parser or string entry point
anywhere (SURVEY §2.6). This module is north-star superset surface:
hand query strings to Spark SQL over views registered with
``sources.tables.register_views``, so every fluent-API query has a SQL
spelling and vice versa (both build the same Catalyst logical plan and
optimize identically).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .frame import LazyFrame


def sql(spark: SparkSession, query: str) -> LazyFrame:
    """Run a SQL string against the registered views; returns a
    LazyFrame so fluent operators chain onto SQL results."""
    return LazyFrame.from_spark(spark.sql(query))
