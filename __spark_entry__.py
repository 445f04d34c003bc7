"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1-style pricing
summary) at sf0.001. ``queries()`` / ``oracle_sql()`` expose the full
workload from ``rivulus_spark.workload`` — one entry per implemented
operator from SURVEY.md §2 plus the north-star training-data-pipeline
operators, each paired with a DuckDB-runnable ANSI-SQL oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rivulus_spark.workload import (  # noqa: E402
    DRIVER_SF_DIR, ORACLE, QUERIES, oracle_sql_for)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return {n: oracle_sql_for(n, DRIVER_SF_DIR) for n in ORACLE}
