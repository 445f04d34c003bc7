"""Parquet table loading for the driver's TPC-H-ish star schema.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md). Parquet scans are splittable and
support predicate pushdown + column pruning, which is what makes the
same code viable at 100 TB — the scan only materializes the columns and
row groups a query touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)
