"""Oracle check: compare collected Spark outputs with each query's
DuckDB oracle, using the comparison of tools/check_oracle.py."""

from __future__ import annotations

import os
import sys

from rivulus_spark.workload import oracle_sql_for

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import TABLES, compare  # noqa: E402


def check_outputs(outputs: dict[str, tuple | str], sf_dir: str,
                  threads: int) -> dict[str, list[str]]:
    """``outputs`` maps a query name to ``(columns, rows)`` or to the
    error its Spark run raised. Returns the problems of every query
    that does not match its oracle (an empty dict when all match)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        problems: dict[str, list[str]] = {}
        for name, out in outputs.items():
            if isinstance(out, str):
                problems[name] = [f"spark error: {out}"]
                continue
            sql = oracle_sql_for(name, sf_dir)
            if sql is None:
                problems[name] = ["no oracle registered"]
                continue
            try:
                res = con.execute(sql)
                oracle_rows = res.fetchall()
            except duckdb.Error as e:
                problems[name] = [f"duckdb error: {e}"]
                continue
            diff = compare(name, out[0], out[1],
                           [d[0] for d in res.description], oracle_rows)
            if diff:
                problems[name] = diff
        return problems
    finally:
        con.close()
