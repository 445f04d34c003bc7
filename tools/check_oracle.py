#!/usr/bin/env python
"""Oracle parity check: run every registered query on Spark and its
oracle SQL on DuckDB over the same parquet tables, then compare row
count, schema (column names), and an order-insensitive value comparison.
``tests/test_oracle.py`` runs the same check on every query at sf0.01;
this CLI runs it at any ``--sf-dir``.

Usage: python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01]
       [--exclude name[=reason]]... [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from rivulus_spark.workload import QUERIES, oracle_sql_for  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def norm_rows(cols, rows):
    # sort columns by name (driver contract), then rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def compare(name, s_cols, s_rows, d_cols, d_rows) -> list[str]:
    problems = []
    sc, sr = norm_rows(s_cols, s_rows)
    dc, dr = norm_rows(d_cols, d_rows)
    if sc != dc:
        problems.append(f"schema mismatch: spark={sc} duck={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"rowcount mismatch: spark={len(sr)} duck={len(dr)}")
    n_bad = 0
    for a, b in zip(sr, dr):
        if a != b:
            # allow tiny float wiggle for diagnosis (still reported)
            if n_bad < 3:
                problems.append(f"value mismatch: spark={a} duck={b}")
            n_bad += 1
    if n_bad:
        problems.append(f"total mismatched rows: {n_bad}/{len(sr)}")
    return problems


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table present in `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_query(spark, con, name: str,
                sf_dir: str) -> tuple[int, int, list[str]]:
    """Run query `name` at `sf_dir` on Spark and its oracle on `con`.
    Returns the Spark and oracle row counts and the problems, which are
    empty when both agree. Spark and DuckDB errors propagate."""
    sdf = QUERIES[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    sql = oracle_sql_for(name, sf_dir)
    if sql is None:
        return len(s_rows), 0, ["no oracle registered"]
    res = con.execute(sql)
    d_rows = res.fetchall()
    return len(s_rows), len(d_rows), compare(
        name, s_cols, s_rows, [d[0] for d in res.description], d_rows)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--exclude", action="append", default=[],
                    metavar="NAME[=REASON]",
                    help="a query to skip, one flag per query (e.g. "
                         "brute-force O(n^2) oracles that do not finish "
                         "at sf>=1); reasons land in --json-out")
    ap.add_argument("--json-out", default=None,
                    help="write per-query results (pass/fail/skip + "
                         "reason + rows + seconds) as a JSON artifact")
    ap.add_argument("--duck-mem", default=None,
                    help="DuckDB memory_limit (e.g. 24GB). At sf10 the "
                         "default 80%%-of-RAM limit plus the Spark JVM "
                         "can exceed physical memory and thrash the "
                         "host (r8: a 4-query batch hit 103 GB RSS); "
                         "a cap makes DuckDB spill instead")
    ap.add_argument("--duck-threads", type=int, default=None,
                    help="DuckDB thread cap. Sort/ordered-aggregate "
                         "memory scales with threads; the sf10 "
                         "char-fold oracles OOM a 48GB budget at 32 "
                         "threads but fit at 8")
    ap.add_argument("queries", nargs="*")
    return ap


def main():
    args = build_parser().parse_args()

    from rivulus_spark import get_spark

    spark = get_spark("oracle-check")
    con = connect(args.sf_dir)
    if args.duck_threads:
        con.execute(f"SET threads={int(args.duck_threads)}")
    if args.duck_mem:
        con.execute(f"SET memory_limit='{args.duck_mem}'")

    excludes: dict[str, str] = {}
    for e in args.exclude:
        n, _, reason = e.partition("=")
        excludes[n] = reason or "excluded by --exclude"
    names = args.queries or list(QUERIES)
    skipped = [n for n in names if n in excludes]
    names = [n for n in names if n not in excludes]
    record: dict[str, dict] = {}
    for n in skipped:
        print(f"SKIP  {n}: {excludes[n]}")
        record[n] = {"status": "skip", "reason": excludes[n]}
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            n_spark, n_oracle, problems = check_query(
                spark, con, name, args.sf_dir)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failures += 1
            record[name] = {"status": "fail",
                            "reason": f"{type(e).__name__}: {e}"[:400]}
            continue
        sec = round(time.time() - t0, 1)
        if problems:
            failures += 1
            print(f"FAIL {name} ({n_spark} spark rows, {n_oracle} oracle "
                  f"rows) [{sec}s]")
            for p in problems:
                print(f"      {p}")
            record[name] = {"status": "fail", "spark_rows": n_spark,
                            "oracle_rows": n_oracle,
                            "problems": problems[:4]}
        else:
            print(f"PASS  {name}: {n_spark} rows [{sec}s]")
            record[name] = {"status": "pass", "rows": n_spark, "sec": sec}
    spark.stop()
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    if args.json_out:
        import json

        n_pass = sum(1 for v in record.values() if v["status"] == "pass")
        with open(args.json_out, "w") as f:
            json.dump({"sf_dir": args.sf_dir,
                       "n_pass": n_pass,
                       "n_fail": failures,
                       "n_skip": len(skipped),
                       "queries": record}, f, indent=1, sort_keys=True)
        print(f"wrote {args.json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
