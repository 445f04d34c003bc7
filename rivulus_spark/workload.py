"""The engine's query workload: every operator from SURVEY §2 (and the
north-star superset) expressed as a named query over the driver's
TPC-H-ish testdata, each paired with an ANSI-SQL oracle that DuckDB can
run on the same parquet files.

Conventions (driver contract, __spark_entry__.py; tests/test_oracle.py
checks every entry against its oracle, so the order of QUERIES carries
no meaning):
- every computed column is aliased identically in the Spark query and
  the oracle SQL (the driver's compare sorts columns by name);
- float aggregates are rounded (sum order across engines differs at the
  last ulp); per-row float arithmetic is left raw (bit-deterministic);
- timestamps are emitted as formatted strings (engine-neutral);
- computed integer outputs are cast to long/BIGINT on both sides
  (Spark size()/length()/row_number() return INT, DuckDB returns BIGINT).

Reference-surface queries (select/filter/limit/join/expressions) are
built through the LazyFrame/Expr facade so the engine layer itself is
what's exercised; superset queries use the facade's Spark-native
escape hatches (group_by/agg, windows) or the operator modules.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .expressions import col, lit
from .frame import LazyFrame
from .operators import dedup, multimodal, similarity, text as text_ops
from .sources.tables import load_table as _t
from .streaming import windows as sw

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# An oracle is SQL text, or a builder that takes the sf_dir being
# compared: size-adaptive queries (LSH/ANN parameters) derive their SQL
# from that directory's row counts, as the Spark query does at call time.
ORACLE: dict[str, str | Callable[[str], str]] = {}
DRIVER_SF_DIR = "/root/testdata/sf0.01"


def _q(name: str, oracle: str | Callable[[str], str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prep(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = query
        if oracle is not None:
            ORACLE[name] = oracle
        return query
    return deco


def oracle_sql_for(name: str, sf_dir: str) -> str | None:
    """Oracle SQL for `name` at `sf_dir`, or None if it has none."""
    oracle = ORACLE.get(name)
    return oracle(sf_dir) if callable(oracle) else oracle


def _prep(spark: SparkSession) -> None:
    """Session confs the workload depends on, set by every registered
    query so they hold in any caller's session (the driver uses its
    own)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _lf(spark: SparkSession, sf_dir: str, table: str) -> LazyFrame:
    return LazyFrame.from_parquet(spark, f"{sf_dir}/{table}.parquet")


# ======================================================================
# Reference surface: projection / filter / limit / join / expressions
# (parity: /root/reference/src/logical_plan/builder.rs:57-94 operators)
# ======================================================================

@_q("select_project", """
SELECT c_custkey, c_name AS customer_name, c_mktsegment
FROM customer
""")
def q_select_project(spark, sf_dir):
    """Projection with alias (ref: LazyFrame::select, builder.rs:57-64)."""
    return (_lf(spark, sf_dir, "customer")
            .select("c_custkey", col("c_name").alias("customer_name"),
                    "c_mktsegment")
            .to_spark())


@_q("filter_compare", """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity > 45.0
""")
def q_filter_compare(spark, sf_dir):
    """col-cmp-literal filter (ref: builder.rs:66-73, the only predicate
    shape its eager physical layer accepts)."""
    return (_lf(spark, sf_dir, "lineitem")
            .filter(col("l_quantity") > 45.0)
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .to_spark())


@_q("filter_compound", """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus = 'F' AND (o_totalprice > 150000.0 OR o_orderpriority = '1-URGENT')
""")
def q_filter_compound(spark, sf_dir):
    """And/Or predicate algebra — representable but rejected by the
    reference's physical planners (planner.rs:146-156); we execute it."""
    return (_lf(spark, sf_dir, "orders")
            .filter((col("o_orderstatus") == "F")
                    & ((col("o_totalprice") > 150000.0)
                       | (col("o_orderpriority") == "1-URGENT")))
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .to_spark())


@_q("expr_arith", """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem WHERE l_quantity <= 5.0
""")
def q_expr_arith(spark, sf_dir):
    """Computed projection over the 12-op expression algebra
    (ref rejects computed SELECT exprs, planner.rs:124-126)."""
    revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    charge = (col("l_extendedprice") * (lit(1) - col("l_discount"))) \
        * (lit(1) + col("l_tax"))
    return (_lf(spark, sf_dir, "lineitem")
            .filter(col("l_quantity") <= 5.0)
            .select("l_orderkey", "l_linenumber",
                    revenue.alias("revenue"), charge.alias("charge"))
            .to_spark())


@_q("expr_int_div", """
SELECT l_orderkey, l_linenumber, l_orderkey // 1000 AS okey_bucket
FROM lineitem WHERE l_linenumber = 1
""")
def q_expr_int_div(spark, sf_dir):
    """Int64/Int64 division stays Int64 (truncating) — reference typing
    rule (plan.rs:253-255) diverging from Spark's native `/`."""
    return (_lf(spark, sf_dir, "lineitem")
            .filter(col("l_linenumber") == 1)
            .select("l_orderkey", "l_linenumber",
                    (col("l_orderkey") / lit(1000)).alias("okey_bucket"))
            .to_spark())


@_q("limit_topk", """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def q_limit_topk(spark, sf_dir):
    """Deterministic limit: sort + limit (ref limit: builder.rs:75-82;
    sort is a superset op). Catalyst plans this as TakeOrderedAndProject
    — a per-partition top-k + single merge, no global sort."""
    return (_lf(spark, sf_dir, "orders")
            .sort("o_totalprice", "o_orderkey", descending=[True, False])
            .limit(10)
            .select("o_orderkey", "o_totalprice")
            .to_spark())


@_q("join_inner", """
SELECT c.c_custkey, c.c_name, n.n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > 8000.0
""")
def q_join_inner(spark, sf_dir):
    """Single-key inner equi-join with the logical output contract
    (ref: builder.rs:84-94; contract plan.rs:86-110). nation is a
    dimension table — broadcast, no shuffle of the fact side."""
    cust = _lf(spark, sf_dir, "customer").filter(col("c_acctbal") > 8000.0)
    nat = _lf(spark, sf_dir, "nation")
    return (cust.inner_join(nat, "c_nationkey", "n_nationkey",
                            broadcast_right=True)
            .select("c_custkey", "c_name", "n_name")
            .to_spark())


@_q("join_three", """
SELECT n.n_name, count(*) AS n_orders
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY n.n_name
""")
def q_join_three(spark, sf_dir):
    """Join chain + aggregation; dimension side broadcast."""
    cust = _lf(spark, sf_dir, "customer").filter(col("c_mktsegment") == "BUILDING")
    nat = _lf(spark, sf_dir, "nation")
    orders = _lf(spark, sf_dir, "orders")
    joined = (orders.inner_join(cust, "o_custkey", "c_custkey")
              .inner_join(nat, "c_nationkey", "n_nationkey",
                          broadcast_right=True))
    return joined.group_by("n_name").agg(F.count("*").alias("n_orders")).to_spark()


# ======================================================================
# Superset: aggregation / window / set ops (SURVEY §2.6 gap table —
# absent in the reference, Spark built-ins here)
# ======================================================================

@_q("agg_q1", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_agg_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary. Partial (map-side) aggregation
    then a 4-group shuffle — the canonical scale-friendly agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02")))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
                 F.count("*").alias("count_order")))


@_q("agg_q3", """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o.o_orderkey, orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""")
def q_agg_q3(spark, sf_dir):
    """TPC-H Q3-style: join + agg + top-k by revenue."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15")))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15")))
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                     "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10)
            .select("o_orderkey", "revenue", "orderdate", "o_orderpriority"))


@_q("agg_q5", """
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""")
def q_agg_q5(spark, sf_dir):
    """TPC-H Q5-style: 6-table join (dims broadcast) + per-nation
    revenue. Includes a multi-condition join (suppkey + nationkey)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    joined = (l.join(o, l.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(s), (s.s_suppkey == l.l_suppkey)
                    & (s.s_nationkey == c.c_nationkey))
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@_q("join_part_promo", """
SELECT p_type, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
GROUP BY p_type
""")
def q_join_part_promo(spark, sf_dir):
    """TPC-H Q14-style: lineitem x part revenue by part type. part is
    the broadcast dimension; the date filter prunes the fact scan."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-07-01"))))
    p = _t(spark, sf_dir, "part")
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .groupBy("p_type")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@_q("agg_having", """
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
""")
def q_agg_having(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
            .filter(F.col("n_orders") >= 15))


@_q("array_agg_sorted", """
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
       count(*) AS n_orders
FROM orders WHERE o_totalprice > 350000.0
GROUP BY o_custkey
""")
def q_array_agg_sorted(spark, sf_dir):
    """Array aggregation: per-customer sorted key list. collect_list
    order is nondeterministic in a distributed agg, so sort_array makes
    the result well-defined. Emitted as a comma-joined string because
    the driver's pandas canonicalizer cannot hash list cells (the array
    form is covered in tests/test_operators.py)."""
    return (_t(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") > 350000.0)
            .groupBy("o_custkey")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey")))
                 .alias("orderkeys"),
                 F.count("*").alias("n_orders")))


@_q("pivot_status", """
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
FROM orders GROUP BY o_orderpriority
""")
def q_pivot_status(spark, sf_dir):
    """Pivot (wide aggregation): order status -> columns. Explicit value
    list keeps the schema static and avoids the extra distinct pass."""
    return (_lf(spark, sf_dir, "orders")
            .group_by("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.round(F.sum("o_totalprice"), 2))
            .to_spark())


@_q("unpivot_status", """
WITH p AS (
  SELECT o_orderpriority,
         round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
         round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
         round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, status, total FROM (
  SELECT o_orderpriority, 'F' AS status, F AS total FROM p
  UNION ALL SELECT o_orderpriority, 'O', O FROM p
  UNION ALL SELECT o_orderpriority, 'P', P FROM p)
WHERE total IS NOT NULL
""")
def q_unpivot_status(spark, sf_dir):
    """Pivot then unpivot (wide -> long melt): the round-trip shows
    both reshapes compose; unpivot is a zero-shuffle Expand projection
    (each input row fans out to one row per value column)."""
    wide = (_t(spark, sf_dir, "orders")
            .groupBy("o_orderpriority").pivot("o_orderstatus")
            .agg(F.round(F.sum("o_totalprice"), 2)))
    return (wide.unpivot(["o_orderpriority"], ["F", "O", "P"],
                         "status", "total")
            .filter(F.col("total").isNotNull()))


@_q("argmax_per_group", """
SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_price
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
""")
def q_argmax_per_group(spark, sf_dir):
    """Each customer's single largest order via max_by — a partially
    aggregatable argmax, so unlike the window formulation (full sort of
    every partition) the shuffle carries one candidate row per customer
    per map partition. Tie-break: lowest orderkey (negated in the
    ordering struct)."""
    best = F.max_by(
        F.struct(F.col("o_orderkey"), F.col("o_totalprice")),
        F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk")))
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(best.alias("b"))
            .select("o_custkey",
                    F.col("b.o_orderkey").alias("top_orderkey"),
                    F.col("b.o_totalprice").alias("top_price")))


@_q("distinct_op", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")
def q_distinct_op(spark, sf_dir):
    return (_lf(spark, sf_dir, "orders")
            .select("o_orderstatus", "o_orderpriority")
            .distinct()
            .to_spark())


@_q("union_op", """
SELECT c_name AS name FROM customer WHERE c_acctbal > 9900.0
UNION
SELECT s_name AS name FROM supplier WHERE s_acctbal > 9000.0
""")
def q_union_op(spark, sf_dir):
    c = (_lf(spark, sf_dir, "customer")
         .filter(col("c_acctbal") > 9900.0)
         .select(col("c_name").alias("name")))
    s = (_lf(spark, sf_dir, "supplier")
         .filter(col("s_acctbal") > 9000.0)
         .select(col("s_name").alias("name")))
    return c.union(s).distinct().to_spark()


@_q("left_join_missing", """
SELECT c.c_custkey, o.o_orderkey
FROM customer c LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000.0
WHERE c.c_acctbal > 9500.0
""")
def q_left_join_missing(spark, sf_dir):
    """Left outer join with a join-side filter: customers keep a row
    (null orderkey) when no qualifying order exists — exercises the
    null-producing join path the reference never implemented
    (JoinType::Left commented out, plan.rs:41-47)."""
    c = _lf(spark, sf_dir, "customer").filter(col("c_acctbal") > 9500.0)
    o = _lf(spark, sf_dir, "orders").filter(col("o_totalprice") > 400000.0)
    return (c.join(o, "c_custkey", "o_custkey", how="left")
            .select("c_custkey", "o_orderkey")
            .to_spark())


@_q("full_outer_join", """
SELECT coalesce(n1.nationkey, n2.nationkey) AS nationkey,
       n1.n_cust, n2.n_supp
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
      FROM customer WHERE c_acctbal > 9000.0 GROUP BY c_nationkey) n1
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, count(*) AS n_supp
      FROM supplier WHERE s_acctbal > 9000.0 GROUP BY s_nationkey) n2
  ON n1.nationkey = n2.nationkey
""")
def q_full_outer_join(spark, sf_dir):
    """Full outer join of two aggregates (nulls on both sides)."""
    c = (_t(spark, sf_dir, "customer")
         .filter(F.col("c_acctbal") > 9000.0)
         .groupBy(F.col("c_nationkey").alias("nationkey"))
         .agg(F.count("*").alias("n_cust")))
    s = (_t(spark, sf_dir, "supplier")
         .filter(F.col("s_acctbal") > 9000.0)
         .groupBy(F.col("s_nationkey").alias("nationkey"))
         .agg(F.count("*").alias("n_supp")))
    return (c.join(s, "nationkey", "full")
            .select("nationkey", "n_cust", "n_supp"))


@_q("semi_join", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
""")
def q_semi_join(spark, sf_dir):
    c = _lf(spark, sf_dir, "customer")
    o = _lf(spark, sf_dir, "orders").filter(col("o_totalprice") > 300000.0)
    return (c.join(o, "c_custkey", "o_custkey", how="semi")
            .select("c_custkey", "c_name")
            .to_spark())


@_q("anti_join", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
""")
def q_anti_join(spark, sf_dir):
    c = _lf(spark, sf_dir, "customer")
    o = (_lf(spark, sf_dir, "orders")
         .filter(col("o_orderpriority") == "1-URGENT"))
    return (c.join(o, "c_custkey", "o_custkey", how="anti")
            .select("c_custkey", "c_name")
            .to_spark())


@_q("intersect_op", """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 7000.0
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 3000.0
""")
def q_intersect_op(spark, sf_dir):
    c = (_lf(spark, sf_dir, "customer")
         .filter(col("c_acctbal") > 7000.0)
         .select(col("c_nationkey").alias("nationkey")))
    s = (_lf(spark, sf_dir, "supplier")
         .filter(col("s_acctbal") > 3000.0)
         .select(col("s_nationkey").alias("nationkey")))
    return c.intersect(s).to_spark()


@_q("except_op", """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000.0
""")
def q_except_op(spark, sf_dir):
    c = (_lf(spark, sf_dir, "customer")
         .select(col("c_nationkey").alias("nationkey")))
    s = (_lf(spark, sf_dir, "supplier")
         .filter(col("s_acctbal") > 5000.0)
         .select(col("s_nationkey").alias("nationkey")))
    return c.except_(s).to_spark()


@_q("cube_count", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_cube_count(spark, sf_dir):
    """CUBE grouping sets (all 4 combinations of the two keys)."""
    return (_t(spark, sf_dir, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


@_q("range_join_events", """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT user_id, epoch_us(ts) AS tsu FROM events
      WHERE event_type = 'view')
SELECT p.event_id, p.user_id, count(*) AS n_prior_views
FROM p JOIN v ON p.user_id = v.user_id
               AND v.tsu >= p.tsu - 1800000000 AND v.tsu <= p.tsu - 1
GROUP BY p.event_id, p.user_id
""")
def q_range_join_events(spark, sf_dir):
    """Banded range join (operators/asof.py): views by the same user in
    the 30 minutes strictly before each purchase. The band-bucketing
    turns the inequality join into an equi-join on (user, time-bucket) —
    Spark's native plan for this predicate is a per-key nested loop."""
    from .operators import asof

    ev = _t(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", F.unix_micros("ts").alias("tsu")))
    v = (ev.filter(F.col("event_type") == "view")
         .select("user_id", F.unix_micros("ts").alias("tsu")))
    out = asof.range_join(p, v, by=["user_id"], left_on="tsu",
                          right_on="tsu", lower=-1_800_000_000, upper=-1)
    return (out.groupBy("event_id", "user_id")
            .agg(F.count("*").alias("n_prior_views")))


@_q("scalar_subquery", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
""")
def q_scalar_subquery(spark, sf_dir):
    """Filter against a scalar aggregate of the same table. The scalar
    side collapses to one row and broadcasts — the fact scan happens
    twice but shuffles nothing."""
    o = _t(spark, sf_dir, "orders")
    avg = o.agg((1.5 * F.avg("o_totalprice")).alias("cut"))
    return (o.join(F.broadcast(avg), o.o_totalprice > avg.cut)
            .select("o_orderkey", "o_totalprice"))


@_q("in_subquery_agg", """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS o_totalprice
FROM orders o
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300.0)
""")
def q_in_subquery_agg(spark, sf_dir):
    """TPC-H Q18 core: orders whose lineitems sum to a big quantity —
    IN-subquery over an aggregate, executed as agg + left-semi join."""
    o = _t(spark, sf_dir, "orders")
    big = (_t(spark, sf_dir, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sq"))
           .filter(F.col("sq") > 300.0))
    return (o.join(big, o.o_orderkey == big.l_orderkey, "semi")
            .select("o_orderkey", "o_custkey",
                    F.round("o_totalprice", 2).alias("o_totalprice")))


@_q("window_rank", """
SELECT c_nationkey, c_custkey, rnk FROM (
  SELECT c_nationkey, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer) WHERE rnk <= 3
""")
def q_window_rank(spark, sf_dir):
    """Top-3 customers per nation by balance (ranking window)."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (_t(spark, sf_dir, "customer")
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("c_nationkey", "c_custkey", "rnk"))


@_q("window_running", """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
""")
def q_window_running(spark, sf_dir):
    """Running per-customer spend (analytic window, explicit frame)."""
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey",
                    F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")))


@_q("window_range_frame", """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS trailing_7d_spend
FROM orders
""")
def q_window_range_frame(spark, sf_dir):
    """Value-based (RANGE) window frame: each order's trailing-7-day
    per-customer spend. Unlike ROWS frames, ties on the order column
    share one frame, so the result is deterministic without a unique
    tie-break column."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.unix_timestamp("o_orderdate"))
         .rangeBetween(-604800, 0))
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .alias("trailing_7d_spend")))


@_q("window_lag", """
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)) AS gap_us
FROM events
""")
def q_window_lag(spark, sf_dir):
    """Per-user inter-event gap in microseconds (lag window)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (_t(spark, sf_dir, "events")
            .select("event_id", "user_id",
                    (F.unix_micros(F.col("ts"))
                     - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")))


@_q("window_ntile", """
WITH r AS (
  SELECT o_custkey, o_totalprice,
         ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
         percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
  FROM orders)
SELECT quartile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(max(pr), 6) AS max_pr
FROM r GROUP BY quartile
""")
def q_window_ntile(spark, sf_dir):
    """Distribution windows: ntile quartiles + percent_rank over a
    total order (price, key) — the bucketing primitive behind
    percentile-based corpus filtering. Computed with the two-pass
    distributed rank (operators/rank.py): range-bucket on approximate
    price quantiles, per-bucket offsets, within-bucket row_number — no
    single-partition window over the data (the only unpartitioned
    window runs over the <=64-row bucket-count table)."""
    from .operators import rank

    r = rank.add_ntile_percent_rank(
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"], n=4,
        tile_col="quartile", pr_col="pr")
    return (r.groupBy("quartile")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi"),
                 F.round(F.max("pr"), 6).alias("max_pr")))


@_q("rollup_count", """
SELECT l_returnflag, l_linestatus, count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup_count(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


@_q("events_sliding", """
WITH e AS (SELECT event_type, epoch_us(ts) AS su FROM events),
k AS (SELECT unnest(range(4)) AS k),
w AS (SELECT event_type,
             (su // 900000000) * 900000000 - k * 900000000 AS ws
      FROM e CROSS JOIN k)
SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M') AS window_start,
       event_type, count(*) AS n_events
FROM w GROUP BY window_start, event_type
""")
def q_events_sliding(spark, sf_dir):
    """Sliding event-time windows (streaming/windows.py sliding_agg,
    batch form of the same plan the stream runs): 1-hour windows
    advancing every 15 minutes — each event lands in exactly 4
    windows (epoch-aligned, the oracle enumerates the 4 offsets
    relationally)."""
    ev = _t(spark, sf_dir, "events")
    out = sw.sliding_agg(ev, "ts", "1 hour", "15 minutes",
                         aggs=[F.count("*").alias("n_events")],
                         keys=["event_type"])
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm")
        .alias("window_start"),
        "event_type", "n_events")


@_q("events_resample", """
WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
         FROM b),
u AS (SELECT DISTINCT user_id FROM events),
a AS (SELECT user_id, ts::DATE AS d, count(*) AS n, sum(value) AS sv
      FROM events GROUP BY user_id, d)
SELECT u.user_id, strftime(days.d, '%Y-%m-%d') AS day,
       coalesce(a.n, 0) AS n_events,
       round(coalesce(a.sv, 0), 2) AS sum_value
FROM u CROSS JOIN days
LEFT JOIN a ON a.user_id = u.user_id AND a.d = days.d
""")
def q_events_resample(spark, sf_dir):
    """Dense daily resampling with zero-filled gaps
    (operators/timeseries.py): every (user, day) cell over the global
    span, events aggregated in, silent days explicit zeros. The corpus
    is scanned twice (key set + sparse aggregate); the date spine is
    broadcast, so the dense grid never shuffles raw events."""
    from .operators import timeseries

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = timeseries.resample_daily(
        ev, "ts", "user_id",
        aggs=[F.count("*").alias("n_events"),
              F.sum("value").alias("sum_value")],
        fills={"n_events": 0, "sum_value": 0.0})
    return out.select("user_id",
                      F.date_format("day", "yyyy-MM-dd").alias("day"),
                      F.col("n_events").cast("long").alias("n_events"),
                      F.round("sum_value", 2).alias("sum_value"))


@_q("stream_running_totals", """
SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY user_id
""")
def q_stream_running_totals(spark, sf_dir):
    """Custom stateful streaming (streaming/stateful.py
    running_totals): per-user cumulative (n, total) state updated
    every micro-batch; after draining the backlog the LAST emission
    per user (the one with max n — n is strictly increasing) must
    equal the batch aggregate. applyInPandasWithState with
    update-mode output."""
    from .streaming import stateful

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    stream = _replay_stream(spark, ev, f"{sf_dir}/events.parquet", "ev")
    out = sw.run_available_now(
        stateful.running_totals(stream, "user_id", "value"),
        output_mode="update",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/events.parquet", 4))
    return (out.groupBy("user_id")
            .agg(F.max("n").alias("n"),
                 F.round(F.max_by("total", "n"), 2).alias("total")))


@_q("events_hourly", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY hour, event_type
""")
def q_events_hourly(spark, sf_dir):
    """Tumbling 1-hour window aggregation over the event stream table —
    the batch analogue of the Structured Streaming windowed agg."""
    return (_t(spark, sf_dir, "events")
            .groupBy(F.date_format(F.date_trunc("hour", F.col("ts")),
                                   "yyyy-MM-dd HH:00").alias("hour"),
                     "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@_q("stream_sessionize", """
WITH gaps AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) > 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions
FROM gaps GROUP BY user_id
""")
def q_stream_sessionize(spark, sf_dir):
    """Gap-based sessionization through Structured Streaming
    (streaming/windows.py session_agg, F.session_window, 30-min gap):
    per-user session count, drained with Trigger.AvailableNow in
    complete mode (re-emits every session, exact batch parity). The
    oracle is the batch lag-based sessionize — identical counts, since
    a session_window closes exactly when the next event's gap EXCEEDS
    the 30-min inactivity (both semantics are strict->new-session at
    gaps > 30 min; the testdata has no exact-boundary gap, checked at
    sf0.01/sf0.1/sf1). At scale the state store holds one open session
    per active user, evicted by the watermark, versus the batch form's
    full-corpus shuffle-and-sort per run.

    Complete mode is the AvailableNow-HARNESS shape only (append would
    withhold sessions still open at end-of-stream, breaking batch
    parity); the production continuous-deployment shape is append +
    watermark eviction, whose exact emission contract — precisely the
    sessions the final watermark closed — is pinned by
    tests/test_streaming.py::test_session_append_emits_watermark_closed_only."""
    stream = sw.read_event_stream(spark, f"{sf_dir}/events.parquet")
    sessions = sw.session_agg(
        stream, "ts", "30 minutes", keys=["user_id"],
        aggs=[F.count("*").alias("n_events")], watermark="2 hours")
    out = sw.run_available_now(
        sessions, output_mode="complete",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/events.parquet", 8, rows_per_part=20_000))
    return (out.groupBy("user_id")
            .agg(F.count("*").cast("long").alias("n_sessions")))


@_q("stream_events_hourly", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY hour, event_type
""")
def q_stream_events_hourly(spark, sf_dir):
    """The SAME hourly aggregation as events_hourly, executed through
    Structured Streaming: readStream over the events parquet ->
    watermarked tumbling window -> Trigger.AvailableNow drain into a
    memory sink -> returned as a batch DataFrame. Batch parity is the
    contract (complete output mode re-emits the closed aggregate), so
    the streaming engine itself gets an oracle-checked row — at scale
    this identical plan serves the live topic with state-store
    windows + watermark eviction instead of a backfill scan."""
    stream = sw.read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sw.tumbling_agg(
        stream, "ts", "1 hour",
        aggs=[F.count("*").alias("n_events"),
              F.round(F.sum("value"), 2).alias("sum_value")],
        keys=["event_type"], watermark="2 hours")
    # base 8 state instances (capped at the task slots) cover the
    # sf0.1 windowed keyspace, growing with volume
    out = sw.run_available_now(
        agg, output_mode="complete",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/events.parquet", 8, rows_per_part=20_000))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type", "n_events", "sum_value")


@_q("stream_interval_join", """
SELECT p.event_id, p.user_id, count(*) AS n_views,
       round(sum(v.value), 2) AS sum_view_value
FROM events p
JOIN events v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
 AND v.ts <= p.ts - INTERVAL 1 MICROSECOND
GROUP BY p.event_id, p.user_id
""")
def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (streaming/joins.py): purchases
    correlated with the same user's views in the strictly-preceding 30
    minutes, BOTH sides live streams with watermarks bounding the join
    state, drained via Trigger.AvailableNow and aggregated. The oracle
    is the identical batch range join — batch parity is the operator's
    contract."""
    from .streaming import joins as sj

    s = sw.read_event_stream(spark, f"{sf_dir}/events.parquet")
    p = (s.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    v = (s.filter(F.col("event_type") == "view")
         .select("user_id", "ts", "value"))
    j = sj.interval_join(p, v, on="user_id", left_time="ts",
                         right_time="ts", lower="-30 minutes",
                         upper="-1 microseconds",
                         left_watermark="2 hours",
                         right_watermark="2 hours")
    out = sw.run_available_now(
        j, output_mode="append",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/events.parquet", 8, rows_per_part=20_000))
    return (out.groupBy("event_id", "user_id")
            .agg(F.count("*").alias("n_views"),
                 F.round(F.sum("value_r"), 2).alias("sum_view_value")))


@_q("stream_dedup", """
SELECT DISTINCT md5(text) AS fp FROM documents
""")
def q_stream_dedup(spark, sf_dir):
    """Custom stateful streaming operator (streaming/stateful.py
    streaming_dedup, applyInPandasWithState): exact first-seen-wins
    dedup over a multi-file document stream, drained with
    Trigger.AvailableNow. The emitted key set must equal batch
    DISTINCT over the same corpus — that's the oracle; keep_id is
    dropped because which duplicate survives depends on micro-batch
    arrival order (documented operator contract, not an engine
    property)."""
    from .streaming import stateful

    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.md5("text").alias("fp")))
    stream = _replay_stream(spark, docs, f"{sf_dir}/documents.parquet", "docs")
    # ~50k fp groups per batch at sf0.1 (running_totals has only
    # ~1.5k groups and starts from base 4); volume-adaptive above that
    out = sw.run_available_now(
        stateful.streaming_dedup(stream), output_mode="append",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/documents.parquet", 8))
    return out.select("fp")


@_q("stream_dedup_watermark", """
SELECT DISTINCT user_id, event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
FROM events
""")
def q_stream_dedup_watermark(spark, sf_dir):
    """Engine-managed streaming dedup (streaming/stateful.py
    watermark_dedup, dropDuplicatesWithinWatermark): one row per
    distinct (user_id, event_type, hour) over a multi-file event
    stream, state evicted by the event-time watermark instead of a
    custom TTL — the built-in complement to stream_dedup's
    applyInPandasWithState operator, and the preferred form at scale
    when duplicates cluster in event time (no Python stage, JVM state
    store, bounded state for free). The key includes the hour bucket,
    so in-key duplicate spread (< 1 hour) is bounded below the
    2-hour watermark delay by construction and the emitted key set
    equals batch DISTINCT regardless of micro-batch boundaries —
    exactly the oracle. The replay is staged TIME-ORDERED
    (range-partitioned on ts): with unordered replay, any batch after
    the watermark's first advance silently drops its old rows as late
    (measured: 3 unordered batches lose exactly the late third) —
    the engine contract, covered by a negative test in
    test_streaming.py."""
    from .streaming import stateful

    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_type", "ts",
                  F.date_format(F.date_trunc("hour", "ts"),
                                "yyyy-MM-dd HH:00").alias("hour")))
    stream = _replay_stream(
        spark, ev, f"{sf_dir}/events.parquet", "evw", range_col="ts")
    out = sw.run_available_now(
        stateful.watermark_dedup(
            stream, ["user_id", "event_type", "hour"],
            ts_col="ts", watermark="2 hours"),
        output_mode="append",
        state_partitions=_stream_state_partitions(
            spark, f"{sf_dir}/events.parquet", 8, rows_per_part=20_000))
    return out.select("user_id", "event_type", "hour")


@_q("sessionize", """
WITH gaps AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) > 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions
FROM gaps GROUP BY user_id
""")
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag window to mark
    session starts, then a per-user count."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(lag_ts.isNull(), 1).when(
        F.unix_micros(F.col("ts")) - F.unix_micros(lag_ts) > 1_800_000_000, 1
    ).otherwise(0)
    return (_t(spark, sf_dir, "events")
            .select("user_id", new_s.alias("new_session"))
            .groupBy("user_id")
            .agg(F.sum("new_session").cast("long").alias("n_sessions")))


@_q("asof_join_events", """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT user_id, epoch_us(ts) AS tsu, value AS prior_view_value
      FROM events WHERE event_type = 'view')
SELECT l.event_id, l.user_id, r.prior_view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsu >= r.tsu
""")
def q_asof_join_events(spark, sf_dir):
    """Backward as-of join (operators/asof.py): each purchase picks up
    the value of the user's most recent earlier-or-simultaneous view.
    One key-partitioned sort window — no range cross-join. Times are
    compared as unix micros on both engines, the precision the parquet
    stores."""
    from .operators import asof

    ev = _t(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", F.unix_micros("ts").alias("tsu")))
    right = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.unix_micros("ts").alias("tsu"),
                     F.col("value").alias("prior_view_value")))
    out = asof.asof_join(left, right, on="tsu", by=["user_id"])
    return out.select("event_id", "user_id", "prior_view_value")


@_q("events_json", """
SELECT event_type, sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
FROM events GROUP BY event_type
""")
def q_events_json(spark, sf_dir):
    """Semi-structured extraction: pull a key out of the JSON props
    column and aggregate (JVM-side JSON path, no UDF)."""
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.sum(F.get_json_object(F.col("props"), "$.k").cast("long"))
                 .alias("sum_k")))


@_q("csv_source_roundtrip", """
SELECT n_nationkey, n_name, n_regionkey
FROM nation WHERE n_regionkey >= 2
""")
def q_csv_source_roundtrip(spark, sf_dir):
    """The CSV source (reference parsing contract: schema required,
    header skip, "null" token) exercised against the oracle: nation is
    written lossless to CSV (ints + strings only) then read back with
    LazyFrame.from_csv and filtered through the engine. The write is a
    per-run fixture; the scan under test is the distributed CSV read."""
    import os
    import tempfile

    from .schema import DataType

    nat = _t(spark, sf_dir, "nation")
    path = os.path.join(tempfile.gettempdir(),
                        f"rivulus_csv_nation_{abs(hash(sf_dir)) % 10**8}")
    (nat.coalesce(1).write.mode("overwrite")
     .option("header", True).option("nullValue", "null").csv(path))
    lf = LazyFrame.from_csv(spark, path,
                            schema=[("n_nationkey", DataType.INT64),
                                    ("n_name", DataType.STRING),
                                    ("n_regionkey", DataType.INT64)])
    return (lf.filter(col("n_regionkey") >= 2)
            .select("n_nationkey", "n_name", "n_regionkey")
            .to_spark())


@_q("mem_source_join", """
SELECT m.tier,
       count(*) AS n_nations,
       sum(m.boost) AS total_boost,
       max(CAST(m.note AS VARCHAR)) AS note
FROM nation n
JOIN (VALUES (0, 'low',  1.0, NULL),
             (1, 'mid',  2.0, NULL),
             (2, 'mid',  2.5, NULL),
             (3, 'high', 3.0, NULL),
             (4, 'high', 3.5, NULL)) AS m(r_key, tier, boost, note)
  ON n.n_regionkey = m.r_key
GROUP BY m.tier
""")
def q_mem_source_join(spark, sf_dir):
    """The in-memory DataFrameSource (reference builder.rs:27-39,
    S1-S3) end to end: a dict-of-columns table built with
    ``LazyFrame.from_dataframe`` — exercising first-non-null type
    inference, Int64+Float64 promotion (``boost`` mixes 2 and 2.5),
    and all-null -> NullType (``note``) — joined against parquet
    through the engine's join contract and aggregated. The null-typed
    column is carried through join and aggregation (cast to string at
    the edge; NullType itself has no stable Arrow/pandas rendering)."""
    mem = LazyFrame.from_dataframe(spark, {
        "r_key": [0, 1, 2, 3, 4],
        "tier": ["low", "mid", "mid", "high", "high"],
        "boost": [1.0, 2, 2.5, 3, 3.5],
        "note": [None, None, None, None, None],
    })
    nat = _lf(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    joined = nat.join(mem, "n_regionkey", "r_key", broadcast_right=True)
    return (joined.to_spark()
            .groupBy("tier")
            .agg(F.count("*").alias("n_nations"),
                 F.sum("boost").alias("total_boost"),
                 F.max(F.col("note").cast("string")).alias("note")))


@_q("join_null_safe", """
SELECT t.grp, count(*) AS n, sum(v.val)::BIGINT AS total
FROM (VALUES (1, 'a'), (NULL, 'b'), (2, 'c'), (NULL, 'd')) t(k, grp)
JOIN (VALUES (1, 10), (NULL, 40), (2, 20)) v(k, val)
  ON t.k IS NOT DISTINCT FROM v.k
GROUP BY t.grp
""")
def q_join_null_safe(spark, sf_dir):
    """The reference's null-join semantics (series.rs:90: Null == Null
    is TRUE, unlike SQL three-valued logic) as a first-class join
    option: ``join(..., null_safe=True)`` compiles to ``<=>`` — still
    a hash-partitionable equi-join — so rows with null keys pair up
    instead of silently dropping. Exercised through the in-memory
    source path end to end."""
    left = LazyFrame.from_dataframe(spark, {
        "k": [1, None, 2, None],
        "grp": ["a", "b", "c", "d"],
    })
    right = LazyFrame.from_dataframe(spark, {
        "k": [1, None, 2],
        "val": [10, 40, 20],
    })
    j = left.join(right, "k", "k", null_safe=True)
    return (j.to_spark()
            .groupBy("grp")
            .agg(F.count("*").alias("n"),
                 F.sum("val").cast("long").alias("total")))


@_q("sql_entry_q6", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""")
def q_sql_entry_q6(spark, sf_dir):
    """TPC-H Q6 through the engine's SQL string entry point (the
    reference is API-only; rivulus_spark.sql adds the SQL surface).
    Scan-only plan: every predicate pushes into the parquet scan."""
    from . import sql as rsql
    from .sources.tables import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return rsql.sql(spark, """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24.0
    """).to_spark()


@_q("sketch_quantiles", """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p05,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p095,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p099
FROM orders GROUP BY o_orderpriority
""")
def q_sketch_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (PERCENTILE_CONT
    semantics on both engines)."""
    from .operators import sketch

    return sketch.exact_quantiles(_t(spark, sf_dir, "orders"),
                                  "o_totalprice", [0.5, 0.95, 0.99],
                                  by=["o_orderpriority"])


@_q("heavy_hitters", """
WITH counted AS (
  SELECT l_partkey AS value, count(*) AS n FROM lineitem GROUP BY l_partkey
)
SELECT value, n, row_number() OVER (ORDER BY n DESC, value) AS rank
FROM counted ORDER BY n DESC, value LIMIT 20
""")
def q_heavy_hitters(spark, sf_dir):
    """Exact top-20 most frequent part keys (heavy hitters)."""
    from .operators import sketch

    out = sketch.heavy_hitters(_t(spark, sf_dir, "lineitem"), "l_partkey", 20)
    return out.select("value", "n", F.col("rank").cast("long").alias("rank"))


@_q("approx_distinct_sketch", """
SELECT 'l_partkey' AS "column", count(DISTINCT l_partkey)::BIGINT AS n_exact,
       TRUE AS hll_within_bounds FROM lineitem
UNION ALL
SELECT 'l_suppkey', count(DISTINCT l_suppkey)::BIGINT, TRUE FROM lineitem
UNION ALL
SELECT 'l_orderkey', count(DISTINCT l_orderkey)::BIGINT, TRUE FROM lineitem
""")
def q_approx_distinct_sketch(spark, sf_dir):
    """HyperLogLog++ distinct counts over lineitem keys — mergeable
    fixed-memory sketch, the 100 TB cardinality path. The raw HLL
    estimate is engine-specific, so the registered observable is the
    *bounds audit* (estimate within 3·rsd of exact — deterministic for
    a fixed input), which gives the sketch a hash-matched oracle row;
    the production estimate path is ``sketch.approx_distinct``."""
    from .operators import sketch

    return sketch.approx_distinct_audit(
        _t(spark, sf_dir, "lineitem"),
        ["l_partkey", "l_suppkey", "l_orderkey"])


@_q("column_profile", """
SELECT 'o_orderkey' AS "column", count(o_orderkey)::BIGINT AS n_non_null,
       CAST(min(o_orderkey) AS VARCHAR) AS min_str,
       CAST(max(o_orderkey) AS VARCHAR) AS max_str,
       TRUE AS distinct_ok FROM orders
UNION ALL
SELECT 'o_custkey', count(o_custkey)::BIGINT,
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR),
       TRUE FROM orders
UNION ALL
SELECT 'o_orderstatus', count(o_orderstatus)::BIGINT,
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR),
       TRUE FROM orders
UNION ALL
SELECT 'o_totalprice', count(o_totalprice)::BIGINT,
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR),
       TRUE FROM orders
UNION ALL
SELECT 'o_orderpriority', count(o_orderpriority)::BIGINT,
       CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR),
       TRUE FROM orders
""")
def q_column_profile(spark, sf_dir):
    """Single-pass table profile (count / min / max / distinct-bounds
    per column) — N columns profiled in ONE aggregate scan. The
    approximate-distinct value is audited against the exact count
    (within 3·rsd) rather than emitted raw, so every output cell is
    deterministic and the profile is oracle-checkable end to end; the
    raw-estimate variant is ``sketch.column_profile``."""
    from .operators import sketch

    return sketch.profile_audit(_t(spark, sf_dir, "orders"),
                                ["o_orderkey", "o_custkey", "o_orderstatus",
                                 "o_totalprice", "o_orderpriority"])


# ======================================================================
# North star: text analysis (operators/text.py)
# ======================================================================

@_q("text_token_count", """
SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
FROM documents
""")
def q_text_token_count(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    text_ops.token_count("text").cast("long").alias("n_tokens")))


@_q("text_quality", """
SELECT doc_id,
       length(text)::BIGINT AS n_chars_actual,
       len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
       floor(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
             / len(regexp_split_to_array(trim(text), '\\s+')) * 100) / 100 AS avg_token_len,
       floor(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
             / length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1000) / 1000
           AS punct_ratio,
       floor(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 w -> list_contains(['the','a','of','and','to','is','in','it'], w)))::DOUBLE
             / len(regexp_split_to_array(trim(text), '\\s+')) * 1000) / 1000
           AS stopword_ratio,
       len(regexp_split_to_array(trim(text), '\\s+')) < 50 AS is_short
FROM documents
""")
def q_text_quality(spark, sf_dir):
    df = text_ops.quality_features(_t(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("n_chars_actual").cast("long"),
                     F.col("n_tokens").cast("long"),
                     "avg_token_len", "punct_ratio", "stopword_ratio",
                     "is_short")


@_q("text_bpe_tokens", r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
           AS n_bpe_tokens
FROM documents
""")
def q_text_bpe_tokens(spark, sf_dir):
    """Subword-style pre-tokenization count (BPE pre-tokenizer core;
    RE2-compatible pattern so Java regex and DuckDB agree exactly)."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", text_ops.bpe_token_count("text")
                    .cast("long").alias("n_bpe_tokens")))


@_q("text_chunking", """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
s AS (SELECT doc_id, w,
             unnest(range(0, greatest(len(w) - 8 - 1, 0) + 1, 24)) AS start
      FROM t)
SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
       array_to_string(list_slice(w, start + 1, start + 32), ' ') AS chunk_text,
       len(list_slice(w, start + 1, start + 32))::BIGINT AS n_chunk_tokens
FROM s
""")
def q_text_chunking(spark, sf_dir):
    """Context-window chunking: 32-token windows overlapping by 8 —
    the packing primitive ahead of tokenization. Pure projection +
    explode, fan-out linear in corpus tokens."""
    return text_ops.chunk_documents(_t(spark, sf_dir, "documents"),
                                    max_tokens=32, overlap=8)


def _bpe_reference_merges(sf_dir: str,
                          n_merges: int) -> list[tuple[int, str, str, int]]:
    """Independent reference implementation of BPE merge training: a
    single-threaded dict-based trainer (the classic Sennrich et al.
    shape) over the same whitespace tokens, sharing NOTHING with the
    Spark implementation but the spec — greedy leftmost
    non-overlapping merging, ties broken by lexicographically smallest
    (lhs, rhs). It reads only the vocab-collapsed word table, so it
    stays cheap through sf1 (Heaps' law — same collapse the operator
    itself relies on)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT word, count(*) FROM (SELECT unnest(regexp_split_to_array("
        f"trim(text), '\\s+')) AS word FROM '{sf_dir}/documents.parquet')"
        " WHERE len(word) >= 2 GROUP BY word").fetchall()
    con.close()
    freqs = dict(rows)
    syms = {w: list(w) for w in freqs}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, f in freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] = pc.get(p, 0) + f
        if not pc:
            break
        (lhs, rhs), count = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, lhs, rhs, count))
        fused = lhs + rhs
        for w, s in syms.items():
            out = [s[0]]
            for tok in s[1:]:
                if out[-1] == lhs and tok == rhs:
                    out[-1] = fused
                else:
                    out.append(tok)
            syms[w] = out
    return merges


def _bpe_apply_reference(word: str,
                         merges: list[tuple[str, str]]) -> list[str]:
    """Reference Sennrich encode of one word: each learned merge
    applied greedy-leftmost, in rank order."""
    s = list(word)
    for lhs, rhs in merges:
        if len(s) < 2:
            break
        out = [s[0]]
        for tok in s[1:]:
            if out[-1] == lhs and tok == rhs:
                out[-1] = lhs + rhs
            else:
                out.append(tok)
        s = out
    return s


def _bpe_train_oracle(sf_dir: str,
                      n_merges: int = 8) -> str:
    """Reference merge table as a VALUES literal. The table is exact
    (integer counts, deterministic tie-break), so the driver's
    hash-match compares full spec strength at every sf the builder
    can afford."""
    merges = _bpe_reference_merges(sf_dir, n_merges)
    values = ",\n".join(
        "(%d, '%s', '%s', %d)"
        % (rk, l.replace("'", "''"), r.replace("'", "''"), c)
        for rk, l, r, c in merges)
    return (f"SELECT * FROM (VALUES {values}) "
            "AS t(merge_rank, lhs, rhs, pair_count)")


def _bpe_encode_oracle(sf_dir: str,
                       n_merges: int = 8) -> str:
    """Per-document encode counts from the SAME independent reference
    (train with the reference trainer, encode each distinct word with
    the reference encoder, sum per document), emitted as a VALUES
    literal — the full train→encode loop checked end to end against
    an implementation that shares no code with the engine. Documents
    with no tokens would emit no row (explode semantics on the Spark
    side); the synthetic corpus has none."""
    import re

    import duckdb

    merges = [(l, r) for _, l, r, _ in
              _bpe_reference_merges(sf_dir, n_merges)]
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    wp: dict[str, int] = {}
    out = []
    for doc_id, text in docs:
        # Java-\s semantics, not Python's: Spark's split uses Java
        # regex (ASCII [ \t\n\x0B\f\r]) and F.trim strips spaces only;
        # empty split artifacts are dropped on BOTH sides (the Spark
        # encode filters length > 0), so the trim asymmetry is moot
        words = [w for w in
                 re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ")) if w]
        if not words:
            continue
        n_pieces = 0
        for w in words:
            if w not in wp:
                wp[w] = len(_bpe_apply_reference(w, merges))
            n_pieces += wp[w]
        out.append((doc_id, len(words), n_pieces))
    values = ",\n".join("(%d, %d, %d)" % row for row in out)
    return (f"SELECT doc_id, n_tokens::BIGINT AS n_tokens, "
            f"n_pieces::BIGINT AS n_pieces FROM (VALUES {values}) "
            "AS t(doc_id, n_tokens, n_pieces)")


@_q("bpe_train_merges", _bpe_train_oracle)
def q_bpe_train_merges(spark, sf_dir):
    """Tokenizer fit: learn the first 8 BPE merges from the corpus
    (operators/bpe.train_merges_from_docs). ONE corpus pass collapses
    to the (word, freq) table; every merge round is vocab-sized and
    fully JVM-side (zip_with pair explode → partial-agg →
    TakeOrdered(1); the merge application is a codegen aggregate
    fold), with a 1-row driver barrier per round — the k-means
    centroid pattern. The oracle is an independent single-threaded
    reference trainer emitted as a VALUES literal (exact integer
    counts, deterministic tie-break)."""
    from .operators import bpe

    return bpe.train_merges_from_docs(
        _t(spark, sf_dir, "documents"), n_merges=8)


@_q("bpe_encode_corpus", _bpe_encode_oracle)
def q_bpe_encode_corpus(spark, sf_dir):
    """The tokenizer loop closed: train 8 BPE merges, then encode the
    corpus with them — per-document whitespace-token and BPE-piece
    counts. The merges apply to the DISTINCT-word table (vocab-sized,
    Heaps' law — never per token), then the token stream joins the
    (word, n_pieces) lookup; every stage is JVM-side, the merge list
    is a k-row driver barrier. Oracle: the independent reference
    trainer+encoder materialized per document."""
    from . import cache
    from .operators import bpe

    docs = _t(spark, sf_dir, "documents")
    # ONE persisted (word, freq) table feeds both training (len>=2
    # filter) and the encode vocab (opt r11): saves a corpus tokenize
    # pass + a corpus-token distinct shuffle vs training and encoding
    # from the raw docs twice
    words = cache.persist(bpe.corpus_word_table(docs))
    merges = bpe.train_merges(words.filter(F.length("word") >= 2),
                              n_merges=8)
    return bpe.encode_docs_with_merges(docs, merges, vocab_words=words)


def _tokenizer_fertility_oracle(sf_dir: str) -> str:
    return ("WITH enc AS (" + _bpe_encode_oracle(sf_dir) + """)
SELECT d.lang, count(*)::BIGINT AS n_docs,
       sum(enc.n_tokens)::BIGINT AS n_tokens,
       sum(enc.n_pieces)::BIGINT AS n_pieces,
       floor(sum(enc.n_pieces)::DOUBLE / sum(enc.n_tokens) * 1000000)
         / 1000000 AS pieces_per_token,
       floor(sum(d.n_chars)::DOUBLE / sum(enc.n_pieces) * 1000000)
         / 1000000 AS chars_per_piece
FROM enc JOIN documents d USING (doc_id)
GROUP BY d.lang
""")


@_q("tokenizer_fertility", _tokenizer_fertility_oracle)
def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (bpe.tokenizer_fertility, r8
    debut): pieces per whitespace token and source chars per piece
    under the 8-merge trained BPE — the multilingual acceptance check
    that catches a vocabulary taxing under-represented languages.
    Heaps-law encode (merges on the distinct-word table) + one
    metadata join + 5-key group-by; ratios are single divisions of
    exact integer sums. Oracle: the independent reference
    trainer+encoder aggregated per language."""
    from . import cache
    from .operators import bpe

    docs = _t(spark, sf_dir, "documents")
    # same shared-word-table composition as q_bpe_encode_corpus (opt
    # r11): one tokenize pass for train + encode
    words = cache.persist(bpe.corpus_word_table(docs))
    merges = bpe.train_merges(words.filter(F.length("word") >= 2),
                              n_merges=8)
    return bpe.tokenizer_fertility(docs, merges, group_col="lang",
                                   vocab_words=words)


#: classifier feature columns (order matters: weights/means/stds align)
_CLF_FEATURES = ["n_tokens", "avg_token_len", "punct_ratio",
                 "stopword_ratio"]
# 12 GD rounds: accuracy is flat past ~8 on this signal, and each
# round is one whole aggregation job — the iteration count IS the
# query's fixed cost, so it's sized to convergence, not habit
_CLF_ITERS = 12
_CLF_LR = 1.0

#: DuckDB replica of text.quality_features' floored feature exprs —
#: copied from the text_quality oracle so classifier inputs are
#: bit-identical across engines (floors are cross-engine exact)
_CLF_FEATURE_SQL = """
SELECT source, length(text) > 300 AS label,
       len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE AS n_tokens,
       floor(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
             / len(regexp_split_to_array(trim(text), '\\s+')) * 100) / 100
           AS avg_token_len,
       floor(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
             / length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1000)
           / 1000 AS punct_ratio,
       floor(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 w -> list_contains(['the','a','of','and','to','is','in','it'],
                                    w)))::DOUBLE
             / len(regexp_split_to_array(trim(text), '\\s+')) * 1000) / 1000
           AS stopword_ratio
FROM '{sf_dir}/documents.parquet'
"""


def _clf_reference_fit(sf_dir: str):
    """Independent single-threaded reference of the classifier fit:
    features via DuckDB (bit-identical floored exprs), z-score with
    population std, full-batch GD in numpy — shares nothing with the
    Spark implementation but the spec. Returns (w, means, stds, X, y,
    langs) so the score oracle can reuse the fit."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(_CLF_FEATURE_SQL.format(sf_dir=sf_dir)).fetchall()
    con.close()
    sources = [r[0] for r in rows]
    X = np.array([r[2:] for r in rows], dtype=np.float64)
    y = np.array([1.0 if r[1] else 0.0 for r in rows])
    means = X.mean(axis=0)
    stds = X.std(axis=0)
    stds[stds == 0.0] = 1.0
    Xs = (X - means) / stds
    n, d = Xs.shape
    w = np.zeros(d + 1)
    for _ in range(_CLF_ITERS):
        z = w[0] + Xs @ w[1:]
        p = 1.0 / (1.0 + np.exp(-z))
        r = p - y
        w[0] -= _CLF_LR * r.sum() / n
        w[1:] -= _CLF_LR * (Xs.T @ r) / n
    return w, means, stds, Xs, y, sources


def _floor6(x: float) -> float:
    import math

    return math.floor(x * 1_000_000) / 1_000_000


def _clf_weights_oracle(sf_dir: str) -> str:
    w = _clf_reference_fit(sf_dir)[0]
    names = ["intercept"] + _CLF_FEATURES
    values = ",\n".join("('%s', %r)" % (nm, _floor6(wi))
                        for nm, wi in zip(names, w))
    return (f"SELECT feature, weight::DOUBLE AS weight "
            f"FROM (VALUES {values}) AS t(feature, weight)")


def _clf_filter_oracle(sf_dir: str) -> str:
    import numpy as np

    w, _, _, Xs, _, sources = _clf_reference_fit(sf_dir)
    p = 1.0 / (1.0 + np.exp(-(w[0] + Xs @ w[1:])))
    agg: dict[str, list[int]] = {}
    for src, keep in zip(sources, p >= 0.5):
        a = agg.setdefault(src, [0, 0])
        a[0] += 1
        a[1] += int(keep)
    values = ",\n".join("('%s', %d, %d)" % (src, a[0], a[1])
                        for src, a in sorted(agg.items()))
    return (f"SELECT source, n_docs::BIGINT AS n_docs, "
            f"n_kept::BIGINT AS n_kept FROM (VALUES {values}) "
            "AS t(source, n_docs, n_kept)")


def _clf_features_frame(spark, sf_dir):
    """Features + distillation label. The label is an out-of-feature
    signal (raw char length > 300 — the stand-in for an expensive
    labeler: a big model's quality judgment, a human rating) that the
    cheap token statistics must RECONSTRUCT; the synthetic corpus has
    no real language/quality signal (every lang shares one vocabulary),
    so a semantic label would be unlearnable noise. n_chars_actual is
    deliberately NOT a feature."""
    docs = _t(spark, sf_dir, "documents")
    return (text_ops.quality_features(docs)
            .join(docs.select("doc_id", "source"), "doc_id")
            .withColumn("n_tokens", F.col("n_tokens").cast("double"))
            .withColumn("label", F.col("n_chars_actual") > 300))


@_q("quality_classifier_weights", _clf_weights_oracle)
def q_quality_classifier_weights(spark, sf_dir):
    """Model-in-the-loop curation, fit step: train a logistic
    regression reconstructing an out-of-feature target (see
    _clf_features_frame) from the per-doc quality features
    (operators/classifier.py — full-batch GD, one codegen aggregation
    per iteration, d+1 doubles per driver barrier, zero Python
    stages). Output: the learned weights in standardized space,
    floor-truncated to 6 decimals — the trained MODEL itself is the
    oracle-checked observable, against an independent numpy
    reference."""
    from .operators import classifier

    feats = _clf_features_frame(spark, sf_dir)
    w, _, _ = classifier.logreg_fit(feats, _CLF_FEATURES, "label",
                                    n_iters=_CLF_ITERS, lr=_CLF_LR)
    names = ["intercept"] + _CLF_FEATURES
    rows = [(nm, w[nm]) for nm in names]
    out = spark.createDataFrame(rows, "feature string, weight double")
    return out.select(
        "feature",
        (F.floor(F.col("weight") * 1_000_000) / 1_000_000)
        .alias("weight"))


@_q("quality_classifier_filter", _clf_filter_oracle)
def q_quality_classifier_filter(spark, sf_dir):
    """Model-in-the-loop curation, apply step: fit the classifier,
    score every document (pure codegen projection — the corpus never
    shuffles), and report per-source keep counts at threshold 0.5 — the
    quality-filter funnel a curation pipeline reports. Train + apply
    in one query is the real shape: the filter is fit on the corpus
    it curates."""
    from .operators import classifier

    feats = _clf_features_frame(spark, sf_dir)
    w, means, stds = classifier.logreg_fit(
        feats, _CLF_FEATURES, "label", n_iters=_CLF_ITERS, lr=_CLF_LR)
    scored = classifier.logreg_score(feats, _CLF_FEATURES, w, means,
                                     stds)
    # residual cross-engine risk, accepted: a doc whose true score
    # sits within ~1e-12 of the 0.5 threshold could flip n_kept by 1
    # between engines (the floored-weights observable absorbs drift;
    # a thresholded COUNT cannot, for any threshold). Probability is
    # ~1e-8 per corpus; the weights query remains the drift-proof
    # observable of the same fit.
    return (scored.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum((F.col("score") >= 0.5).cast("long"))
                 .alias("n_kept")))


@_q("repeated_span_dedup", r"""
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
           FROM documents),
g AS (SELECT doc_id,
             unnest([{'pos': i-1,
                      's': words[i] || ' ' || words[i+1] || ' ' ||
                           words[i+2] || ' ' || words[i+3] || ' ' ||
                           words[i+4] || ' ' || words[i+5] || ' ' ||
                           words[i+6] || ' ' || words[i+7]}
                     for i in range(1, len(words)-6)]) AS u
      FROM w),
p AS (SELECT doc_id, u.pos AS pos,
             ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS h
      FROM g),
hot AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
m AS (SELECT doc_id, pos, pos + 7 AS e FROM p JOIN hot USING (h)),
isl AS (SELECT doc_id, pos, e,
               CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        + 1
                    THEN 1 ELSE 0 END AS ni
        FROM m),
isl2 AS (SELECT doc_id, pos, e,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS island
         FROM isl)
SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
       count(*)::BIGINT AS n_repeated_grams
FROM isl2 GROUP BY doc_id, island
""")
def q_repeated_span_dedup(spark, sf_dir):
    """Exact repeated-substring spans (operators/dedup.repeated_spans):
    merged token intervals covered by an 8-gram occurring >= 2 times
    anywhere in the corpus — the Lee et al. 2022 substring-dedup
    signal, re-expressed relationally (positioned shingle hashes ->
    partial-agg repeat count -> semi-join -> doc-partitioned island
    merge). Cost tracks REPEATED content, never corpus x corpus."""
    from .operators import dedup as dd

    out = dd.repeated_spans(_t(spark, sf_dir, "documents"), k=8,
                            min_repeats=2)
    return out.select("doc_id",
                      F.col("span_start").cast("long").alias("span_start"),
                      F.col("span_end").cast("long").alias("span_end"),
                      "n_repeated_grams")


@_q("cut_repeated_spans", r"""
WITH w AS (SELECT doc_id, text,
                  regexp_split_to_array(trim(text), '\s+') AS words
           FROM documents),
g AS (SELECT doc_id,
             unnest([{'pos': i-1,
                      's': words[i] || ' ' || words[i+1] || ' ' ||
                           words[i+2] || ' ' || words[i+3] || ' ' ||
                           words[i+4] || ' ' || words[i+5] || ' ' ||
                           words[i+6] || ' ' || words[i+7]}
                     for i in range(1, len(words)-6)]) AS u
      FROM w),
p AS (SELECT doc_id, u.pos AS pos,
             ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS h
      FROM g),
r AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM p),
cut AS (SELECT doc_id, pos, pos + 7 AS e FROM r
        WHERE cnt >= 2 AND rn >= 2),
aff AS (SELECT DISTINCT doc_id FROM cut),
toks AS (SELECT w.doc_id,
                unnest([{'pos': i-1, 'tok': words[i]}
                        for i in range(1, len(words)+1)]) AS u
         FROM w JOIN aff USING (doc_id)),
ev AS (SELECT doc_id, u.pos AS pos, NULL::BIGINT AS e, 1 AS kind,
              u.tok AS tok
       FROM toks
       UNION ALL
       SELECT doc_id, pos, e, 0 AS kind, NULL AS tok FROM cut),
sw AS (SELECT doc_id, pos, kind, tok,
              max(e) OVER (PARTITION BY doc_id ORDER BY pos, kind
                           ROWS UNBOUNDED PRECEDING) AS cover
       FROM ev),
reb AS (SELECT doc_id,
               count(*) FILTER (WHERE kind = 1)::BIGINT AS n_tokens,
               count(*) FILTER (WHERE kind = 1
                   AND (cover IS NULL OR cover < pos))::BIGINT AS n_kept,
               md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
                   FILTER (WHERE kind = 1
                           AND (cover IS NULL OR cover < pos)), ''))
                 AS clean_md5
        FROM sw GROUP BY doc_id)
SELECT doc_id, n_tokens, n_kept, clean_md5 FROM reb
UNION ALL
SELECT doc_id, len(words)::BIGINT AS n_tokens,
       len(words)::BIGINT AS n_kept, md5(text) AS clean_md5
FROM w WHERE doc_id NOT IN (SELECT doc_id FROM aff)
""")
def q_cut_repeated_spans(spark, sf_dir):
    """The ACTION step of Lee et al. 2022 substring dedup
    (dedup.cut_repeated_spans, r8 debut): repeated_span_dedup says
    WHERE the corpus repeats itself; this keeps the corpus-wide first
    occurrence of every repeated 8-gram, cuts every later
    occurrence's tokens, and reassembles surviving text — the policy
    (ORDER BY id, pos canonical rank, interval-sweep coverage,
    single-space rejoin) is fully relational, so the oracle
    replicates removal AND reassembly exactly. Only affected docs are
    reassembled; untouched docs project through verbatim. The
    observable is per-doc token counts plus the cleaned digest."""
    from .operators import dedup as dd

    out = dd.cut_repeated_spans(_t(spark, sf_dir, "documents"), k=8,
                                min_repeats=2)
    return out.select("doc_id", "n_tokens", "n_kept", "clean_md5")


@_q("stream_quality_score", _clf_filter_oracle)
def q_stream_quality_score(spark, sf_dir):
    """Offline-trained model served IN-STREAM — the deployment split a
    production quality filter actually runs: the logistic regression
    fits on the batch corpus (the offline training job), then its
    weights ride into the document stream as codegen literals and
    every micro-batch scores map-side (pure projection: no state, no
    shuffle, any throughput). The drained per-source keep counts must
    equal the all-batch `quality_classifier_filter` exactly — same
    oracle — because scoring is row-local and the stream replays the
    same corpus."""
    from .operators import classifier
    from .operators.text import (avg_token_len, punct_ratio,
                                 stopword_ratio, token_count)

    feats_b = _clf_features_frame(spark, sf_dir)
    w, means, stds = classifier.logreg_fit(
        feats_b, _CLF_FEATURES, "label", n_iters=_CLF_ITERS, lr=_CLF_LR)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    stream = _replay_stream(
        spark, docs, f"{sf_dir}/documents.parquet", "qscore")
    feats_s = stream.select(
        "source",
        token_count("text").cast("double").alias("n_tokens"),
        avg_token_len("text").alias("avg_token_len"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stopword_ratio"))
    scored = classifier.logreg_score(feats_s, _CLF_FEATURES, w, means,
                                     stds)
    out = sw.run_available_now(
        scored.select("source",
                      (F.col("score") >= 0.5).cast("long").alias("kept")),
        output_mode="append")
    return (out.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("kept").alias("n_kept")))


@_q("corpus_datacard", r"""
WITH base AS (
  SELECT source AS grp, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         floor(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               w -> list_contains(['the','a','of','and','to','is','in','it'],
                                  w)))::DOUBLE
               / len(regexp_split_to_array(trim(text), '\s+')) * 1000)
             AS stop_m,
         md5(text) AS fp
  FROM documents),
pg AS (SELECT grp, count(*) AS n_docs,
              sum(n_tok)::BIGINT AS total_tokens,
              sum(stop_m) AS stop_milli,
              sum(CASE WHEN n_tok < 50 THEN 1 ELSE 0 END) AS n_short
       FROM base GROUP BY grp),
fpc AS (SELECT fp, count(*) AS n_fp FROM base GROUP BY fp),
dups AS (SELECT grp, count(*) AS n_dup
         FROM base JOIN fpc USING (fp) WHERE n_fp >= 2 GROUP BY grp),
lh AS (SELECT grp, lang, count(*) AS n FROM base GROUP BY grp, lang),
tot AS (SELECT grp, sum(n) AS nt FROM lh GROUP BY grp),
ent AS (SELECT lh.grp,
               -sum((n::DOUBLE / nt) * ln(n::DOUBLE / nt)) AS lang_entropy
        FROM lh JOIN tot ON lh.grp = tot.grp GROUP BY lh.grp)
SELECT pg.grp AS source, n_docs::BIGINT AS n_docs, total_tokens,
       floor(coalesce(n_dup, 0)::DOUBLE / n_docs * 1000) / 1000 AS dup_frac,
       floor(n_short::DOUBLE / n_docs * 1000) / 1000 AS short_frac,
       floor(stop_milli::DOUBLE / n_docs) / 1000 AS mean_stopword_ratio,
       floor(lang_entropy * 1000) / 1000 AS lang_entropy
FROM pg LEFT JOIN dups ON pg.grp = dups.grp
JOIN ent ON pg.grp = ent.grp
""")
def q_corpus_datacard(spark, sf_dir):
    """Per-source release datasheet (operators/snapshot.datacard):
    volume, exact-duplicate share (corpus-wide fingerprints, so
    cross-source mirrors count), short-doc share, mean stopword
    ratio (exact integer accumulation), language-mix entropy — the
    one table a datasheet-for-datasets audit quotes at sign-off."""
    from .operators import snapshot

    return (snapshot.datacard(_t(spark, sf_dir, "documents"))
            .withColumn("n_docs", F.col("n_docs").cast("long")))


@_q("event_rate_anomalies", """
WITH h AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n_events
  FROM events GROUP BY event_type, hour),
s AS (SELECT event_type, avg(n_events) AS mu,
             stddev_pop(n_events) AS sigma
      FROM h GROUP BY event_type)
SELECT h.event_type, hour, n_events,
       floor((n_events - mu) / sigma * 1000) / 1000 AS z_score
FROM h JOIN s ON h.event_type = s.event_type
WHERE sigma > 0 AND abs((n_events - mu) / sigma) > 3.0
""")
def q_event_rate_anomalies(spark, sf_dir):
    """Ingest-volume anomaly telemetry (operators/stats.rate_anomalies):
    hours whose per-type event count is > 3 population-z from that
    type's mean hourly rate. One corpus-sized partial agg; everything
    downstream runs on the tiny (type, hour) table."""
    from .operators import stats as stats_ops

    return stats_ops.rate_anomalies(_t(spark, sf_dir, "events"))


@_q("source_similarity_matrix", r"""
WITH w AS (SELECT doc_id, source,
                  regexp_split_to_array(trim(text), '\s+') AS words
           FROM documents),
sh AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (SELECT source,
               unnest(list_distinct([words[i] || ' ' || words[i+1] || ' '
                                     || words[i+2]
                                     for i in range(1, len(words)-1)])) AS s
        FROM w)),
sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS group_a, b.source AS group_b,
         count(*) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT group_a, group_b, n_common::BIGINT AS n_common,
       floor(n_common::DOUBLE / (za.n + zb.n - n_common) * 1000000)
           / 1000000 AS jaccard
FROM inter
JOIN sz za ON za.source = group_a
JOIN sz zb ON zb.source = group_b
""")
def q_source_similarity_matrix(spark, sf_dir):
    """Source-level overlap audit (operators/dedup.group_jaccard_matrix):
    exact pairwise Jaccard between each source's 3-gram shingle set —
    which sources are re-crawls/mirrors of each other, decided BEFORE
    per-document dedup spends anything. Documents collapse to distinct
    (source, hash) rows; the intersection self-join fans out at most
    g² per shingle (g = #groups), never corpus-sized."""
    from .operators import dedup as dd

    return dd.group_jaccard_matrix(_t(spark, sf_dir, "documents"),
                                   group_col="source", k=3)


def _pca_oracle(sf_dir: str, k: int = 16) -> str:
    """Independent numpy reference for the PCA spectrum: embeddings
    read directly from parquet (pyarrow), population covariance and
    eigvalsh computed in one shot — no Spark, no batching, no
    distributed moment accumulation. Floor-6 on both sides absorbs
    the ~1e-12 partial-sum drift (Weyl: eigenvalues move at most the
    matrix drift)."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["embedding"])
    X = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    eig = np.linalg.eigvalsh(cov)[::-1]
    tot = eig.sum()
    rows = [(i + 1, np.floor(eig[i] * 1e6) / 1e6,
             np.floor(eig[i] / tot * 1e6) / 1e6)
            for i in range(min(k, len(eig)))]
    values = ",\n".join("(%d, %r, %r)" % r for r in rows)
    return (f"SELECT component::BIGINT AS component, "
            f"eigenvalue::DOUBLE AS eigenvalue, "
            f"explained_frac::DOUBLE AS explained_frac "
            f"FROM (VALUES {values}) "
            "AS t(component, eigenvalue, explained_frac)")


@_q("embedding_pca_spectrum", _pca_oracle)
def q_embedding_pca_spectrum(spark, sf_dir):
    """Embedding spectrum analysis (operators/pca.py): top-16
    principal eigenvalues + explained-variance fractions of the
    corpus embedding covariance — the effective-dimensionality audit
    that sizes IVF/LSH bit budgets and quantization error floors. One
    corpus pass: numpy X^T X per Arrow batch, slot-keyed moment sums,
    64x64 eigendecomposition as the driver's k-row barrier."""
    from .operators import pca

    return (pca.pca_spectrum(_t(spark, sf_dir, "embeddings"), k=16)
            .select(F.col("component").cast("long").alias("component"),
                    "eigenvalue", "explained_frac"))


#: deterministic PII suffix appended to the synthetic documents so the
#: scrub/count operators have real matches to find (same expression on
#: both engines)
_PII_SUFFIX_SQL = ("' contact user' || doc_id || '@example.com from 10.0.' "
                   "|| (doc_id % 200) || '.7 ssn 123-45-6789 tel 555-867-5309'")


def _stream_state_partitions(spark: SparkSession, source: str, base: int,
                             rows_per_part: int = 2_000) -> int:
    """State-store instance count for a stream over ``source``: one
    instance per ``rows_per_part`` input rows, at least ``base`` and at
    most 32, and never more than the session's task slots
    (``defaultParallelism``). The count is fixed from
    ``spark.sql.shuffle.partitions`` when the stream starts, so it is
    chosen per source.

    - Rows, not bytes: the cost of the ``applyInPandasWithState``
      queries is one Python call per state key, which tracks the row
      count, so the 2k default gives a larger input more instances.
    - JVM state stores (``dropDuplicatesWithinWatermark``,
      stream-stream joins, windowed aggregations) have no per-key
      Python cost; their cost on small inputs is the per-instance
      checkpoint commit. Their callers pass ``rows_per_part=20_000``.
    - Every instance commits its own delta, checkpoint-checksum and
      ``.crc`` files per micro-batch, and instances beyond the task
      slots only queue, so the slots cap the count. On a cluster that
      is the executors' total cores."""
    try:
        rows = _parquet_rows(source, 0)
    except Exception:
        rows = 0
    wanted = base if rows <= 0 else max(base, min(32, rows // rows_per_part))
    return min(wanted, spark.sparkContext.defaultParallelism)


def _stream_file_plan(source: str, base_files: int = 4) -> tuple[int, int]:
    """(n_staged_files, files_per_trigger) for a file-stream replay of
    ``source``: one staged file per ~4 MB of compressed source, at
    least ``base_files`` and at most 64, rounded up to an even count,
    with ``files_per_trigger`` half of that. The replay therefore
    drains in exactly two micro-batches, so state crosses one batch
    boundary, while read parallelism per batch grows with the data.
    :func:`_stream_state_partitions` sizes the state-store side. An
    unreadable ``source`` gets ``base_files`` files."""
    import os

    try:
        size = os.path.getsize(source)
    except OSError:
        return base_files, max(1, base_files // 2)
    n = int(max(base_files, min(64, size // (4 << 20))))
    n += n % 2
    return n, max(1, n // 2)


def _staged_stream_parquet(df: DataFrame, source: str, tag: str,
                           n_files: int,
                           range_col: str | None = None) -> str:
    """Stage ``df`` as a multi-file parquet dir of ``n_files`` files
    for file-stream replay (a per-trigger file cap needs several
    files) and return its path. The dir lives under the temp dir,
    keyed on ``tag``, ``n_files``, ``range_col``, the source's path,
    mtime and size, and the analyzed plan of ``df``; a dir with a
    ``_SUCCESS`` marker is reused as is, so a rerun of a streaming
    query does not pay the staging write. With ``range_col`` the files
    are range-partitioned on it and stamped with increasing mtimes, so
    the replay order is time order."""
    import hashlib
    import os
    import re as _re
    import tempfile

    try:
        st = os.stat(source)
        fingerprint = f"{source}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        fingerprint = source
    # the key must also cover the DERIVATION, not just the source
    # bytes — otherwise editing the staged projection silently replays
    # the old derivation from a stale dir. The analyzed plan text is a
    # deterministic fingerprint of the derivation once per-session
    # expression ids (#123) are stripped.
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        fingerprint += "|" + _re.sub(r"#\d+", "", plan)
    except Exception:
        # the py4j hop into queryExecution() can fail on a stopped or
        # mid-restart session; falling back to the source-only
        # fingerprint (path|mtime|size) is safe because every staged
        # derivation in this module also varies `tag`/`n_files`, which
        # stay in the key — the plan text only adds extra distinction
        # when one tag stages two different projections of one source
        pass
    key = hashlib.md5(
        f"{tag}|{n_files}|{range_col}|{fingerprint}".encode()) \
        .hexdigest()[:16]
    staging = os.path.join(tempfile.gettempdir(),
                           f"rivulus_stage_{tag}_{key}")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        # range_col: stage TIME-ORDERED files (range-partitioned, so
        # file k+1's rows are all >= file k's max) — replaying them in
        # path order gives a stream where no row is ever behind the
        # watermark, whatever the batch count. Event-time-stateful
        # consumers (dropDuplicatesWithinWatermark) NEED this: with
        # round-robin staging every batch spans the full time range
        # and any batch after the watermark's first advance silently
        # drops its old rows as late (measured: 3 unordered batches
        # lose exactly the late third). Also the realistic shape - a
        # production topic is roughly time-ordered.
        part = (df.repartitionByRange(n_files, F.col(range_col))
                if range_col else df.repartition(n_files))
        part.write.mode("overwrite").parquet(staging)
        if range_col:
            # FileStreamSource replays in ascending MODIFICATION time
            # (ties arbitrary) — one write stamps every part file with
            # the same mtime, so range order by name is not enough.
            # Stamp strictly increasing mtimes in part-name (= range)
            # order to pin the replay order.
            parts = sorted(f for f in os.listdir(staging)
                           if f.startswith("part-"))
            base = os.stat(staging).st_mtime
            for i, f in enumerate(parts):
                p = os.path.join(staging, f)
                os.utime(p, (base + i + 1, base + i + 1))
    return staging


def _replay_stream(spark: SparkSession, df: DataFrame, source: str,
                   tag: str, range_col: str | None = None) -> DataFrame:
    """File-stream replay of ``df`` (derived from ``source``): staged
    once per content by :func:`_staged_stream_parquet`, then read back
    as a stream that drains in exactly two micro-batches
    (:func:`_stream_file_plan`)."""
    n_files, per_trigger = _stream_file_plan(source)
    staging = _staged_stream_parquet(df, source, tag, n_files=n_files,
                                     range_col=range_col)
    return (spark.readStream
            .schema(df.schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(staging))


def _pii_augmented(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .withColumn("t", F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7 ssn 123-45-6789 tel 555-867-5309"))))


@_q("pii_scrub", r"""
WITH aug AS (
  SELECT doc_id, text || """ + _PII_SUFFIX_SQL + r""" AS t FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
  len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::BIGINT AS n_phone,
  (len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
   + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
   + len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
   + len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')))::BIGINT AS n_pii,
  md5(regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')) AS scrub_md5
FROM aug
""")
def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (operators/clean.py): per-document
    match counts per pattern class and the MD5 of the scrubbed text
    (the scrubbed body itself stays distributed — only the 32-char
    digest is emitted, so the query output is audit-sized at any
    corpus scale). Pure codegen regex projection, no shuffle."""
    from .operators import clean

    df = clean.pii_counts(_pii_augmented(spark, sf_dir), "t")
    return df.select("doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone",
                     "n_pii",
                     F.md5(clean.pii_scrub("t")).alias("scrub_md5"))


@_q("html_strip", """
WITH h AS (
  SELECT doc_id,
         '<div class="post"><p>' || text || '</p>&nbsp;<a href="http://x.test/'
         || doc_id || '">link &amp; more</a></div>' AS html
  FROM documents),
s0 AS (SELECT doc_id, regexp_replace(html, '<[^>]+>', ' ', 'g') AS t FROM h),
s1 AS (SELECT doc_id,
              replace(replace(replace(replace(replace(replace(t,
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
       FROM s0),
s2 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS t FROM s1)
SELECT doc_id, md5(t) AS stripped_md5, length(t)::BIGINT AS n_chars_stripped
FROM s2
""")
def q_html_strip(spark, sf_dir):
    """Markup removal (operators/clean.py): documents wrapped in a
    deterministic HTML shell, then tag-stripped, entity-decoded, and
    whitespace-collapsed. Emits the digest + length of the cleaned
    body (engine-portable check without shipping the text)."""
    from .operators import clean

    html = F.concat(
        F.lit('<div class="post"><p>'), F.col("text"),
        F.lit('</p>&nbsp;<a href="http://x.test/'),
        F.col("doc_id").cast("string"),
        F.lit('">link &amp; more</a></div>'))
    df = _t(spark, sf_dir, "documents").withColumn("html", html)
    stripped = clean.strip_html("html")
    return df.select("doc_id",
                     F.md5(stripped).alias("stripped_md5"),
                     F.length(stripped).cast("long")
                     .alias("n_chars_stripped"))


#: Gopher-rule counts CTE over documents (shared by gopher_quality and
#: the v2 curation pipeline's oracle)
_GOPHER_CTE = r"""g AS (
  SELECT doc_id, text, source, n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS wc,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS nonspace,
         len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))
           + len(regexp_extract_all(text, '…')) AS n_sym,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         (CASE WHEN len(regexp_extract_all(text, '\bthe\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bbe\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bto\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bof\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\band\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bthat\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bhave\b')) > 0 THEN 1 ELSE 0 END
          + CASE WHEN len(regexp_extract_all(text, '\bwith\b')) > 0 THEN 1 ELSE 0 END)
           AS n_stops
  FROM documents)"""

#: the gopher_pass predicate over the g CTE's counts (min_words=30)
_GOPHER_PASS = ("(wc >= 30 AND wc <= 100000)"
                " AND (nonspace::DOUBLE / wc >= 3.0"
                "      AND nonspace::DOUBLE / wc <= 10.0)"
                " AND (n_sym::DOUBLE / wc <= 0.1)"
                " AND (n_alpha::DOUBLE / wc >= 0.8)"
                " AND (n_stops >= 2)")


#: the structural Gopher flags (no stopword rule: the synthetic
#: vocabulary contains almost none of the Gopher stopword list, so
#: flag_stops rejects the WHOLE corpus — fine for the flag-audit
#: query, vacuous for a filter)
_GOPHER_PASS_STRUCTURAL = ("(wc >= 30 AND wc <= 100000)"
                           " AND (nonspace::DOUBLE / wc >= 3.0"
                           "      AND nonspace::DOUBLE / wc <= 10.0)"
                           " AND (n_sym::DOUBLE / wc <= 0.1)"
                           " AND (n_alpha::DOUBLE / wc >= 0.8)")


@_q("stream_curate_sink", lambda sf_dir: rf"""
WITH {_GOPHER_CTE},
kept AS (
  SELECT doc_id, source,
         text || {_PII_SUFFIX_SQL} AS t
  FROM g WHERE {_GOPHER_PASS_STRUCTURAL}),
scrub AS (
  SELECT source,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g'),
               '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b',
               '<IP>', 'g'),
             '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '<SSN>', 'g'),
           '\b\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b', '<PHONE>', 'g') AS s
  FROM kept)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(('0x' || substr(md5(s), 1, 15))::BIGINT % 1000003)::BIGINT
           AS scrub_sig
FROM scrub GROUP BY source
""")
def q_stream_curate_sink(spark, sf_dir):
    """End-to-end STREAMING curation into a production file sink:
    documents stream in (multi-file AvailableNow replay), the Gopher
    gate and PII scrub run as per-batch codegen projections, and the
    survivors land in a source-partitioned parquet sink committed
    exactly-once through the checkpoint manifest
    (streaming/windows.run_available_now_to_files) — the continuous-
    ingest deployment shape, where each drain picks up the backlog and
    appends atomically. The query then reads the sink BACK (proving
    the landed layout, not the in-flight frame) and reports per-source
    doc counts + an order-independent content signature; the oracle is
    the batch gate+scrub over the same corpus, which exactly-once
    semantics must equal."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .operators import clean
    from .operators.text import word_hash

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    stream = _replay_stream(
        spark, docs, f"{sf_dir}/documents.parquet", "curate")
    gated = (clean.gopher_quality(stream, min_words=30)
             # structural flags only — the stopword rule rejects the
             # entire synthetic corpus (see _GOPHER_PASS_STRUCTURAL)
             .filter("flag_wc AND flag_mean_wl AND flag_symbols "
                     "AND flag_alpha")
             .withColumn("t", F.concat(
                 F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10.0."),
                 (F.col("doc_id") % 200).cast("string"),
                 F.lit(".7 ssn 123-45-6789 tel 555-867-5309"))))
    scrubbed = gated.select("doc_id", "source",
                            clean.pii_scrub("t").alias("scrubbed"))
    # fresh sink+checkpoint pair per run: the checkpoint manifest is
    # the exactly-once source of truth, so reusing a sink dir under a
    # NEW checkpoint would double-count (see the runner's docstring).
    # The sink path is keyed on the input and emptied before each
    # drain; the checkpoint lives only for the drain, because the
    # read-back below goes through the sink's own _spark_metadata log
    sink = os.path.join(
        tempfile.gettempdir(),
        "rivulus_curate_sink_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    shutil.rmtree(sink, ignore_errors=True)
    with tempfile.TemporaryDirectory(prefix="rivulus_ckpt_") as ckpt:
        sw.run_available_now_to_files(scrubbed, sink, ckpt,
                                      partition_by="source")
    # explicit schema: a gate that keeps nothing leaves a files-less
    # sink (only _spark_metadata), where inference would error — an
    # empty curated release is a valid result, not a crash
    back = spark.read.schema(scrubbed.schema).parquet(sink)
    return (back.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(word_hash(F.col("scrubbed")) % 1_000_003)
                 .alias("scrub_sig")))


@_q("lexicon_filter", r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\b(error|fail|slow)\b'))::BIGINT
         AS n_lexicon_hits,
       floor(len(regexp_extract_all(text, '\b(error|fail|slow)\b'))::DOUBLE
             / len(regexp_split_to_array(trim(text), '\s+'))
             * 100000) / 100000 AS lexicon_ratio,
       (len(regexp_extract_all(text, '\b(error|fail|slow)\b'))::DOUBLE
        / len(regexp_split_to_array(trim(text), '\s+')) <= 0.02)
         AS lexicon_pass
FROM documents
""")
def q_lexicon_filter(spark, sf_dir):
    """Wordlist (blocklist) scoring (clean.lexicon_score): counts and
    ratio of word-boundary matches against a term list plus the
    threshold flag — the cheap policy pass before any model-based
    scoring. One regex alternation in codegen; both engines derive the
    ratio from the same integer counts."""
    from .operators import clean

    out = clean.lexicon_score(_t(spark, sf_dir, "documents"),
                              ["error", "fail", "slow"], max_ratio=0.02)
    return out.select(
        "doc_id", "n_lexicon_hits",
        (F.floor(F.col("lexicon_ratio") * 100000) / 100000)
        .alias("lexicon_ratio"),
        "lexicon_pass")


@_q("c4_line_filter", r"""
WITH t AS (
  SELECT doc_id, replace(text, ' value ', chr(10)) AS t2 FROM documents),
s AS (
  SELECT doc_id,
         regexp_split_to_array(t2, '\n') AS lines,
         list_filter(regexp_split_to_array(t2, '\n'),
                     ln -> len(regexp_split_to_array(trim(ln), '\s+')) >= 5)
           AS kept
  FROM t)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_lines_kept,
       -- coalesce: array_to_string([]) is NULL in DuckDB, but the
       -- operator contract (concat_ws) digests the EMPTY STRING when
       -- every line is dropped — reachable only at sf>=0.1 corpora
       -- (found by the sf1 parity pass, r5)
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS c4_md5
FROM s
""")
def q_c4_line_filter(spark, sf_dir):
    """C4-style line-level boilerplate removal (clean.c4_keep_lines):
    documents are given deterministic line structure (a common token
    becomes a newline, same expression both engines), short lines
    (< 5 words) are dropped, and the repaired text's digest + line
    counts are emitted. Pure array expression over the scan."""
    from .operators import clean

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("t2", F.replace(F.col("text"), F.lit(" value "),
                                        F.lit("\n"))))
    out = clean.c4_line_stats(docs, "t2", min_words=5)
    return out.select("doc_id", "n_lines", "n_lines_kept",
                      F.md5("c4_text").alias("c4_md5"))


@_q("intra_doc_dedup", r"""
WITH t AS (SELECT doc_id, replace(text, ' value ', chr(10)) AS t2
           FROM documents),
d AS (SELECT doc_id,
             t2 || chr(10) || regexp_split_to_array(t2, chr(10))[1] AS t3
      FROM t),
s AS (SELECT doc_id, regexp_split_to_array(t3, chr(10)) AS lines FROM d)
SELECT doc_id, len(lines)::BIGINT AS n_lines,
       len(list_distinct(lines))::BIGINT AS n_unique_lines,
       md5(array_to_string(list_sort(list_distinct(lines)), chr(10)))
         AS uniq_md5
FROM s
""")
def q_intra_doc_dedup(spark, sf_dir):
    """Within-document duplicate-line removal (clean.dedup_lines):
    documents get deterministic line structure, the first line is
    re-appended (guaranteeing every doc carries a duplicate), and the
    pass reports total vs unique line counts plus an order-independent
    digest of the surviving lines. Pure array expressions over the
    scan — the intra-doc sibling of corpus-level dedup."""
    from .operators import clean

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("t2", F.replace(F.col("text"), F.lit(" value "),
                                        F.lit("\n")))
            .withColumn("t3", F.concat(
                F.col("t2"), F.lit("\n"),
                F.get(F.split(F.col("t2"), r"\n"), 0))))
    out = clean.dedup_lines(docs, "t3")
    return out.select("doc_id", "n_lines", "n_unique_lines", "uniq_md5")


@_q("cross_doc_line_dedup", """
WITH t AS (SELECT doc_id,
                  regexp_split_to_array(replace(text, ' value ', chr(10)),
                                        chr(10)) AS lines
           FROM documents),
l AS (SELECT doc_id, unnest(lines) AS line FROM t),
bp AS (SELECT line FROM l GROUP BY line
       HAVING count(DISTINCT doc_id) >= 3),
bpl AS (SELECT coalesce(list(line), []) AS bl FROM bp),
k AS (SELECT doc_id, lines,
             list_filter(lines, x -> NOT list_contains(bl, x)) AS kept
      FROM t CROSS JOIN bpl)
SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept,
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
FROM k
""")
def q_cross_doc_line_dedup(spark, sf_dir):
    """Corpus-level boilerplate line removal
    (clean.cross_doc_line_dedup): documents get the same synthetic
    line structure as intra_doc_dedup (' value ' -> newline), then
    every line appearing in >= 3 distinct documents is stripped from
    all of them, order preserved. The C4/RefinedWeb cross-document
    step the within-doc pass cannot see; only affected docs are
    reassembled (shuffle ∝ boilerplate incidence). The observable is
    per-doc line counts plus the digest of the kept lines."""
    from .operators import clean

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("t2", F.replace(F.col("text"), F.lit(" value "),
                                        F.lit("\n"))))
    out = clean.cross_doc_line_dedup(docs, "t2", min_docs=3)
    return out.select("doc_id", "n_lines", "n_kept", "clean_md5")


@_q("gopher_quality", rf"""
WITH {_GOPHER_CTE}
SELECT doc_id, wc::BIGINT AS wc,
       floor(nonspace::DOUBLE / wc * 10000) / 10000 AS mean_wl,
       (wc >= 30 AND wc <= 100000) AS flag_wc,
       (nonspace::DOUBLE / wc >= 3.0 AND nonspace::DOUBLE / wc <= 10.0)
         AS flag_mean_wl,
       (n_sym::DOUBLE / wc <= 0.1) AS flag_symbols,
       (n_alpha::DOUBLE / wc >= 0.8) AS flag_alpha,
       (n_stops >= 2) AS flag_stops,
       ({_GOPHER_PASS}) AS gopher_pass
FROM g
""")
def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality flags (operators/clean.py): word-count
    bounds, mean word length, symbol density, alpha-word ratio, and
    stopword presence, each emitted as an auditable boolean plus the
    conjunction. Both engines derive every ratio from the same integer
    counts, so the float comparisons agree bit-for-bit."""
    from .operators import clean

    df = clean.gopher_quality(_t(spark, sf_dir, "documents"),
                              min_words=30)
    return df.select("doc_id", "wc",
                     (F.floor(F.col("mean_wl") * 10000) / 10000)
                     .alias("mean_wl"),
                     "flag_wc", "flag_mean_wl", "flag_symbols",
                     "flag_alpha", "flag_stops", "gopher_pass")


#: nested PII redaction expression (same order as clean.PII_PATTERNS)
def _pii_scrub_sql(col: str) -> str:
    return (r"""regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(""" + col
            + r""", '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')""")


#: v2 gate: the synthetic corpus carries only one of the Gopher stop
#: set ("the"), so the pipeline runs the stopword rule at >=1
_GOPHER_PASS_V2 = _GOPHER_PASS.replace("n_stops >= 2", "n_stops >= 1")


@_q("pipeline_curate_v2", rf"""
WITH {_GOPHER_CTE},
pass AS (SELECT doc_id, source, wc, {_pii_scrub_sql('text')} AS t
         FROM g WHERE {_GOPHER_PASS_V2}),
k AS (SELECT md5(t) AS fp, min(doc_id) AS keep_id FROM pass GROUP BY fp),
u AS (SELECT pass.* FROM pass JOIN k ON pass.doc_id = k.keep_id),
sp AS (SELECT *, CASE WHEN b < 900000 THEN 'train'
                      WHEN b < 950000 THEN 'val'
                      ELSE 'test' END AS split
       FROM (SELECT *,
                    ('0x' || substring(md5('split1' || doc_id::VARCHAR),
                                       1, 15))::BIGINT % 1000000 AS b
             FROM u)),
r AS (SELECT *, row_number() OVER (
        PARTITION BY split, source
        ORDER BY ('0x' || substring(md5('quota2' || doc_id::VARCHAR),
                                    1, 15))::BIGINT, doc_id) AS rn
      FROM sp)
SELECT split, source, count(*) AS n_docs, sum(wc)::BIGINT AS total_tokens
FROM r WHERE rn <= 5 GROUP BY split, source
""")
def q_pipeline_curate_v2(spark, sf_dir):
    """The round-2 curation pipeline end to end as ONE lazy plan
    (operators/pipeline.py curate_v2): Gopher quality gate -> PII
    scrub -> exact dedup on scrubbed text -> deterministic 90/5/5
    split -> per-(split, source) quota — summarized as per-cell corpus
    composition. Shuffles carry fingerprints/ids/counts, never text."""
    from .operators import pipeline

    out = pipeline.curate_v2(_t(spark, sf_dir, "documents"),
                             min_stop_hits=1)
    return pipeline.curate_v2_stats(out)


@_q("agg_salted", """
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spend
FROM orders GROUP BY o_custkey
""")
def q_agg_salted(spark, sf_dir):
    """Two-stage salted aggregation (operators/skew.py) — identical
    rows to the direct group-by; the salt spreads hot keys over 16
    reducers before the final combine."""
    from .operators import skew

    out = skew.salted_agg(_t(spark, sf_dir, "orders"), ["o_custkey"],
                          {"n_orders": ("count", "*"),
                           "total_spend": ("sum", "o_totalprice")})
    return out.select("o_custkey", "n_orders",
                      F.round(F.col("total_spend"), 2).alias("total_spend"))


@_q("text_fingerprint", """
SELECT doc_id, md5(text) AS fp_md5 FROM documents
""")
def q_text_fingerprint(spark, sf_dir):
    return text_ops.fingerprint(_t(spark, sf_dir, "documents"))


@_q("lang_id", """
SELECT doc_id,
       len(list_intersect(regexp_split_to_array(trim(text), '\\s+'),
           ['the','a','of','and','to','is','in','it']))::BIGINT AS en_markers,
       CASE WHEN len(list_intersect(regexp_split_to_array(trim(text), '\\s+'),
           ['the','a','of','and','to','is','in','it'])) >= 2
            THEN 'en' ELSE 'other' END AS pred_lang
FROM documents
""")
def q_lang_id(spark, sf_dir):
    df = text_ops.lang_id(_t(spark, sf_dir, "documents"))
    return df.select("doc_id", F.col("en_markers").cast("long"), "pred_lang")


@_q("lang_mismatch_audit", r"""
WITH p AS (
  SELECT source, lang,
         len(list_intersect(regexp_split_to_array(trim(text), '\s+'),
             ['the','a','of','and','to','is','in','it'])) >= 2 AS pred_en
  FROM documents)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
         AS n_labeled_en,
       sum(CASE WHEN pred_en THEN 1 ELSE 0 END)::BIGINT AS n_pred_en,
       sum(CASE WHEN (lang = 'en') != pred_en THEN 1 ELSE 0 END)::BIGINT
         AS n_mismatch
FROM p GROUP BY source
""")
def q_lang_mismatch_audit(spark, sf_dir):
    """Language-label trust audit (text.lang_mismatch_audit, r8
    debut): per-source disagreement between the ingest lang label and
    the marker-token detector — the relabel-this-source signal before
    labels steer mixing, fertility budgets, or per-lang thresholds.
    One projection + one k-key group-by, no joins."""
    return text_ops.lang_mismatch_audit(_t(spark, sf_dir, "documents"))


@_q("doc_stats_by_source", """
SELECT source, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY source
""")
def q_doc_stats_by_source(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


# ======================================================================
# North star: dedup (operators/dedup.py)
# ======================================================================

@_q("dedup_exact", """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""")
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


@_q("dedup_normalized", r"""
WITH f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS nfp,
         md5(text) AS fp
  FROM documents)
SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies,
       count(DISTINCT fp)::BIGINT AS n_raw_variants
FROM f GROUP BY nfp HAVING count(DISTINCT fp) >= 2
""")
def q_dedup_normalized(spark, sf_dir):
    """Normalization-fingerprint dedup (dedup.normalized_duplicates,
    r8 debut; the RefinedWeb/CCNet 'fuzzy-exact' family): lowercase +
    punctuation-strip + whitespace-collapse before hashing, reporting
    only the duplicate classes raw hashing MISSES — case flips and
    markup churn caught at group-by cost, no pair computation. Same
    16-byte shuffle shape as dedup_exact."""
    return dedup.normalized_duplicates(_t(spark, sf_dir, "documents"))


@_q("doc_duplication_score", r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([words[i] || ' ' || words[i+1] || ' '
                               || words[i+2]
                               for i in range(1, len(words)-1)])) AS s
  FROM w),
h AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM sh),
freq AS (SELECT h, count(*)::BIGINT AS n_docs FROM h GROUP BY h)
SELECT doc_id,
       count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT
           AS dup_shingles,
       floor(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1000
             / count(*)) / 1000 AS dup_frac
FROM h JOIN freq USING (h)
GROUP BY doc_id
""")
def q_doc_duplication_score(spark, sf_dir):
    """Per-document duplication fraction (dedup.duplication_scores, r8
    debut): share of each doc's distinct 3-gram shingles that occur in
    >= 2 documents corpus-wide — the Dolma-style per-doc boilerplate
    signal a quality filter thresholds on. One distinct (id, hash)
    reduction feeds the corpus frequency table and the per-doc
    re-aggregation; shuffles carry 16-byte rows, never doc pairs."""
    return dedup.duplication_scores(_t(spark, sf_dir, "documents"), k=3)


_WINNOW_CTE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
g AS (
  SELECT doc_id,
         unnest([{'p': i - 1,
                  's': words[i] || ' ' || words[i+1] || ' '
                       || words[i+2]}
                 for i in range(1, len(words) - 1)]) AS u
  FROM w),
hp AS (SELECT doc_id, u.p AS pos,
              ('0x' || substr(md5(u.s), 1, 15))::BIGINT
                  % 4294967296 AS h32
       FROM g),
keyed AS (
  SELECT doc_id, pos,
         min(h32 * 2147483648 + (2147483647 - pos))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         max(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM hp)
"""


@_q("winnow_fingerprints", _WINNOW_CTE + r"""
SELECT DISTINCT doc_id, 2147483647 - (fp % 2147483648) AS pos,
       fp // 2147483648 AS h
FROM keyed WHERE pos >= 3 OR pos = max_pos
""")
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (dedup.winnow_fingerprints, r8 debut —
    the MOSS algorithm, Schleimer et al. 2003): rightmost-minimal
    3-gram hash per 4-gram window, selected by ONE bounded w-row
    window min over a packed (hash, pos) key — any shared token run
    of length >= w+k-1 = 6 is guaranteed a shared fingerprint at
    ~2/(w+1) index density. Per-doc windows only; no joins, no
    corpus-wide state."""
    return dedup.winnow_fingerprints(_t(spark, sf_dir, "documents"),
                                     k=3, w=4)


@_q("containment_pairs", r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([words[i] || ' ' || words[i+1] || ' '
                               || words[i+2]
                               for i in range(1, len(words) - 1)])) AS s
  FROM w),
h AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM sh),
sizes AS MATERIALIZED (
  SELECT doc_id, count(*)::BIGINT AS n FROM h GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*)::BIGINT AS n_inter
  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
sc AS MATERIALIZED (
  SELECT ia, ib, n_inter, sa.n AS na, sb.n AS nb
  FROM inter JOIN sizes sa ON sa.doc_id = ia
             JOIN sizes sb ON sb.doc_id = ib)
SELECT doc_id, container_id, n_inter, containment FROM (
  SELECT ia AS doc_id, ib AS container_id, n_inter,
         floor(n_inter * 1000 / na) / 1000 AS containment FROM sc
  UNION ALL
  SELECT ib, ia, n_inter, floor(n_inter * 1000 / nb) / 1000 FROM sc)
WHERE containment >= 0.5
""")
def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment pairs (dedup.containment_pairs, r8
    debut — Broder 1997): directed (doc, container) pairs where
    >= 50% of the doc's distinct 3-gram shingles live in the
    container — the quoted/wrapped/subsumed-doc signal symmetric
    Jaccard under-scores; dedup policy drops the contained side. Same
    relational skeleton as ngram_jaccard (hash-keyed candidate join,
    k-row size tables); threshold applies to the floored value."""
    return dedup.containment_pairs(_t(spark, sf_dir, "documents"),
                                   threshold=0.5, k=3)


@_q("winnow_overlap_pairs", _WINNOW_CTE + r""",
sel AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp // 2147483648 AS h
  FROM keyed WHERE pos >= 3 OR pos = max_pos)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS n_shared
FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
""")
def q_winnow_overlap_pairs(spark, sf_dir):
    """MOSS pairwise overlap (dedup.winnow_overlap_pairs, r8 debut):
    doc pairs sharing >= 2 distinct winnowing fingerprints — the
    guaranteed-detection exact-overlap report at ~(2/(w+1))² of the
    full-shingle pair-join volume. One hash-keyed equi-join over the
    thinned index; map-side partial pair counts."""
    return dedup.winnow_overlap_pairs(_t(spark, sf_dir, "documents"),
                                      k=3, w=4, min_shared=2)


_NGRAM_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s))), 3) AS jacc
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
            / len(list_distinct(list_concat(a.s, b.s))), 3) >= 0.5
"""


@_q("ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (j >= 0.5) on a bounded
    subset — the brute-force baseline the LSH path approximates."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5)


@_q("dedup_clusters", """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 3) >= 0.5
),
ep AS (
  SELECT lag(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS doc_a,
         doc_id AS doc_b
  FROM documents
  QUALIFY doc_a IS NOT NULL
),
pairs AS (SELECT * FROM jp UNION SELECT * FROM ep),
e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.node
)
SELECT node, min(lbl) AS cluster FROM reach GROUP BY node
""")
def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clustering: connected components (min-label
    propagation) over the union of two edge sources — exact-duplicate
    chain edges from the FULL corpus (fingerprint group-by, linear
    edge count) plus exact Jaccard near-dup pairs on a bounded subset
    (the brute-force baseline). A pair list only relates two documents
    at a time; survivorship policy needs the full cluster. The oracle
    replicates the fixpoint with a recursive CTE (reachability closure
    + min), which is exactly what the distributed label propagation
    converges to."""
    docs = _t(spark, sf_dir, "documents")
    jacc = (dedup.ngram_jaccard_pairs(docs.filter(F.col("doc_id") < 250),
                                      threshold=0.5)
            .select("doc_a", "doc_b"))
    exact = dedup.exact_dup_edges(docs)
    return dedup.connected_components(jacc.unionByName(exact))


@_q("split_repair_neardup", """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 3) >= 0.5
),
ep AS (
  SELECT lag(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS doc_a,
         doc_id AS doc_b
  FROM documents
  QUALIFY doc_a IS NOT NULL
),
pairs AS (SELECT * FROM jp UNION SELECT * FROM ep),
e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.node
),
lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
a AS (
  SELECT d.doc_id,
         CASE WHEN ('0x' || substring(md5('split1' || d.doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 900000
                THEN 'train'
              WHEN ('0x' || substring(md5('split1' || d.doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 950000
                THEN 'val'
              ELSE 'test' END AS before_split,
         coalesce(l.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
leaky AS (SELECT cluster FROM a GROUP BY cluster
          HAVING count(DISTINCT before_split) >= 2),
rep AS (
  SELECT doc_id, before_split,
         CASE WHEN cluster IN (SELECT cluster FROM leaky)
              THEN 'train' ELSE before_split END AS after_split
  FROM a),
b AS (SELECT before_split AS split, count(*)::BIGINT AS n_before,
             count(*) FILTER (WHERE before_split <> after_split)::BIGINT
               AS n_moved_out
      FROM rep GROUP BY 1),
c AS (SELECT after_split AS split, count(*)::BIGINT AS n_after,
             count(*) FILTER (WHERE before_split <> after_split)::BIGINT
               AS n_moved_in
      FROM rep GROUP BY 1)
SELECT coalesce(b.split, c.split) AS split,
       coalesce(n_before, 0)::BIGINT AS n_before,
       coalesce(n_after, 0)::BIGINT AS n_after,
       coalesce(n_moved_in, 0)::BIGINT AS n_moved_in,
       coalesce(n_moved_out, 0)::BIGINT AS n_moved_out
FROM b FULL JOIN c ON b.split = c.split
""")
def q_split_repair_neardup(spark, sf_dir):
    """Leakage REPAIR (sample.repair_split_leakage, r8 debut):
    split_leakage_audit/_pairs say the 90/5/5 split leaks; this fixes
    it — every duplicate cluster (connected components over the
    dedup_clusters edge set: full-corpus exact-dup chains + bounded
    exact-Jaccard near-dup pairs) that straddles >= 2 splits is
    quarantined WHOLE into train, the one-pass fixpoint policy (moving
    single endpoints chases transitive chains). Observable: per-split
    before/after/moved counts; the oracle replicates the CC fixpoint
    (recursive CTE), the content-addressed split, and the quarantine."""
    from .operators import sample

    docs = _t(spark, sf_dir, "documents")
    jacc = (dedup.ngram_jaccard_pairs(docs.filter(F.col("doc_id") < 250),
                                      threshold=0.5)
            .select("doc_a", "doc_b"))
    exact = dedup.exact_dup_edges(docs)
    clusters = dedup.connected_components(jacc.unionByName(exact))
    assigned = sample.assign_splits(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05},
        key_col="doc_id", seed="split1")
    return sample.repair_split_leakage(assigned, clusters)


@_q("dedup_survivors", """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 3) >= 0.5
),
ep AS (
  SELECT lag(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS doc_a,
         doc_id AS doc_b
  FROM documents
  QUALIFY doc_a IS NOT NULL
),
pairs AS (SELECT * FROM jp UNION SELECT * FROM ep),
e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.node
),
lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
j AS (
  SELECT d.doc_id, d.n_chars, coalesce(l.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
)
SELECT cluster, doc_id AS survivor_id, n_members
FROM (SELECT cluster, doc_id,
             count(*) OVER (PARTITION BY cluster) AS n_members,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM j)
WHERE rn = 1
""")
def q_dedup_survivors(spark, sf_dir):
    """Survivorship on top of the transitive clusters: the deduplicated
    corpus roster — one canonical doc per cluster (longest text wins,
    min-id tie-break), singletons surviving as themselves. This is the
    step a curation pipeline actually ships: pairs -> clusters ->
    survivors."""
    docs = _t(spark, sf_dir, "documents")
    jacc = (dedup.ngram_jaccard_pairs(docs.filter(F.col("doc_id") < 250),
                                      threshold=0.5)
            .select("doc_a", "doc_b"))
    edges = jacc.unionByName(dedup.exact_dup_edges(docs))
    return dedup.cluster_survivors(docs, dedup.connected_components(edges))


@_q("jsonl_source_roundtrip", """
SELECT doc_id, lang, source, n_chars
FROM documents WHERE n_chars > 300
""")
def q_jsonl_source_roundtrip(spark, sf_dir):
    """The JSONL source (schema-required line-delimited scan — the
    training-corpus sibling of the CSV contract) against the oracle:
    documents written lossless to JSONL then read back through
    LazyFrame.from_jsonl with a SUBSET schema (text key deliberately
    absent — the scanner must prune unrequested keys, not choke) and
    filtered through the engine. The write is a per-run fixture; the
    scan under test is the distributed JSON read."""
    import os
    import tempfile

    from .schema import DataType

    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(tempfile.gettempdir(),
                        f"rivulus_jsonl_docs_{abs(hash(sf_dir)) % 10**8}")
    (docs.select("doc_id", "text", "lang", "source", "n_chars")
     .coalesce(1).write.mode("overwrite").json(path))
    lf = LazyFrame.from_jsonl(spark, path,
                              schema=[("doc_id", DataType.INT64),
                                      ("lang", DataType.STRING),
                                      ("source", DataType.STRING),
                                      ("n_chars", DataType.INT64)])
    return (lf.filter(col("n_chars") > 300)
            .select("doc_id", "lang", "source", "n_chars")
            .to_spark())


@_q("partitioned_sink_roundtrip", """
SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents WHERE lang IN ('en', 'de')
GROUP BY lang, source
""")
def q_partitioned_sink_roundtrip(spark, sf_dir):
    """The hive-partitioned parquet sink (sources/sink.py) end to end:
    documents written ``partitionBy(lang)``, read back with a filter on
    the partition column — the read plan prunes non-matching ``lang=*/``
    directories (PartitionFilters, asserted in tests/test_plans.py)
    before any row group is opened. The write is a per-run fixture; the
    scan under test is the pruned partitioned read. The directory is
    read by the schema it was written with (the partition column moves
    last), so building the query runs no schema-inference job."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql.types import StructType

    from .sources import sink

    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        "rivulus_part_docs_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    sink.write_parquet(docs, path, partition_by=["lang"])
    schema = StructType([f for f in docs.schema if f.name != "lang"]
                        + [docs.schema["lang"]])
    back = (spark.read.schema(schema).parquet(path)
            .filter(F.col("lang").isin("en", "de")))
    return (back.groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("csv_sink_roundtrip", """
WITH w AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT c_mktsegment, count(*) AS n_rows,
       count(bal) AS n_bal,
       round(sum(bal), 2) AS sum_bal
FROM w GROUP BY c_mktsegment
""")
def q_csv_sink_roundtrip(spark, sf_dir):
    """LazyFrame.write_csv end to end (the engine's CSV sink:
    delimiter option, header, "null" null token) against the oracle:
    customers with nulls injected into ``bal`` are written through
    write_csv (pipe-delimited) and read back with from_csv.
    ``n_bal < n_rows`` proves the null token round-trips as SQL null
    (not the literal string), and ``sum_bal`` proves doubles survive
    Spark's shortest-round-trip CSV text. The write is a per-run
    fixture; the sink+scan pair is what's under test."""
    import hashlib
    import os
    import tempfile

    from .schema import DataType

    cust = _t(spark, sf_dir, "customer")
    out = cust.select(
        "c_custkey", "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal")).alias("bal"))
    path = os.path.join(
        tempfile.gettempdir(),
        "rivulus_csv_cust_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    LazyFrame.from_spark(out).write_csv(path, mode="overwrite",
                                        delimiter="|")
    lf = LazyFrame.from_csv(spark, path,
                            schema=[("c_custkey", DataType.INT64),
                                    ("c_mktsegment", DataType.STRING),
                                    ("bal", DataType.FLOAT64)],
                            delimiter="|")
    return (lf.to_spark()
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_rows"),
                 F.count("bal").alias("n_bal"),
                 F.round(F.sum("bal"), 2).alias("sum_bal")))


@_q("orc_sink_roundtrip", """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents WHERE n_chars > 300
GROUP BY lang
""")
def q_orc_sink_roundtrip(spark, sf_dir):
    """ORC sink + scan (LazyFrame.write_orc / from_orc) end to end —
    the other self-describing columnar lake format; the read-back
    filter must push into the ORC scan just as it would for parquet
    (asserted in tests/test_plans.py). The write is a per-run fixture;
    the sink+pruned-scan pair is what's under test."""
    import hashlib
    import os
    import tempfile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    path = os.path.join(
        tempfile.gettempdir(),
        "rivulus_orc_docs_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    LazyFrame.from_spark(docs).write_orc(path, mode="overwrite")
    back = LazyFrame.from_orc(spark, path).to_spark()
    return (back.filter(F.col("n_chars") > 300)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("bucketed_join_agg", """
SELECT l.l_returnflag,
       count(*) AS n_items,
       round(sum(l.l_quantity), 2) AS sum_qty,
       CAST(sum(o.o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY l.l_returnflag
""")
def q_bucketed_join_agg(spark, sf_dir):
    """Co-located bucketed join (sources/bucketed.py): orders and
    lineitem are written as catalog tables bucketed by order key with
    equal bucket counts, so the fact-fact join reads co-located
    buckets and skips BOTH shuffles — at 100 TB the shuffle is paid
    once at ingest, never per query. The ``merge`` hint pins the
    sort-merge strategy so bucketing (not a broadcast of the sf-small
    side) is what the plan exercises; the only exchange left is the
    final group-by's (asserted in tests/test_plans.py). Writes are
    per-run fixtures — the join plan is what's under test."""
    import hashlib

    from .sources import bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t_o, t_l = f"b3_orders_{tag}", f"b3_lineitem_{tag}"
    n_b = 8
    orders = (_t(spark, sf_dir, "orders")
              .select("o_orderkey", "o_totalprice"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_returnflag"))
    # pre-shuffle each side by its key so every bucket lands in one
    # task -> one file per bucket (keeps bucket scans narrow)
    bucketed.write_bucketed(orders.repartition(n_b, F.col("o_orderkey")),
                            t_o, ["o_orderkey"], n_b)
    bucketed.write_bucketed(li.repartition(n_b, F.col("l_orderkey")),
                            t_l, ["l_orderkey"], n_b)
    bo = bucketed.read_bucketed(spark, t_o)
    bl = bucketed.read_bucketed(spark, t_l).hint("merge")
    j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
    return (j.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 # money sums accumulate in exact DECIMAL, not double:
                 # at sf1 the 6M-row double sum differed from DuckDB in
                 # the 14th significant digit (summation order is
                 # engine-specific and float addition non-associative),
                 # flipping round(.,2) — decimal accumulation is
                 # order-independent, then one exact cast back
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("sum_price")))


@_q("schema_evolution_roundtrip", """
SELECT lang, count(*) AS n_docs,
       count(CASE WHEN doc_id >= 250 THEN n_chars END) AS n_evolved,
       sum(CASE WHEN doc_id >= 250 THEN n_chars END)::BIGINT AS sum_chars
FROM documents GROUP BY lang
""")
def q_schema_evolution_roundtrip(spark, sf_dir):
    """Schema-evolution read (sources/sink.py read_parquet
    merge_schema): an early batch written WITHOUT ``n_chars`` and a
    later batch WITH it land in the same dataset; the merged read
    surfaces the column as null for pre-evolution rows, which the
    per-lang aggregate observes (count/sum over only the evolved
    rows). Writes are per-run fixtures; the footer-merging scan is
    what's under test."""
    import hashlib
    import os
    import tempfile

    from .sources import sink

    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        "rivulus_evo_docs_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    old = docs.filter(F.col("doc_id") < 250).select("doc_id", "lang")
    new = (docs.filter(F.col("doc_id") >= 250)
           .select("doc_id", "lang", "n_chars"))
    sink.write_parquet(old, path, mode="overwrite")
    sink.write_parquet(new, path, mode="append")
    back = sink.read_parquet(spark, path, merge_schema=True)
    return (back.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.count("n_chars").alias("n_evolved"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("shard_export_manifest", """
WITH s AS (SELECT doc_id, doc_id % 8 AS shard FROM documents)
SELECT shard, count(*) AS n_rows,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s GROUP BY shard
""")
def q_shard_export_manifest(spark, sf_dir):
    """Deterministic training-shard export (sources/shards.py):
    documents split into 8 stable ``pmod(doc_id)`` shards, one sorted
    file per shard directory, then the manifest (count + id range per
    shard) read back — the contract a resumable data loader relies
    on. The write is a per-run fixture; the stable assignment +
    layout readback is what's under test."""
    import hashlib
    import os
    import tempfile

    from .sources import shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    path = os.path.join(
        tempfile.gettempdir(),
        "rivulus_shards_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    shards.export_shards(docs, path, n_shards=8)
    return shards.shard_manifest(spark, path)


@_q("global_shuffle_layout", """
WITH r AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
         - 1 AS rn
  FROM documents)
SELECT doc_id, (rn % 8)::BIGINT AS shard_id,
       (rn // 8)::BIGINT AS pos_in_shard
FROM r
""")
def q_global_shuffle_layout(spark, sf_dir):
    """Deterministic epoch shuffle: every document's (shard, position)
    under the seed-42 MD5 permutation, striped across 8 shards — the
    reproducible global shuffle a pre-training loader materializes
    once per epoch. Unlike ORDER BY rand() it is cluster- and
    retry-invariant and independently auditable (the oracle replays
    the identical permutation); the rank comes from the two-pass
    distributed ranking (operators/rank.py), never a single-partition
    window."""
    from .operators import sample

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (sample.global_shuffle(docs, "doc_id", n_shards=8, seed="42")
            .select("doc_id", "shard_id", "pos_in_shard"))


@_q("length_histogram", """
WITH b AS (
  SELECT least(greatest(floor(n_chars / 250.0), 0), 19)::BIGINT AS bin
  FROM documents WHERE n_chars IS NOT NULL)
SELECT bin, bin * 250.0 AS bin_lo, (bin + 1) * 250.0 AS bin_hi,
       count(*) AS n
FROM b GROUP BY bin
""")
def q_length_histogram(spark, sf_dir):
    """Document-length histogram (operators/stats.py): fixed-width
    binning as a map-side projection + bounded group-by — at most
    n_bins rows cross the shuffle regardless of corpus size. The first
    chart anyone draws over a new corpus."""
    from .operators import stats

    return stats.histogram(_t(spark, sf_dir, "documents"), "n_chars",
                           lo=0.0, hi=5000.0, n_bins=20)


@_q("percentile_clip", """
WITH q AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                  quantile_cont(n_chars, 0.95) AS hi
           FROM documents)
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents, q
WHERE n_chars >= lo AND n_chars <= hi
GROUP BY lang
""")
def q_percentile_clip(spark, sf_dir):
    """Percentile-band outlier cut (operators/stats.py): keep docs
    whose length sits in [p05, p95] — the standard trim of empty docs
    and megabyte pathologies before corpus statistics. Exact
    interpolated percentile (= DuckDB quantile_cont) computed as a
    1-row aggregate and broadcast back; ``exact=False`` swaps in the
    percentile_approx sketch at scale with an identical plan shape."""
    from .operators import stats

    docs = _t(spark, sf_dir, "documents")
    kept = stats.percentile_clip(docs, "n_chars", 0.05, 0.95)
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("group_percentile_clip", """
WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo,
                  quantile_cont(n_chars, 0.95) AS hi
           FROM documents GROUP BY source)
SELECT d.source, count(*) AS n_docs, sum(d.n_chars)::BIGINT AS sum_chars,
       min(d.n_chars)::BIGINT AS min_chars, max(d.n_chars)::BIGINT AS max_chars
FROM documents d JOIN q ON d.source = q.source
WHERE d.n_chars >= q.lo AND d.n_chars <= q.hi
GROUP BY d.source
""")
def q_group_percentile_clip(spark, sf_dir):
    """Per-SOURCE percentile calibration
    (stats.group_percentile_clip): each source keeps its own
    [p05, p95] doc-length band — the per-domain quality-threshold
    practice a global band gets wrong on mixed corpora (a verbose
    domain's median can exceed a terse one's p95). Exact per-group
    interpolated percentile (= DuckDB quantile_cont per group) with a
    broadcast bound join; the sketch form is the 100 TB default."""
    from .operators import stats

    docs = _t(spark, sf_dir, "documents")
    kept = stats.group_percentile_clip(docs, "n_chars", ["source"],
                                       0.05, 0.95)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.min("n_chars").cast("long").alias("min_chars"),
                 F.max("n_chars").cast("long").alias("max_chars")))


@_q("text_repetition", """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
pt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
       sum(c)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_distinct_tokens,
       floor(max(c) * 1000 / sum(c)) / 1000 AS top_tok_frac
FROM pt GROUP BY doc_id
""")
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition metrics (top-token fraction,
    distinct-token count) per document — the boilerplate/degeneracy
    signal a quality filter thresholds on."""
    return text_ops.repetition_features(_t(spark, sf_dir, "documents"))


@_q("ngram_topk", """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest([words[i] || ' ' || words[i+1]
                 for i in range(1, len(words))]) AS g
  FROM w
),
c AS (SELECT g, count(DISTINCT doc_id)::BIGINT AS n_docs,
             count(*)::BIGINT AS total_count
      FROM g GROUP BY g)
SELECT g AS ngram, n_docs, total_count,
       row_number() OVER (ORDER BY total_count DESC, g) AS rank
FROM c QUALIFY rank <= 20
""")
def q_ngram_topk(spark, sf_dir):
    """Corpus-level top-20 word bigrams (count-desc, ngram tie-break) —
    the frequency table behind boilerplate and contamination checks;
    planned as explode -> partial-agg -> group-limit."""
    out = text_ops.corpus_ngram_topk(_t(spark, sf_dir, "documents"),
                                     n=2, k=20)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q("pmi_collocations", r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
t AS (SELECT unnest(words) AS tok FROM w),
uni AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY tok),
b AS (SELECT unnest([words[i] || ' ' || words[i+1]
                     for i in range(1, len(words))]) AS g
      FROM w),
cxy AS (SELECT g, count(*)::BIGINT AS c_xy FROM b
        GROUP BY g HAVING count(*) >= 5),
tot AS (SELECT (SELECT sum(c) FROM uni)::DOUBLE AS n,
               (SELECT count(*) FROM b)::DOUBLE AS m),
p AS (
  SELECT g AS bigram, c_xy,
         floor((ln(c_xy::DOUBLE) - ln(m) - ln(ux.c::DOUBLE)
                - ln(uy.c::DOUBLE) + 2.0 * ln(n)) * 1000000)
             / 1000000 AS pmi
  FROM cxy
  JOIN uni ux ON ux.tok = split_part(g, ' ', 1)
  JOIN uni uy ON uy.tok = split_part(g, ' ', 2)
  CROSS JOIN tot)
SELECT bigram, c_xy AS pair_count, pmi,
       row_number() OVER (ORDER BY pmi DESC, bigram) AS rank
FROM p QUALIFY rank <= 20
""")
def q_pmi_collocations(spark, sf_dir):
    """Top-20 bigram collocations by pointwise mutual information
    (text.pmi_collocations, r8 debut): the Church-&-Hanks multi-word-
    unit miner — pairs that co-occur far above chance, min-count 5.
    One token stream feeds both count tables; totals ride in as 1-row
    broadcast crossJoins; ln-sum form avoids ANSI long overflow; the
    group-limit rewrite bounds the rank window to k rows."""
    out = text_ops.pmi_collocations(_t(spark, sf_dir, "documents"),
                                    k=20, min_count=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


#: the shared DSIR oracle chain: per-document weights (CTE `scored`)
#: under the lang='zh' target — consumed by dsir_select's top-k and
#: stream_dsir_score's per-source rollup
_DSIR_SCORED_CTES = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
g AS (
  SELECT doc_id, unnest(words) AS g FROM w
  UNION ALL
  SELECT doc_id, unnest([words[i] || ' ' || words[i+1]
                         for i in range(1, len(words))]) AS g FROM w),
b AS (SELECT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS bkt
      FROM g),
craw AS (SELECT bkt, count(*)::BIGINT AS c_raw FROM b GROUP BY bkt),
ctgt AS (SELECT bkt, count(*)::BIGINT AS c_tgt
         FROM b JOIN documents USING (doc_id)
         WHERE lang = 'zh' GROUP BY bkt),
tot AS (SELECT (SELECT sum(c_raw) FROM craw)::DOUBLE AS r,
               (SELECT coalesce(sum(c_tgt), 0) FROM ctgt)::DOUBLE AS t),
lam AS (
  SELECT craw.bkt,
         floor((ln(coalesce(c_tgt, 0)::DOUBLE + 0.5) - ln(t + 256.0)
                - ln(c_raw::DOUBLE + 0.5) + ln(r + 256.0))
               * 1000000000)::BIGINT AS lam_e9
  FROM craw LEFT JOIN ctgt USING (bkt) CROSS JOIN tot),
dw AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_grams,
         sum(lam_e9)::BIGINT AS s_e9
  FROM b JOIN lam USING (bkt) GROUP BY b.doc_id),
scored AS (
  SELECT d.doc_id, d.source, d.lang, n_grams,
         floor(s_e9::DOUBLE / n_grams / 1000.0) / 1000000 AS wgt
  FROM dw JOIN documents d USING (doc_id))
"""


@_q("dsir_select", _DSIR_SCORED_CTES + """
SELECT doc_id, source, lang, n_grams, wgt,
       row_number() OVER (ORDER BY wgt DESC, doc_id) AS rank
FROM scored QUALIFY rank <= 50
""")
def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (dsir.dsir_select, r8 debut; Xie et
    al. 2023): score every document by the log-likelihood ratio of its
    hashed uni+bigram stream under the target-domain (lang='zh') vs
    raw-pool histograms, keep the top 50. The modern domain-targeted
    data selector — two linear passes, a 512-row broadcast log-ratio
    table, and exact-integer per-document accumulation (lam floored to
    1e-9 as BIGINT) so summation order cannot perturb the weights on
    either engine."""
    from .operators import dsir

    docs = _t(spark, sf_dir, "documents")
    out = dsir.dsir_select(docs, F.col("lang") == "zh", k=50,
                           carry_cols=["source", "lang"])
    return out.withColumnRenamed("id", "doc_id")


@_q("stream_dsir_score", _DSIR_SCORED_CTES + """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN wgt >= 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_selected
FROM scored GROUP BY source
""")
def q_stream_dsir_score(spark, sf_dir):
    """DSIR served IN-STREAM (dsir.dsir_batch_scores over a
    foreachBatch drain, r8 debut): the offline fit collects the
    512-row lam table once (one histogram job, a k-row driver barrier
    like the logreg weights); every micro-batch then runs the CODEGEN
    batch scorer — gram explode, broadcast lam join, per-doc integer
    sum — and reduces to per-source partials before the k-row
    collect. foreachBatch, not a streaming projection, because the
    row-local higher-order-function form (dsir.dsir_weight_expr)
    evaluates interpreted per gram: measured on this query at sf1,
    46.0s row-local vs 8.5s through foreachBatch (8.2x vs 1.6x
    first-decade ratios). The integer-lam contract makes the served weight
    bit-equal to batch dsir_weights, so the drained selection counts
    share the batch oracle chain."""
    from .operators import dsir

    docs_b = _t(spark, sf_dir, "documents")
    lam_rows, default = dsir.dsir_model(docs_b, F.col("lang") == "zh")
    dense = [(b, int(l)) for b, l in lam_rows]
    seen = {b for b, _ in dense}
    dense += [(b, int(default)) for b in range(dsir.DEFAULT_BUCKETS)
              if b not in seen]
    lam_df = spark.createDataFrame(dense, "bkt long, lam_e9 long")

    def _score(bdf):
        per_doc = dsir.dsir_batch_scores(bdf, lam_df)
        src = bdf.select(F.col("doc_id").alias("id"), "source")
        return (per_doc.join(src, "id")
                .groupBy("source")
                .agg(F.count("*").alias("n_docs"),
                     F.sum((F.col("wgt") >= 0.0).cast("long"))
                     .alias("n_selected")))

    docs = docs_b.select("doc_id", "source", "text")
    stream = _replay_stream(spark, docs, f"{sf_dir}/documents.parquet", "dsir")
    partials = sw.run_available_now_foreach_batch(stream, _score)
    return (partials.groupBy("source")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("n_selected").cast("long").alias("n_selected")))


def _parquet_rows(path: str, default: int) -> int:
    """Row count from parquet footers — metadata only, no Spark job.
    Used to derive size-adaptive operator parameters (LSH bits/bands)
    deterministically on BOTH the Spark side (from the queried sf_dir)
    and the oracle side (from the same sf_dir via the oracle
    builders), so the two always agree. Handles a single file, the
    Spark directory-of-part-files layout, and nested/hive-partitioned
    directories (recursive walk). Falls back to `default` only for
    genuinely unreadable paths (remote FS without local footers) and
    WARNS when it does — a silent fallback on one side only would make
    the engines band differently, so keep inputs footer-readable where
    adaptivity matters."""
    import os as _os

    try:
        import pyarrow.parquet as pq

        if _os.path.isdir(path):
            total, n_files = 0, 0
            for root, _dirs, files in _os.walk(path):
                for f in files:
                    if f.endswith(".parquet") and not f.startswith(("_",
                                                                    ".")):
                        total += pq.ParquetFile(
                            _os.path.join(root, f)).metadata.num_rows
                        n_files += 1
            if n_files == 0:
                raise FileNotFoundError(f"no parquet files under {path}")
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception as e:
        import warnings

        warnings.warn(
            f"_parquet_rows({path!r}) unreadable ({e}); using default="
            f"{default} — adaptive params may desync from the oracle if "
            "only one side hits this fallback", stacklevel=2)
        return default


def _emb_rows(sf_dir: str) -> int:
    """THE shared row-count call for adaptive LSH/ANN parameters —
    both the Spark queries and the oracle builders derive from this
    one function over the same sf_dir, so banding can never desync
    between engines (r4 ADVICE)."""
    return _parquet_rows(f"{sf_dir}/embeddings.parquet", 200)


def _doc_rows(sf_dir: str) -> int:
    """documents-table twin of _emb_rows: the shared row count behind
    dedup.adaptive_minhash_bands (r8) — Spark queries and the banded
    oracle replicas derive the SAME widths from this one call."""
    return _parquet_rows(f"{sf_dir}/documents.parquet", 500)


#: shingle CTE body shared by the MinHash-family oracles: (doc_id, s)
#: with s = distinct space-joined 3-gram list, replicating
#: dedup.shingles' tokenization (trim + \s+ split)
_SH_CTE = r"""
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        FROM {src})
"""


def _minhash_band_ctes(num_perm: int = dedup.NUM_PERM,
                       rows_per_band: int = dedup.LSH_ROWS,
                       band_widths: list[int] | None = None) -> str:
    """CTE chain hs/sig/bnd — MinHash signatures and banded LSH
    band rows, assuming a prior ``sh(doc_id, s)`` CTE. Shared by
    _minhash_lsh_ctes (threshold-verified pairs) and the estimator
    audit oracle (which reads sig directly). ``band_widths`` replays
    the adaptive layout (dedup.adaptive_minhash_bands — the oracle
    derives the SAME widths from the shared _doc_rows count, r8);
    band j covers the consecutive slots after sum(widths[:j]),
    exactly like dedup.band_hash_rows.

    Every heavy CTE carries an AS MATERIALIZED hint (r8): DuckDB
    inlines multiply-referenced CTEs by default, so the 150M-row
    shingle chain was recomputed inside several concurrent pipelines
    at sf10 — peak memory blew past 150 GB and spilled the disk full;
    materialized, the decontaminate_fuzzy oracle runs the 500k-doc
    corpus in ~90s under a 60 GB cap. Results are identical; the hint
    only pins evaluate-once."""
    p = dedup.MINHASH_P
    coeffs = [dedup.perm_coeffs(i) for i in range(num_perm)]
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(coeffs))
    widths = dedup._band_widths(rows_per_band, num_perm, band_widths)
    band_parts, off = [], 0
    for j, w in enumerate(widths):
        slots = ", ".join(f"m{off + i}" for i in range(w))
        band_parts.append(
            f"SELECT doc_id, {j} AS bi, [{slots}] AS bv FROM sig")
        off += w
    band_rows = "\n  UNION ALL ".join(band_parts)
    return f"""
hs AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(sg), 1, 15))::BIGINT % {p} AS h
  FROM (SELECT doc_id, unnest(s) AS sg FROM sh)
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM hs GROUP BY doc_id
),
bnd AS MATERIALIZED (
  {band_rows}
)"""


def _minhash_cand_ctes(num_perm: int = dedup.NUM_PERM,
                       rows_per_band: int = dedup.LSH_ROWS,
                       band_widths: list[int] | None = None) -> str:
    """_minhash_band_ctes plus the all-pairs ``cand`` CTE — the
    historical candidate chain (see _minhash_band_ctes for the split:
    the star-edge oracle reuses hs/sig/bnd without paying the
    per-bucket pair join)."""
    return _minhash_band_ctes(num_perm, rows_per_band, band_widths) + """,
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b
  FROM bnd a JOIN bnd z ON a.bi = z.bi AND a.bv = z.bv
                       AND a.doc_id < z.doc_id
)"""


def _minhash_lsh_ctes(threshold: float = 0.8,
                      num_perm: int = dedup.NUM_PERM,
                      rows_per_band: int = dedup.LSH_ROWS,
                      band_widths: list[int] | None = None) -> str:
    """CTE chain replicating dedup.minhash_lsh_dedup relationally,
    assuming a prior CTE ``sh(doc_id, s)`` (see _SH_CTE). Produces
    ``pairs(doc_a, doc_b, jacc)`` — verified near-dup pairs at
    exact Jaccard >= threshold.

    Signatures are bit-identical to minhash_signatures_arrow: the same
    md5-60-bit-mod-P shingle hash ('0x'||substr(md5,1,15) is the SQL
    form of word_hash), the same perm_coeffs affine maps in exact
    BIGINT arithmetic (a*h < 2^62, no overflow on either engine), min
    per doc over the distinct shingle set. Banding joins on the RAW
    rows_per_band-value signature slices where the Spark operator
    joins on xxhash64 of the slice — same candidate set unless
    xxhash64 collides across distinct slices (~2^-64 per band pair;
    exact verification makes even that harmless unless the colliding
    pair is also a true near-dup). Candidates come from a hash
    equi-join, so unlike the historical brute-force all-pairs spec
    (O(n^2): 1.25B shingle intersections at sf1) this oracle runs at
    any comparison scale; verification is candidate-local and exact,
    so the spec strength — every emitted pair carries its true rounded
    Jaccard — is unchanged."""
    return _minhash_cand_ctes(num_perm, rows_per_band, band_widths) + f""",
pairs AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(sa.s, sb.s))::DOUBLE
               / len(list_distinct(list_concat(sa.s, sb.s))), 3) AS jacc
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
              / len(list_distinct(list_concat(sa.s, sb.s))), 3)
        >= {threshold}
)"""


def _is_small_sf(sf_dir: str) -> bool:
    """True at the driver comparison scales (<= ~500 docs), where the
    O(n^2) brute-force oracles are trivial (<= 125k shingle-list
    intersections)."""
    return sf_dir.rstrip("/").endswith(("sf0.001", "sf0.01"))


def _brute_pairs_cte(threshold: float = 0.8) -> str:
    """Historical full-strength MinHash-family spec: EVERY pair at
    exact Jaccard >= threshold via an all-pairs join — no banding, so
    it independently checks LSH RECALL, not just the candidate-local
    verification. Same ``pairs(doc_a, doc_b, jacc)`` contract as
    _minhash_lsh_ctes; assumes a prior ``sh(doc_id, s)`` CTE."""
    j = ("round(len(list_intersect(a.s, b.s))::DOUBLE"
         " / len(list_distinct(list_concat(a.s, b.s))), 3)")
    return f""",
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {j} AS jacc
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {j} >= {threshold}
)"""


def _minhash_pairs_chain(sf_dir: str, threshold: float = 0.8) -> str:
    """sf-CONDITIONAL oracle chain for the MinHash family (r6 VERDICT
    item 2): text to append after ``WITH sh AS (...)`` yielding
    ``pairs(doc_a, doc_b, jacc)``.

    At the driver scales (sf0.001/sf0.01) this is the brute-force
    all-pairs spec — a systematic banding bug that LOSES true pairs
    fails here, restoring the independent recall check the r6 banded
    rewrite gave up. At sf >= 0.1 the O(n^2) spec cannot finish
    (1.25B intersections at sf1), so the banded relational replica of
    the signature/banding chain takes over — still exact-verifying
    every emitted pair, but recall-blind by construction (checked
    instead at toy scale by test_operators' brute-force parity
    test and here at every driver round)."""
    if _is_small_sf(sf_dir):
        return _brute_pairs_cte(threshold)
    return "," + _minhash_lsh_ctes(
        threshold, band_widths=dedup.adaptive_minhash_bands(
            _doc_rows(sf_dir)))


def _minhash_lsh_oracle(sf_dir: str) -> str:
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + ")"
            + _minhash_pairs_chain(sf_dir)
            + "\nSELECT doc_a, doc_b, jacc FROM pairs")


def _decontaminate_fuzzy_oracle(sf_dir: str) -> str:
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + ")"
            + _minhash_pairs_chain(sf_dir) + """,
x AS (
  SELECT CASE WHEN da.source != 'src0' THEN p.doc_a
              ELSE p.doc_b END AS doc_id,
         p.jacc
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE (da.source = 'src0') != (db.source = 'src0')
)
SELECT doc_id, count(*) AS n_eval_matches, round(max(jacc), 3) AS max_jacc
FROM x GROUP BY doc_id
""")


@_q("decontaminate_fuzzy", _decontaminate_fuzzy_oracle)
def q_decontaminate_fuzzy(spark, sf_dir):
    """Paraphrase-level contamination (contamination.fuzzy_
    contamination): src0 plays the eval set, the rest the training
    corpus; training docs near-duplicating any eval doc at Jaccard >=
    0.8 are flagged with match count + max similarity. MinHash+LSH
    cost profile (banded candidates, exact verify) — never
    |train| x |eval|; banding corpus-adaptive over the union row
    count (= the documents table), shared with the oracle via
    _doc_rows (r8). Oracle is sf-conditional (_minhash_pairs_chain):
    full brute-force spec at driver scales, banded replica past
    them."""
    from .operators import contamination

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0")
    return contamination.fuzzy_contamination(
        train, ev, threshold=0.8,
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))


def _minhash_estimate_oracle(sf_dir: str,
                             num_perm: int = dedup.NUM_PERM) -> str:
    """Relational replica of dedup.minhash_estimate_audit: banded
    candidates from _minhash_cand_ctes (adaptive widths via the shared
    _doc_rows count — this oracle emits the CANDIDATE set itself, so
    unlike the verified-pairs family it must band identically at
    every comparison scale), per-pair slot-agreement count over the
    same 128 signature slots, exact Jaccard alongside.
    est_jacc = n_agree/num_perm stays UNROUNDED — a dyadic rational
    both engines represent with the identical bit pattern (rounding
    would reintroduce engine-specific half-way ties, e.g. 8/128)."""
    # a list literal, NOT a 128-term `+` chain: DuckDB's binder
    # recursion cap (128) rejects the left-nested addition tree
    agree = ",\n           ".join(
        f"CASE WHEN a.m{i} = z.m{i} THEN 1 ELSE 0 END"
        for i in range(num_perm))
    widths = dedup.adaptive_minhash_bands(_doc_rows(sf_dir))
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + "),"
            + _minhash_cand_ctes(num_perm, band_widths=widths) + f""",
agr AS (
  SELECT c.doc_a, c.doc_b,
         list_sum([{agree}])::BIGINT AS n_agree
  FROM cand c
  JOIN sig a ON a.doc_id = c.doc_a
  JOIN sig z ON z.doc_id = c.doc_b
)
SELECT g.doc_a, g.doc_b, g.n_agree,
       g.n_agree::DOUBLE / {num_perm} AS est_jacc,
       round(len(list_intersect(sa.s, sb.s))::DOUBLE
             / len(list_distinct(list_concat(sa.s, sb.s))), 3) AS jacc
FROM agr g
JOIN sh sa ON sa.doc_id = g.doc_a
JOIN sh sb ON sb.doc_id = g.doc_b
""")


@_q("dedup_minhash_estimate", _minhash_estimate_oracle)
def q_dedup_minhash_estimate(spark, sf_dir):
    """Estimator-quality audit of the MinHash index
    (dedup.minhash_estimate_audit): every LSH candidate pair with its
    signature-slot-agreement Jaccard estimate next to the exact value
    — the calibration check a pipeline runs before trusting the
    estimator on the full corpus, same role ann_recall plays for the
    ANN index. Oracle replicates signatures, banding (adaptive widths
    from the shared _doc_rows count, r8), agreement count, and exact
    verify relationally, so the audit itself is parity-checked at any
    sf."""
    return dedup.minhash_estimate_audit(
        _t(spark, sf_dir, "documents"),
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))


@_q("dedup_minhash_lsh", _minhash_lsh_oracle)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash (128 perms) + LSH banding + exact verification at
    Jaccard >= 0.8. Banding is corpus-adaptive
    (dedup.adaptive_minhash_bands over the shared _doc_rows count, r8
    — [4]*32 through sf1, wider-fewer bands past it, cutting the
    band-explode shuffle that dominated the third decade). Oracle is
    sf-conditional (_minhash_pairs_chain): the brute-force all-pairs
    spec at driver scales — every true pair must be RECALLED, not
    just verified — and the banded relational replica (bit-identical
    signatures, THE SAME adaptive band slices, exact rounded Jaccard)
    where O(n^2) cannot finish."""
    return dedup.minhash_lsh_dedup(
        _t(spark, sf_dir, "documents"), threshold=0.8,
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))


def _star_clusters_oracle(sf_dir: str) -> str:
    """Banded relational replica of the star-edge LSH chain: band
    rows (bit-identical signatures, same adaptive slices), per-bucket
    MIN, (min, member) star edges, exact-Jaccard verification, then
    the recursive-CTE connected-components fixpoint. Unlike the pair
    contract there is no brute-force small-sf spec — the star edge
    SET is banding-defined by contract (which members link to which
    bucket minimum depends on the buckets), so the oracle replicates
    the banding at every sf; recall of the underlying banding is
    covered by dedup_minhash_lsh's small-sf brute spec and the
    operator-level parity tests (star CC == pair CC on duplicate-
    family corpora, tests/test_operators.py)."""
    widths = dedup.adaptive_minhash_bands(_doc_rows(sf_dir))
    return ("WITH RECURSIVE sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + "),"
            + _minhash_band_ctes(band_widths=widths) + """,
starc AS MATERIALIZED (
  SELECT DISTINCT m.mid AS doc_a, b.doc_id AS doc_b
  FROM bnd b
  JOIN (SELECT bi, bv, min(doc_id) AS mid FROM bnd GROUP BY bi, bv) m
    ON b.bi = m.bi AND b.bv = m.bv AND b.doc_id != m.mid),
ve AS (
  SELECT c.doc_a, c.doc_b
  FROM starc c JOIN sh sa ON sa.doc_id = c.doc_a
               JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
              / len(list_distinct(list_concat(sa.s, sb.s))), 3) >= 0.8),
e AS (SELECT doc_a AS src, doc_b AS dst FROM ve
      UNION SELECT doc_b, doc_a FROM ve),
reach(node, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.node
)
SELECT node, min(lbl) AS cluster FROM reach GROUP BY node
""")


@_q("dedup_star_clusters", _star_clusters_oracle)
def q_dedup_star_clusters(spark, sf_dir):
    """Hot-bucket-safe duplicate clustering (VERDICT r10 #3): STAR
    edges — (bucket-min, member) per LSH band bucket, O(occupancy)
    instead of O(occupancy²) — exact-verified at Jaccard >= 0.8, then
    connected components. The cluster-consumer path for
    mass-duplicated corpora where the all-pairs band join is
    infeasible (50k copies of one doc = 1.25B pairs vs 50k star
    edges); components equal the pair path's whenever bucket
    co-members are mutually near-dup (the duplicate-family regime —
    see dedup.lsh_candidate_edges_star and band_bucket_occupancy).
    Oracle replicates the banded star chain relationally and the CC
    fixpoint as a recursive CTE."""
    edges = dedup.minhash_lsh_dedup(
        _t(spark, sf_dir, "documents"), threshold=0.8, edge_mode="star",
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))
    return dedup.connected_components(edges.select("doc_a", "doc_b"))


def _band_occupancy_oracle(sf_dir: str) -> str:
    widths = dedup.adaptive_minhash_bands(_doc_rows(sf_dir))
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + "),"
            + _minhash_band_ctes(band_widths=widths) + """,
occ AS (SELECT bi, bv, count(*) AS n FROM bnd GROUP BY bi, bv)
SELECT CASE WHEN n = 1 THEN 0 ELSE length(bin(n - 1)) END::BIGINT
         AS log2_occ,
       count(*)::BIGINT AS n_buckets,
       sum(n)::BIGINT AS n_rows,
       sum((n * (n - 1)) // 2)::BIGINT AS pair_volume
FROM occ GROUP BY 1 ORDER BY 1
""")


@_q("dedup_band_occupancy", _band_occupancy_oracle)
def q_dedup_band_occupancy(spark, sf_dir):
    """LSH hot-bucket telemetry (dedup.band_bucket_occupancy): the
    band-bucket occupancy histogram by exact integer log2 class
    (bit-length bins — a float log2 can ceil a power of two into the
    wrong class), with the all-pairs volume each class would emit.
    The pipeline reads this BEFORE choosing edge_mode: a heavy
    pair_volume tail says the pair path blows up and cluster
    consumers should go star. Linear: signature pass + one
    groupBy(bucket) count + a ~60-row rollup."""
    return dedup.band_bucket_occupancy(
        _t(spark, sf_dir, "documents"),
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))


@_q("dedup_incremental_cc", """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                        for i in range(1, len(words)-1)]) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents WHERE doc_id < 250)
),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))), 3) >= 0.5
),
ep_old AS (
  SELECT lag(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS doc_a,
         doc_id AS doc_b
  FROM documents WHERE doc_id % 4 != 0
  QUALIFY doc_a IS NOT NULL
),
ep_all AS (
  SELECT lag(doc_id) OVER (PARTITION BY md5(text) ORDER BY doc_id) AS doc_a,
         doc_id AS doc_b
  FROM documents
  QUALIFY doc_a IS NOT NULL
),
old_pairs AS (
  SELECT * FROM ep_old
  UNION
  SELECT * FROM jp WHERE doc_a % 4 != 0 AND doc_b % 4 != 0),
delta AS (
  SELECT * FROM ep_all WHERE doc_a % 4 = 0 OR doc_b % 4 = 0
  UNION
  SELECT * FROM jp WHERE doc_a % 4 = 0 OR doc_b % 4 = 0),
pairs AS (SELECT * FROM old_pairs UNION SELECT * FROM delta),
e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.lbl FROM e JOIN reach ON e.dst = reach.node
)
SELECT node, min(lbl) AS cluster FROM reach GROUP BY node
""")
def q_dedup_incremental_cc(spark, sf_dir):
    """Incremental cluster maintenance (VERDICT r10 #5,
    dedup.connected_components_incremental): three quarters of the
    corpus plays the curated base — its near-dup edge set (the
    dedup_clusters recipe: full-corpus exact-dup chain edges plus
    bounded exact-Jaccard pairs) is clustered into persisted CC
    labels — and the doc_id % 4 == 0 quarter plays the daily ingest:
    every edge touching a delta doc is merged into the persisted
    labels by contracting each delta endpoint to its old cluster
    representative, running CC on the delta-sized contracted graph
    only (driver union-find under the gate), and broadcast-remapping
    the label table — no iterative pass over the full graph. The
    union of base and delta chain edges connects exactly what the
    full-corpus chains connect (both chain forms span each
    fingerprint group), so the oracle recomputes CC over that union
    from scratch: equality IS the incremental-equals-full-recompute
    contract, including clusters MERGED by a delta edge between two
    old clusters."""
    from . import cache

    docs = _t(spark, sf_dir, "documents")
    sub = docs.filter(F.col("doc_id") < 250)
    is_new_a = F.col("doc_a") % 4 == 0
    is_new_b = F.col("doc_b") % 4 == 0
    # persisted (opt r11): the bounded all-pairs Jaccard chain feeds
    # BOTH the base edge set and the delta — without it the whole
    # shingle/intersection pipeline runs twice
    jacc_all = cache.persist(dedup.ngram_jaccard_pairs(sub, threshold=0.5)
                             .select("doc_a", "doc_b"))
    old_edges = (dedup.exact_dup_edges(docs.filter(F.col("doc_id") % 4 != 0))
                 .unionByName(jacc_all.filter(~is_new_a & ~is_new_b)))
    delta = (dedup.exact_dup_edges(docs).filter(is_new_a | is_new_b)
             .unionByName(jacc_all.filter(is_new_a | is_new_b)))
    labels0 = dedup.connected_components(old_edges)
    return dedup.connected_components_incremental(labels0, delta)


#: the source that plays the daily ingest batch in the incremental
#: dedup query (5% of the corpus at every sf). src7 is the source with
#: planted near-dups of BOTH kinds at the driver scale: 4 cross-source
#: pairs and one batch-internal pair at sf0.01, so the debut driver row
#: exercises the corpus and batch match paths with nonzero output.
_INC_DELTA_SRC = "src7"


def _dedup_incremental_oracle(sf_dir: str,
                              threshold: float = 0.8) -> str:
    """sf-conditional oracle for minhash_lsh_dedup_incremental. Small
    sf: brute-force cross/self all-pairs over the delta — every true
    (batch x corpus) and batch-internal pair must be RECALLED. At
    sf >= 0.1: the banded replica bands ALL documents with the shared
    _minhash_cand_ctes chain, keeps candidate pairs touching a delta
    doc, and orients them (new side first; batch pairs keep the larger
    id as doc_new, matching the operator's earlier-id-wins rule)."""
    d = _INC_DELTA_SRC

    def jacc(a: str, b: str) -> str:
        return (f"round(len(list_intersect({a}.s, {b}.s))::DOUBLE"
                f" / len(list_distinct(list_concat({a}.s, {b}.s))), 3)")

    if _is_small_sf(sf_dir):
        newd = f"(SELECT doc_id, text FROM documents WHERE source = '{d}')"
        oldd = f"(SELECT doc_id, text FROM documents WHERE source != '{d}')"
        return f"""
WITH shn AS ({_SH_CTE.format(src=newd)}),
sho AS ({_SH_CTE.format(src=oldd)}),
pairs AS (
  SELECT n.doc_id AS doc_new, o.doc_id AS doc_match,
         {jacc('n', 'o')} AS jacc, 'corpus' AS match_in
  FROM shn n CROSS JOIN sho o
  WHERE {jacc('n', 'o')} >= {threshold}
  UNION ALL
  SELECT a.doc_id AS doc_new, b.doc_id AS doc_match,
         {jacc('a', 'b')} AS jacc, 'batch' AS match_in
  FROM shn a JOIN shn b ON b.doc_id < a.doc_id
  WHERE {jacc('a', 'b')} >= {threshold}
)
SELECT doc_new, doc_match, jacc, match_in FROM pairs
"""
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + "),"
            + _minhash_cand_ctes() + f""",
cand2 AS (
  SELECT c.doc_a, c.doc_b,
         (da.source = '{d}') AS a_new, (db.source = '{d}') AS b_new
  FROM cand c
  JOIN documents da ON da.doc_id = c.doc_a
  JOIN documents db ON db.doc_id = c.doc_b
  WHERE da.source = '{d}' OR db.source = '{d}'
),
inc AS (
  SELECT CASE WHEN a_new AND b_new THEN greatest(doc_a, doc_b)
              WHEN a_new THEN doc_a ELSE doc_b END AS doc_new,
         CASE WHEN a_new AND b_new THEN least(doc_a, doc_b)
              WHEN a_new THEN doc_b ELSE doc_a END AS doc_match,
         CASE WHEN a_new AND b_new THEN 'batch'
              ELSE 'corpus' END AS match_in
  FROM cand2
),
pairs AS (
  SELECT i.doc_new, i.doc_match, {jacc('sa', 'sb')} AS jacc, i.match_in
  FROM inc i
  JOIN sh sa ON sa.doc_id = i.doc_new
  JOIN sh sb ON sb.doc_id = i.doc_match
  WHERE {jacc('sa', 'sb')} >= {threshold}
)
SELECT doc_new, doc_match, jacc, match_in FROM pairs
""")


@_q("dedup_incremental", _dedup_incremental_oracle)
def q_dedup_incremental(spark, sf_dir):
    """Daily-ingest near-dedup (dedup.minhash_lsh_dedup_incremental):
    source 'src7' plays the new batch, the rest the existing corpus.
    The batch is signed map-only, checked against the corpus's
    (id, bh) band index AND itself, and every candidate is verified
    at exact Jaccard >= 0.8 — per-ingest cost proportional to the
    delta, with the corpus contributing only index rows and the
    shingles of candidate-matched docs. The index is built in-query
    here; in production minhash_band_index is written once as a table
    bucketed on bh, so the daily join has no corpus-side shuffle."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == _INC_DELTA_SRC)
    corpus = docs.filter(F.col("source") != _INC_DELTA_SRC)
    return dedup.minhash_lsh_dedup_incremental(new, corpus, threshold=0.8)


#: SimHash width for the registered queries: 60 (word_hash's full
#: width). Pigeonhole banding's bucket space is 2^(n_bits/(k+1)) per
#: band — 32 bits at Hamming 3 caps at 256 buckets/band, so occupancy
#: (and candidate pairs) grow linearly (quadratically) with the
#: corpus; 60 bits gives 32k buckets/band, 128x fewer collisions.
_SIMHASH_BITS = 60


def _simhash_oracle(n_bits: int = _SIMHASH_BITS) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(n_bits))
    val = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {2 ** j} ELSE 0 END)"
                     for j in range(n_bits))
    return f"""
WITH w AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
), v AS (
  SELECT doc_id,
         {votes}
  FROM w GROUP BY doc_id
)
SELECT doc_id, ({val})::BIGINT AS simhash FROM v
"""


@_q("dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark, sf_dir):
    """Per-document 60-bit SimHash via the codegen'd explode+group-by
    formulation (simhash_table); the projection form simhash32() is the
    shuffle-free 32-bit alternative for narrow inputs. 60 bits (the
    full word_hash width) is the scale setting — see _SIMHASH_BITS."""
    return (dedup.simhash_table(_t(spark, sf_dir, "documents"),
                                out_col="simhash", n_bits=_SIMHASH_BITS)
            .select(F.col("id").alias("doc_id"), "simhash"))


def _simhash_pairs_oracle(n_bits: int = _SIMHASH_BITS,
                          max_hamming: int = 3) -> str:
    """Banded relational replica of dedup.simhash_pairs — SAME spec
    strength as the historical brute-force all-pairs oracle (pigeonhole
    banding is EXACT for Hamming <= max_hamming: at most max_hamming
    dirty bits cannot dirty all max_hamming+1 bands, so every
    qualifying pair shares a band), but the candidate step is an
    equi-join DuckDB hash-joins in O(n + candidates) instead of the
    O(n^2) nested loop that cannot finish at sf>=1 (1.25B pairs at
    50k docs). Band widths replicate the operator's floor/floor+1
    remainder distribution, so both engines band identically."""
    n_bands = max_hamming + 1
    base_w, rem = divmod(n_bits, n_bands)
    widths = [base_w + 1 if j < rem else base_w for j in range(n_bands)]
    starts = [sum(widths[:j]) for j in range(n_bands)]
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS bi, "
        f"(simhash >> {starts[j]}) & {(1 << widths[j]) - 1} AS bv FROM s"
        for j in range(n_bands))
    return f"""
WITH s AS ({_simhash_oracle(n_bits)}),
b AS (
  {band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b,
       bit_count(xor(a.simhash, z.simhash))::BIGINT AS hamming
FROM b a JOIN b z ON a.bi = z.bi AND a.bv = z.bv
                 AND a.doc_id < z.doc_id
WHERE bit_count(xor(a.simhash, z.simhash)) <= {max_hamming}
"""


@_q("dedup_simhash_pairs", _simhash_pairs_oracle())
def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at Hamming distance <= 3 over the 60-bit
    fingerprint, via pigeonhole banding (15-bit bands -> 32k
    buckets/band; exact result, no recall loss)."""
    out = dedup.simhash_pairs(_t(spark, sf_dir, "documents"),
                              max_hamming=3, n_bits=_SIMHASH_BITS)
    return out.select("doc_a", "doc_b",
                      F.col("hamming").cast("long").alias("hamming"))


# ======================================================================
# North star: end-to-end corpus curation (operators/pipeline.py)
# ======================================================================

def _curate_oracle_base(sf_dir: str) -> str:
    """Quality -> exact-dedup -> near-dedup losers -> kept CTE chain;
    the near-dup ``pairs`` step is sf-conditional via
    _minhash_pairs_chain (brute-force spec at driver scales, banded
    replica past them)."""
    return (r"""
WITH q AS (
  SELECT doc_id, text FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 20
),
keep_exact AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
),
uniq AS (SELECT q.* FROM q JOIN keep_exact USING (doc_id)),
sh AS (""" + _SH_CTE.format(src="uniq") + ")"
            + _minhash_pairs_chain(sf_dir) + r""",
losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM pairs
),
kept AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
             AS n_bpe_tokens
  FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM losers)
)
""")


def _pipeline_curate_oracle(sf_dir: str) -> str:
    return (_curate_oracle_base(sf_dir)
            + "SELECT doc_id, n_tokens, n_bpe_tokens FROM kept")


def _pipeline_stats_oracle(sf_dir: str) -> str:
    return _curate_oracle_base(sf_dir) + """
SELECT count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       sum(n_bpe_tokens)::BIGINT AS total_bpe_tokens,
       round(avg(n_tokens), 2) AS avg_tokens
FROM kept
"""


@_q("pipeline_curate", _pipeline_curate_oracle)
def q_pipeline_curate(spark, sf_dir):
    """Full curation pipeline (quality >= 20 tokens, exact dedup,
    MinHash near-dedup at 0.8) as one lazy plan; emits the surviving
    doc ids with token budgets. Near-dedup banding is corpus-adaptive
    (r8), derived from the same _doc_rows count the oracle's banded
    replica uses so the two band identically."""
    from .operators import pipeline

    out = pipeline.curate_corpus(
        _t(spark, sf_dir, "documents"),
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))
    return out.select("doc_id", "n_tokens", "n_bpe_tokens")


@_q("pipeline_stats", _pipeline_stats_oracle)
def q_pipeline_stats(spark, sf_dir):
    """Training-budget summary of the curated corpus (one row)."""
    from .operators import pipeline

    return pipeline.corpus_stats(pipeline.curate_corpus(
        _t(spark, sf_dir, "documents"),
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir))))


# ======================================================================
# North star: multimodal columns (operators/multimodal.py)
#
# documents has no binary column, so each query first synthesizes
# content = encode(text, 'UTF-8') — identically on the DuckDB side —
# which makes the MD5-derived fake-decode features oracle-checkable.
# ======================================================================


def _media_docs(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content")))


@_q("multimodal_image_features", """
SELECT doc_id,
       ('0x'||substr(md5(text),1,4))::BIGINT % 1920 + 1 AS width,
       ('0x'||substr(md5(text),5,4))::BIGINT % 1080 + 1 AS height,
       (('0x'||substr(md5(text),1,4))::BIGINT % 1920 + 1)
         * (('0x'||substr(md5(text),5,4))::BIGINT % 1080 + 1) AS n_pixels,
       (('0x'||substr(md5(text),9,4))::BIGINT % 256) / 255.0 AS mean_luma
FROM documents
""")
def q_multimodal_image_features(spark, sf_dir):
    """Arrow-batched image decode + feature extraction (mapInPandas).
    The deterministic fake decoder derives fields from MD5(content);
    the oracle recomputes them from md5(text) hex in SQL."""
    return multimodal.decode_images(_media_docs(spark, sf_dir))


def _ppm_blobs(spark, sf_dir):
    """Solid-color P6 PPM blobs with closed-form dims/color per doc —
    the synthesis half of the REAL image-codec roundtrip (production
    data arrives as real files; the decoder can't tell)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _enc(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nc = int(did), int(nc)
                rows.append((did, multimodal.encode_ppm(
                    nc % 64 + 1, did % 48 + 1,
                    (did * 7) % 256, (did * 13) % 256, (did * 29) % 256)))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return docs.mapInPandas(_enc, "doc_id long, content binary")


@_q("multimodal_image_real", """
SELECT doc_id,
       (n_chars % 64 + 1)::BIGINT AS width,
       (doc_id % 48 + 1)::BIGINT AS height,
       ((n_chars % 64 + 1) * (doc_id % 48 + 1))::BIGINT AS n_pixels,
       floor((0.299 * ((doc_id * 7) % 256) + 0.587 * ((doc_id * 13) % 256)
              + 0.114 * ((doc_id * 29) % 256)) / 255.0 * 1000000)
         / 1000000 AS mean_luma
FROM documents
""")
def q_multimodal_image_real(spark, sf_dir):
    """REAL image codec roundtrip (r8: VERDICT's last missing item,
    partially unblocked): solid-color binary PPMs are synthesized
    per document, then multimodal.decode_images(decode='real')
    PARSES the bytes — netpbm header, numpy channel sums, the
    Rec.601 luma formula — inside the same Arrow mapInPandas plumbing
    the fake path uses. The oracle states the expected dimensions and
    mean luma in closed form; luma floor-truncates to 6 decimals on
    both sides (the two engines' multiply-add chains differ at the
    last ulp — measured 159/500 one-ulp rows raw). Compressed formats
    still raise with the honest external-codec reason
    (multimodal._decode_ppm)."""
    out = multimodal.decode_images(_ppm_blobs(spark, sf_dir),
                                   decode="real")
    return out.withColumn(
        "mean_luma", F.floor(F.col("mean_luma") * 1_000_000) / 1_000_000)


def _wav_blobs(spark, sf_dir):
    """Constant-amplitude 16-bit PCM WAV blobs with closed-form
    rate/length/amplitude per doc — synthesis half of the REAL
    audio-codec roundtrip."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _enc(batches):
        for pdf in batches:
            rows = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nc = int(did), int(nc)
                amp = did % 1000 + 1
                n = nc % 256 + 16
                rate = 16000 if did % 2 == 0 else 8000
                rows.append((did, multimodal.encode_wav_pcm16(
                    [amp] * n, rate)))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return docs.mapInPandas(_enc, "doc_id long, content binary")


def _avi_blobs(spark, sf_dir):
    """Uncompressed-DIB AVI blobs (2x2 RGB, doc_id%30+1 frames, frame
    k's payload = 12 copies of a printable byte derived from
    (doc_id, k)) — synthesis half of the REAL video-demux roundtrip."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _enc(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = did % 30 + 1
                frames = [bytes([(did + k * 7) % 95 + 32] * 12)
                          for k in range(n)]
                rows.append((did, multimodal.encode_avi_rgb(
                    frames, 2, 2, fps=10)))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return docs.mapInPandas(_enc, "doc_id long, content binary")


@_q("multimodal_video_real", """
WITH f AS (
  SELECT doc_id, unnest(range(0, doc_id % 30 + 1, 3)) AS frame_idx
  FROM documents)
SELECT doc_id, frame_idx,
       md5(repeat(chr(((doc_id + frame_idx * 7) % 95 + 32)::INT), 12))
         AS frame_md5
FROM f
""")
def q_multimodal_video_real(spark, sf_dir):
    """REAL video demux roundtrip (r8: completes the media triple —
    WAV audio, PPM images, now AVI video): uncompressed-DIB AVI
    containers are synthesized per document, then
    multimodal.sample_video_frames(decode='real') WALKS the RIFF
    chunk tree and emits every 3rd actual frame payload; the oracle
    states each sampled frame's MD5 in closed form, so a demuxer that
    miscounts chunks, misreads sizes, or returns the wrong bytes
    fails the hash. Compressed streams (H264 handler) raise with the
    honest external-codec reason (multimodal._demux_avi)."""
    out = multimodal.sample_video_frames(_avi_blobs(spark, sf_dir),
                                         every_n=3, decode="real")
    return out.select("doc_id", F.col("frame_idx").cast("long"),
                      F.md5("frame").alias("frame_md5"))


@_q("multimodal_audio_real", """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END AS sample_rate,
       (n_chars % 256 + 16)::BIGINT AS n_samples,
       ((n_chars % 256 + 16) * 1000000)
         // CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END
           AS duration_us,
       (doc_id % 1000 + 1) / 32768.0 AS rms
FROM documents
""")
def q_multimodal_audio_real(spark, sf_dir):
    """REAL audio codec roundtrip: constant-amplitude RIFF/PCM WAV
    clips are synthesized per document, then
    multimodal.decode_audio(decode='real') PARSES them with the
    stdlib wave module — real frame rate, frame count, and RMS from
    exact integer sum-of-squares (constant amplitude A makes
    rms == A/32768 bit-exactly, which the oracle states in closed
    form). MP3/AAC still raise with the honest external-codec reason
    (multimodal._decode_wav)."""
    return multimodal.decode_audio(_wav_blobs(spark, sf_dir),
                                   decode="real")


@_q("multimodal_frame_sample", """
SELECT doc_id,
       unnest(range(0, ('0x'||substr(md5(text),13,2))::BIGINT % 30 + 1, 3))
           AS frame_idx
FROM documents
""")
def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling fan-out: 1 blob row -> ceil(n_frames/3)
    frame rows. Frame bytes dropped for the compare (binary payload is
    engine-opaque); the fan-out shape is what's checked."""
    return (multimodal.sample_video_frames(_media_docs(spark, sf_dir),
                                           every_n=3)
            .select("doc_id", "frame_idx"))


@_q("multimodal_audio_features", """
SELECT doc_id,
       [8000, 16000, 22050, 44100][('0x'||substr(md5(text),15,2))::BIGINT % 4 + 1]
           AS sample_rate,
       ('0x'||substr(md5(text),17,5))::BIGINT % 1048576 + 1 AS n_samples,
       (('0x'||substr(md5(text),17,5))::BIGINT % 1048576 + 1) * 1000000
         // [8000, 16000, 22050, 44100][('0x'||substr(md5(text),15,2))::BIGINT % 4 + 1]
           AS duration_us,
       (('0x'||substr(md5(text),22,4))::BIGINT % 10000) / 10000.0 AS rms
FROM documents
""")
def q_multimodal_audio_features(spark, sf_dir):
    """Arrow-batched audio decode stub (mapInPandas): rate / samples /
    integer-microsecond duration / rms derived from MD5(content)."""
    return multimodal.decode_audio(_media_docs(spark, sf_dir))


@_q("multimodal_binary_stats", """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256
FROM documents
""")
def q_multimodal_binary_stats(spark, sf_dir):
    """Pure-JVM binary stats (no Python stage): byte length + SHA-256."""
    return multimodal.binary_stats(_media_docs(spark, sf_dir))


@_q("multimodal_resize_plan", """
WITH f AS (
  SELECT doc_id,
         ('0x'||substr(md5(text),1,4))::BIGINT % 1920 + 1 AS width,
         ('0x'||substr(md5(text),5,4))::BIGINT % 1080 + 1 AS height
  FROM documents),
s AS (SELECT doc_id, width, height,
             least(512.0/width, 512.0/height, 1.0) AS sc FROM f)
SELECT doc_id, width, height,
       greatest(floor(width*sc), 1)::BIGINT AS out_w,
       greatest(floor(height*sc), 1)::BIGINT AS out_h,
       floor(sc*1000000)/1000000 AS scale,
       sc >= 1.0 AS is_noop
FROM s
""")
def q_multimodal_resize_plan(spark, sf_dir):
    """Resize planning over decoded image dims (multimodal.plan_resize):
    aspect-preserving fit into a 512x512 box, no upscaling — the
    codegen arithmetic stage a pipeline runs (and filters on) BEFORE
    paying per-blob decode+resample, so no-op images never enter the
    Python codec pass."""
    feats = multimodal.decode_images(_media_docs(spark, sf_dir))
    return multimodal.plan_resize(feats, max_w=512, max_h=512)


def _pattern_ppm_blobs(spark, sf_dir):
    """Structured P6 PPM blobs for the perceptual-hash family
    (VERDICT r10 #4): 36x16 gray images whose pixel value is a
    per-FAMILY quadratic pattern (family = doc_id // 4) with a
    per-VARIANT single-pixel perturbation (+128 mod 256 at a
    variant-specific dHash grid point) — so each family's four
    variants are perceptual near-dups (dHash Hamming <= 4 by
    construction: one sampled pixel touches at most 2 comparison
    bits per variant) while different families' quadratics give
    ~random 64-bit hashes (measured cross-family Hamming ~29). All
    integer arithmetic, replicated in closed form by the oracle."""
    import numpy as np
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    W, H = 36, 16

    def _enc(batches):
        xx, yy = np.meshgrid(np.arange(W), np.arange(H))
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                base, v = did // 4, did % 4
                a, b = base % 7 + 1, base % 5 + 1
                c, d = base % 11, (base * 3) % 13
                e, f = (base * 5) % 17, base % 251
                val = (a*xx*xx + b*yy*yy + c*xx*yy + d*xx + e*yy + f) % 256
                if v > 0:
                    val[2 * (v + 2), 8 * v] = \
                        (val[2 * (v + 2), 8 * v] + 128) % 256
                raster = np.repeat(val.astype(np.uint8)[:, :, None], 3,
                                   axis=2)
                rows.append((did, f"P6\n{W} {H}\n255\n".encode("ascii")
                             + raster.tobytes()))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    return docs.mapInPandas(_enc, "doc_id long, content binary")


#: coefficient CTE + grid-sample CTEs shared by the perceptual-hash
#: oracles: dg = the 9x8 dHash grid samples (px = 4x, py = 2y over the
#: 36x16 raster), ag = the 8x8 aHash grid (px = 36x//8). The variant
#: bump is applied at raster level in both (it can only land on a dg
#: point by construction, but the CASE mirrors the raster faithfully).
#: Gray images make the integer luma a constant multiple of the pixel
#: value, and both hash definitions are scale-invariant (strict
#: comparisons), so the oracle compares raw values.
_PHASH_GRID_CTES = """
co AS (
  SELECT doc_id, doc_id % 4 AS v,
         (doc_id // 4) % 7 + 1 AS a, (doc_id // 4) % 5 + 1 AS b,
         (doc_id // 4) % 11 AS c, ((doc_id // 4) * 3) % 13 AS d,
         ((doc_id // 4) * 5) % 17 AS e, (doc_id // 4) % 251 AS f
  FROM documents),
dg AS MATERIALIZED (
  SELECT co.doc_id, y.y, x.x,
         ((a*(4*x.x)*(4*x.x) + b*(2*y.y)*(2*y.y) + c*(4*x.x)*(2*y.y)
           + d*(4*x.x) + e*(2*y.y) + f) % 256
          + CASE WHEN v > 0 AND 4*x.x = 8*v AND y.y = v + 2
                 THEN 128 ELSE 0 END) % 256 AS val
  FROM co, range(9) x(x), range(8) y(y)),
ag AS MATERIALIZED (
  SELECT co.doc_id, y.y, x.x,
         ((a*((x.x*36)//8)*((x.x*36)//8) + b*(2*y.y)*(2*y.y)
           + c*((x.x*36)//8)*(2*y.y) + d*((x.x*36)//8) + e*(2*y.y) + f)
            % 256
          + CASE WHEN v > 0 AND (x.x*36)//8 = 8*v AND y.y = v + 2
                 THEN 128 ELSE 0 END) % 256 AS val
  FROM co, range(8) x(x), range(8) y(y)),
db AS (
  SELECT g0.doc_id,
         sum(CASE WHEN g1.val > g0.val
                  THEN 1::HUGEINT << (g0.y*8 + g0.x)
                  ELSE 0::HUGEINT END) AS s
  FROM dg g0 JOIN dg g1 ON g1.doc_id = g0.doc_id AND g1.y = g0.y
                        AND g1.x = g0.x + 1
  WHERE g0.x < 8
  GROUP BY g0.doc_id),
atot AS (SELECT doc_id, sum(val) AS tot FROM ag GROUP BY doc_id),
ab AS (
  SELECT ag.doc_id,
         sum(CASE WHEN ag.val*64 > atot.tot
                  THEN 1::HUGEINT << (ag.y*8 + ag.x)
                  ELSE 0::HUGEINT END) AS s
  FROM ag JOIN atot USING (doc_id) GROUP BY ag.doc_id),
ph AS MATERIALIZED (
  SELECT db.doc_id, db.s AS ds, ab.s AS asum,
         CASE WHEN db.s >= 9223372036854775808
              THEN (db.s - 18446744073709551616)::BIGINT
              ELSE db.s::BIGINT END AS dhash,
         CASE WHEN ab.s >= 9223372036854775808
              THEN (ab.s - 18446744073709551616)::BIGINT
              ELSE ab.s::BIGINT END AS ahash
  FROM db JOIN ab USING (doc_id))
"""


@_q("image_phash", "WITH " + _PHASH_GRID_CTES + """
SELECT doc_id, dhash, ahash FROM ph
""")
def q_image_phash(spark, sf_dir):
    """Perceptual image hashes over REAL-decoded PPM rasters
    (multimodal.image_perceptual_hashes): dHash (9x8 nearest-neighbor
    grid, horizontal gradient bits) + aHash (8x8 grid vs exact
    integer mean), packed row-major into int64 two's complement —
    all integer arithmetic, so the oracle computes both hashes in
    closed form from the synthesis quadratic and wraps the HUGEINT
    bit sum identically. The decode side does the generic pixel work
    (raster parse, integer luma, grid sampling); the oracle states
    the expected samples directly."""
    return multimodal.image_perceptual_hashes(
        _pattern_ppm_blobs(spark, sf_dir))


def _image_phash_neardup_oracle(sf_dir: str) -> str:
    """sf-CONDITIONAL pairing oracle: brute-force Hamming ball over
    the closed-form hash table at driver scales (full recall spec —
    a banding bug that LOSES a true pair fails here); past that the
    banded pigeonhole replica ([13,13,13,13,12]-bit bands off the
    UNSIGNED hugeint form, exact integer shifts) with the same exact
    bit_count verification, which runs at any scale."""
    brute = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
"""
    widths = [13, 13, 13, 13, 12]
    starts = [sum(widths[:j]) for j in range(len(widths))]
    band_parts = "\n  UNION ALL ".join(
        f"SELECT doc_id, dhash, {j} AS bi, "
        f"(ds >> {starts[j]}) % {1 << widths[j]} AS bv FROM ph"
        for j in range(len(widths)))
    banded = f""",
br AS MATERIALIZED (
  {band_parts}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
  FROM br a JOIN br b ON a.bi = b.bi AND a.bv = b.bv
                      AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 4
"""
    body = brute if _is_small_sf(sf_dir) else banded
    return "WITH " + _PHASH_GRID_CTES + body


@_q("image_phash_neardup", _image_phash_neardup_oracle)
def q_image_phash_neardup(spark, sf_dir):
    """Perceptual image near-duplicates (VERDICT r10 #4): dHash
    Hamming ball <= 4 over the image corpus via the SAME pigeonhole
    band machinery as text SimHash (dedup.hamming_neardup_pairs, 5
    bands over 64 bits -> equi-join candidates, exact bit_count
    verify — linear shuffle, no pair enumeration). Finds each
    family's variant pairs (single-pixel perturbations, Hamming <= 4
    by construction) and rejects cross-family pairs (~29 bits). The
    hash table is persisted: the band self-join consumes it twice and
    the per-image Python decode must run once."""
    from . import cache

    h = cache.persist(multimodal.image_perceptual_hashes(
        _pattern_ppm_blobs(spark, sf_dir)))
    return (dedup.hamming_neardup_pairs(h, id_col="doc_id",
                                        hash_col="dhash",
                                        max_hamming=4, n_bits=64)
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("long").alias("hamming")))


# ======================================================================
# North star: embedding similarity search (operators/similarity.py)
# ======================================================================

_KNN_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id
), r AS (
  SELECT q_id, n_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM p)
SELECT q_id, n_id, rank, sim FROM r WHERE rank <= 5
"""


@_q("knn_cosine", _KNN_ORACLE)
def q_knn_cosine(spark, sf_dir):
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10):
    broadcast the queries, scan the corpus once."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.knn_cosine(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select("q_id", "n_id", F.col("rank").cast("long").alias("rank"), "sim")


@_q("embedding_pool_chunks", """
WITH e AS (SELECT vec_id, vec_id // 4 AS doc_id,
                  embedding::DOUBLE[] AS v
           FROM embeddings),
g AS (SELECT doc_id, count(*) AS n_chunks,
             list(v ORDER BY vec_id) AS chunks
      FROM e GROUP BY doc_id),
s AS (SELECT doc_id, n_chunks,
             list_reduce(chunks,
                         (a, b) -> [a[i] + b[i]
                                    for i in range(1, len(a)+1)]) AS sm
      FROM g)
SELECT doc_id, n_chunks::BIGINT AS n_chunks,
       array_to_string(
         [cast(round(round(x / n_chunks, 6) * 1e6) AS BIGINT)
          for x in sm], ',') AS pooled
FROM s
""")
def q_embedding_pool_chunks(spark, sf_dir):
    """Chunk→document embedding pooling
    (similarity.pool_chunk_embeddings, r8 debut): every 4 consecutive
    vec_ids form one document's chunks (the deterministic stand-in
    for text_chunking's chunk table), mean-pooled into a document
    vector under the ordered-fold float contract — ascending-id
    sequential adds from a zero start equal DuckDB's init-less
    list_reduce.

    Query-boundary form (VERDICT r9 #1): the operator's contract is
    an ``array<double>`` column, but the driver harness canonicalizes
    results with pandas ``sort_values``/``factorize``, which cannot
    hash list-typed cells (the r9 red row). At the REGISTERED-QUERY
    boundary only, both engines therefore emit the pooled vector as
    one comma-joined string of exact per-element integers
    ``round(x * 1e6)`` — values are already 6-decimal-quantized, so
    the ×1e6 scale-up is exact (the round() only strips float
    representation error ~1e-10, never moves a value across .5) and
    the string is bit-stable across engines. The array-valued
    contract stays tested in tests/test_operators.py against the
    array-form DuckDB oracle. One doc-keyed exchange carrying each
    chunk once; JVM-only fold totalling n·dim adds — the string join
    is a per-row projection."""
    from .operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    out = sim.pool_chunk_embeddings(
        emb, F.floor(F.col("vec_id") / 4), dim=64)
    return out.select(
        "doc_id", "n_chunks",
        F.concat_ws(",", F.transform(
            F.col("pooled"),
            lambda x: F.round(x * 1e6).cast("long").cast("string")))
        .alias("pooled"))


@_q("semantic_dedup_pooled", """
WITH e0 AS (SELECT vec_id, vec_id // 4 AS doc_id,
                   embedding::DOUBLE[] AS v
            FROM embeddings),
g0 AS (SELECT doc_id, count(*) AS n_chunks,
              list(v ORDER BY vec_id) AS chunks
       FROM e0 GROUP BY doc_id),
e AS (SELECT doc_id AS vec_id,
             [round(x / n_chunks, 6)
              for x in list_reduce(chunks,
                  (a, b) -> [a[i] + b[i]
                             for i in range(1, len(a)+1)])] AS emb
      FROM g0),
cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 64 = 0),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.emb, cent.cvec)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(cent.cvec, cent.cvec))),
                   6) DESC,
             cent.cid) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         round(list_dot_product(ea.emb, eb.emb)
               / (sqrt(list_dot_product(ea.emb, ea.emb))
                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS sim
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id)
SELECT id_a, id_b, cell, sim FROM p WHERE sim >= 0.45
""")
def q_semantic_dedup_pooled(spark, sf_dir):
    """The REAL SemDeDup pipeline shape, composed from this round's
    operators (r8 debut): chunk embeddings mean-pool into document
    vectors (embedding_pool_chunks' ordered-fold contract — pooled
    arrays are bit-equal across engines), then SemDeDup runs at the
    DOCUMENT level over the pooled vectors (stride-64 doc init,
    within-cell exact cosine at 0.45). Because pooling is 6-decimal
    deterministic, the downstream assignment and pairing inherit full
    hash parity — the whole two-stage pipeline is one lazy plan and
    one oracle. Compose-don't-rebuild: the query body is two operator
    calls."""
    from .operators import cluster, similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    pooled = (sim.pool_chunk_embeddings(
        emb, F.floor(F.col("vec_id") / 4), dim=64)
        .select(F.col("doc_id").alias("vec_id"),
                F.col("pooled").alias("embedding")))
    init = pooled.filter((F.col("vec_id") % 64) == 0)
    return cluster.semantic_dedup_pairs(pooled, init, threshold=0.45)


@_q("ann_quantized_topk", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
qz AS (
  SELECT vec_id,
         list_transform(emb, x -> CASE WHEN s = 0 THEN 0.0
             ELSE greatest(-127.0, least(127.0,
                           floor(x / s * 127)::DOUBLE)) END) AS q
  FROM (SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) AS s
        FROM e)),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         CASE WHEN list_dot_product(q.q, q.q) = 0
                OR list_dot_product(c.q, c.q) = 0 THEN 0.0
              ELSE round(list_dot_product(q.q, c.q)
                         / (sqrt(list_dot_product(q.q, q.q))
                            * sqrt(list_dot_product(c.q, c.q))), 6)
         END AS sim_q
  FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
r AS (
  SELECT q_id, n_id, sim_q,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sim_q DESC, n_id) AS rank
  FROM p)
SELECT q_id, n_id, rank, sim_q FROM r WHERE rank <= 5
""")
def q_ann_quantized_topk(spark, sf_dir):
    """Top-5 neighbors under int8-QUANTIZED cosine
    (quantize.knn_cosine_quantized, r8 debut) for the same queries as
    knn_cosine — the scoring a vector store persisting int8 codes
    (embedding_quantize's format) actually runs, reading 1/4 the scan
    bytes at 100 TB. Integer dots ride in doubles so every
    product/sum is exact; the only approximation is quantization
    itself, and diffing this ranking against knn_cosine's measures
    it. All codegen: quantize transform + fold dots + broadcast
    queries + group-limit top-k."""
    from .operators import quantize

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize.knn_cosine_quantized(
        emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.select("q_id", "n_id",
                      F.col("rank").cast("long").alias("rank"), "sim_q")


_NEARDUP_COS_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb))
               * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.4
"""


@_q("embedding_neardup", _NEARDUP_COS_ORACLE)
def q_embedding_neardup(spark, sf_dir):
    """Embedding near-duplicate pairs at cosine >= 0.4 (exact), via the
    blocked numpy matmul path (cosine_neardup_pairs is the pure-JVM
    reference formulation of the same contract)."""
    return similarity.cosine_neardup_pairs_blocked(
        _t(spark, sf_dir, "embeddings"), threshold=0.4)


def _neardup_lsh_oracle(sf_dir: str, dim: int = 64,
                        threshold: float = 0.4) -> str:
    """Relational replica of cosine_neardup_pairs_lsh: identical plane
    literals (plane_component), BAND-LOCAL band values (bit i of band
    j = sign of plane j*width+i — the same layout the Spark operator
    computes, with no 63-plane packed-signature cap, which sf>=1
    corpora exceed under adaptive_lsh_params), candidate equi-join on
    (band_idx, band_value), exact rounded-sim verify. LSH parameters
    come from adaptive_lsh_params over `sf_dir`'s row count via
    _emb_rows — the same call the Spark query performs — so both
    engines band identically at any comparison scale. Per-band widths
    follow similarity.band_widths' remainder distribution (the r7
    blended-width layout that holds mean bucket occupancy at the
    target for every corpus size)."""
    n_planes, n_bands = similarity.adaptive_lsh_params(_emb_rows(sf_dir))
    widths = similarity.band_widths(n_planes, n_bands)

    def plane_dot(p):
        arr = ", ".join(repr(similarity.plane_component(p, i))
                        for i in range(dim))
        return f"list_dot_product(emb, [{arr}])"

    band_selects = []
    off = 0
    for j, w in enumerate(widths):
        terms = [f"(CASE WHEN {plane_dot(off + i)} >= 0 "
                 f"THEN {2 ** i} ELSE 0 END)" for i in range(w)]
        off += w
        bv = "\n           + ".join(terms)
        band_selects.append(
            f"SELECT vec_id, {j} AS j, ({bv})::BIGINT AS bv FROM e")
    bands = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
b AS (
  {bands}
),
cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         FROM b l JOIN b r ON l.j = r.j AND l.bv = r.bv
                          AND l.vec_id < r.vec_id),
lshp AS (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(a.emb, z.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(z.emb, z.emb))), 6) AS sim
  FROM cand c
  JOIN e a ON a.vec_id = c.id_a
  JOIN e z ON z.vec_id = c.id_b
  WHERE round(list_dot_product(a.emb, z.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(z.emb, z.emb))), 6) >= {threshold}
)
SELECT id_a, id_b, sim FROM lshp
"""


def _neardup_lsh_clusters_oracle(sf_dir: str,
                                 dim: int = 64,
                                 threshold: float = 0.5) -> str:
    """Connected components over the banded-LSH cosine pair graph:
    reuses _neardup_lsh_oracle's CTE chain up to ``lshp`` (identical
    planes/banding/verify at the sf_dir-adaptive parameters), then the
    same recursive reachability-closure + min-label fixpoint the text
    dedup_clusters oracle uses."""
    base = _neardup_lsh_oracle(sf_dir, dim, threshold)
    tail = "SELECT id_a, id_b, sim FROM lshp"
    body = base[:base.rindex(tail)].rstrip()
    body = body.replace("\nWITH e AS", "\nWITH RECURSIVE e AS", 1)
    return body + """,
edg AS (SELECT id_a AS src, id_b AS dst FROM lshp
        UNION SELECT id_b, id_a FROM lshp),
reach(node, lbl) AS (
  SELECT src, src FROM edg
  UNION
  SELECT edg.src, reach.lbl FROM edg JOIN reach ON edg.dst = reach.node
)
SELECT node, min(lbl) AS cluster FROM reach GROUP BY node
"""


@_q("embedding_neardup_clusters", _neardup_lsh_clusters_oracle)
def q_embedding_neardup_clusters(spark, sf_dir):
    """Transitive embedding near-dup clustering: the banded-LSH cosine
    pair graph fed into the same min-label pointer-jumping connected
    components the text dedup family uses — the step that turns a
    pair list into the cluster structure survivorship policies need
    (keep one vector per semantic duplicate group). Both stages are
    the 100 TB shapes: banded equi-join candidates, then
    O(log diameter) label rounds sized by the pair graph, never the
    corpus.

    Threshold 0.5 is the DEDUP setting for this corpus: its true
    near-dup band tops out near cosine 0.5-0.6, so the pair graph is
    small duplicate groups that converge in a few label rounds. The
    0.4 retrieval setting used by embedding_neardup_lsh connects
    near-random vectors into one giant sparse component — correct for
    candidate generation, but clustering it is semantically
    meaningless and its large diameter is exactly the worst case for
    iterative label propagation (measured: non-converged after 25
    rounds at sf1)."""
    n_planes, n_bands = similarity.adaptive_lsh_params(_emb_rows(sf_dir))
    pairs = similarity.cosine_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.5, dim=64,
        n_planes=n_planes, n_bands=n_bands)
    return dedup.connected_components(pairs.select("id_a", "id_b"),
                                      a_col="id_a", b_col="id_b")


@_q("embedding_neardup_lsh", _neardup_lsh_oracle)
def q_embedding_neardup_lsh(spark, sf_dir):
    """All-pairs cosine near-dup via hyperplane-LSH banding — the
    100 TB path (no O(n^2) stage; candidates from an equi-join on band
    values, exact-verified). Deterministic planes shared with the
    oracle make even the approximation exactly checkable. Bits/bands
    scale with the corpus row count (adaptive_lsh_params) so bucket
    occupancy — and with it candidate volume per true near-dup — stays
    constant as the data grows; the fixed 16/4 setting measured 22x
    time on 10x rows in the r3 scale audit."""
    n_planes, n_bands = similarity.adaptive_lsh_params(
        _emb_rows(sf_dir))
    return similarity.cosine_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64,
        n_planes=n_planes, n_bands=n_bands)


def _ann_lsh_oracle(sf_dir: str, dim: int = 64,
                    k: int = 5) -> str:
    """Regenerate the multiprobe LSH bucketing relationally: the plane
    literals come from the same plane_component() the Spark operator
    uses, the bits/radius from the same adaptive_ann_params over the
    `sf_dir` row count (via the shared _emb_rows call — r4 ADVICE),
    and the probe masks from the same probe_masks — so bucket
    assignment AND the Hamming-ball probe set are bit-identical
    across engines at any comparison scale."""
    n_planes, radius = similarity.adaptive_ann_params(_emb_rows(sf_dir))
    masks = ", ".join(str(m)
                      for m in similarity.probe_masks(n_planes, radius))
    sig_terms = []
    for p in range(n_planes):
        arr = ", ".join(repr(similarity.plane_component(p, i))
                        for i in range(dim))
        sig_terms.append(
            f"(CASE WHEN list_dot_product(emb, [{arr}]) >= 0 "
            f"THEN {2 ** p} ELSE 0 END)")
    sig = "\n         + ".join(sig_terms)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (SELECT vec_id, emb,
         {sig} AS sig
      FROM e),
pm AS (SELECT unnest([{masks}]) AS m),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM s q CROSS JOIN pm
  JOIN s c ON q.vec_id < 10 AND c.vec_id != q.vec_id
          AND xor(q.sig, pm.m) = c.sig),
r AS (SELECT q_id, n_id, sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY sim DESC, n_id) AS rank
      FROM p)
SELECT q_id, n_id, rank, sim FROM r WHERE rank <= {k}
"""


@_q("ann_lsh_topk", _ann_lsh_oracle)
def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-k via multiprobe random-hyperplane LSH — the
    100 TB path: an equi-join on bucket signature replaces the cross
    join of knn_cosine, bits grow with the corpus so per-query probe
    volume stays constant, and Hamming-ball probing (radius from
    adaptive_ann_params) holds recall as the bucket space widens.
    Deterministic planes + mask set make even the approximate result
    exactly oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    n_planes, radius = similarity.adaptive_ann_params(
        _emb_rows(sf_dir))
    out = similarity.ann_cosine_lsh_multiprobe(
        emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64,
        n_planes=n_planes, radius=radius)
    return out.select("q_id", "n_id",
                      F.col("rank").cast("long").alias("rank"), "sim")


def _ivf_oracle(sf_dir: str, k: int = 5) -> str:
    """Relational replica of ivf_ann_topk: deterministic sample
    centroids, 6-decimal-rounded cosine assignment with centroid-id
    tie-break, top-nprobe probes, exact rank within probed cells.
    (stride, nprobe) come from the same adaptive_ivf_params over the
    shared _emb_rows count the Spark query uses (r8: the fixed 64/2
    let the probed fraction shrink linearly with the corpus — recall
    decayed 0.46 -> 0.12 from sf0.01 to sf1)."""
    stride, nprobe = similarity.adaptive_ivf_params(_emb_rows(sf_dir))
    # the assignment window ranks on a PROJECTED (vec_id, cid, csim)
    # relation and joins the embedding lists back only for the probe
    # stage — carrying the 64-double lists through the corpus x
    # centroid cross join materialized ~90 GB at sf10 and forced
    # DuckDB to spill (r8); the Spark side never had the problem
    # (broadcast + codegen, nothing materialized)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % {stride} = 0),
csim AS (
  SELECT e.vec_id, cent.cid,
         round(list_dot_product(e.emb, cent.cvec)
               / (sqrt(list_dot_product(e.emb, e.emb))
                  * sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) AS s
  FROM e CROSS JOIN cent
),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, cid) AS rn
    FROM csim) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, cid) AS rn
    FROM csim WHERE vec_id < 10) WHERE rn <= {nprobe}
),
p AS (
  SELECT probes.q_id, asg.vec_id AS n_id,
         round(list_dot_product(qe.emb, ne.emb)
               / (sqrt(list_dot_product(qe.emb, qe.emb))
                  * sqrt(list_dot_product(ne.emb, ne.emb))), 6) AS sim
  FROM probes JOIN asg ON probes.cell = asg.cell
                       AND asg.vec_id != probes.q_id
  JOIN e qe ON qe.vec_id = probes.q_id
  JOIN e ne ON ne.vec_id = asg.vec_id
),
r AS (SELECT q_id, n_id, sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY sim DESC, n_id) AS rank
      FROM p)
SELECT q_id, n_id, rank, sim FROM r WHERE rank <= {k}
"""


@_q("ann_ivf_topk", _ivf_oracle)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate top-k — the cell-probing scale
    path: broadcast centroids, map-side cell assignment, equi-join on
    cell id; probe cost is nprobe/nlist of the corpus.
    adaptive_ivf_params (r8) keeps stride ~ sqrt(N) (the standard IVF
    sizing: balances the O(N*nlist) assignment pass against O(N/nlist)
    probe cost) and scales nprobe with nlist so the probed corpus
    FRACTION is constant in N. Deterministic sample centroids keep the
    approximation exactly oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    stride, nprobe = similarity.adaptive_ivf_params(_emb_rows(sf_dir))
    out = similarity.ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 10),
                                  k=5, stride=stride, nprobe=nprobe)
    return out.select("q_id", "n_id",
                      F.col("rank").cast("long").alias("rank"), "sim")


@_q("ann_recall", lambda sf_dir: f"""
WITH exact AS ({_KNN_ORACLE}),
approx AS ({_ann_lsh_oracle(sf_dir)})
SELECT e.q_id, count(a.n_id) AS n_hits,
       count(a.n_id) / 5.0 AS recall_at_5
FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY e.q_id
""")
def q_ann_recall(spark, sf_dir):
    """ANN quality audit: recall@5 of the LSH index against the exact
    brute-force top-5 per query — the metric that decides whether an
    approximate index is usable before pointing it at the full corpus
    (run on a hash-sampled slice at 100 TB; both sides stay
    distributed, the join is on (q_id, n_id) pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_cosine(emb, q, k=5).select("q_id", "n_id")
    n_planes, radius = similarity.adaptive_ann_params(
        _emb_rows(sf_dir))
    approx = (similarity.ann_cosine_lsh_multiprobe(
        emb, q, k=5, dim=64, n_planes=n_planes, radius=radius)
        .select(F.col("q_id").alias("a_q"),
                F.col("n_id").alias("a_n")))
    joined = exact.join(
        approx, (exact.q_id == approx.a_q) & (exact.n_id == approx.a_n),
        "left")
    return (joined.groupBy("q_id")
            .agg(F.count("a_n").alias("n_hits"),
                 (F.count("a_n") / F.lit(5.0)).alias("recall_at_5")))


@_q("embedding_centroid_drift", r"""
WITH o AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
nw AS (SELECT label,
              CASE WHEN label < 3
                   THEN list_prepend(e[1] + 0.5, e[2:]) ELSE e END AS e
       FROM (SELECT label, embedding::DOUBLE[] AS e
             FROM embeddings WHERE vec_id % 7 <> 0)),
om AS (SELECT label, u.s AS slot, avg(u.v) AS m_old
       FROM (SELECT label,
                    unnest([{'s': i, 'v': e[i]}
                            for i in range(1, len(e) + 1)]) AS u
             FROM o)
       GROUP BY label, u.s),
nm AS (SELECT label, u.s AS slot, avg(u.v) AS m_new
       FROM (SELECT label,
                    unnest([{'s': i, 'v': e[i]}
                            for i in range(1, len(e) + 1)]) AS u
             FROM nw)
       GROUP BY label, u.s),
j AS (SELECT coalesce(om.label, nm.label) AS label, m_old, m_new
      FROM om FULL OUTER JOIN nm
           ON om.label = nm.label AND om.slot = nm.slot),
pg AS (SELECT label, sum(m_old * m_new) AS ab,
              sum(m_old * m_old) AS aa, sum(m_new * m_new) AS bb,
              max(CASE WHEN m_old IS NULL THEN 1 ELSE 0 END) AS miss_o,
              max(CASE WHEN m_new IS NULL THEN 1 ELSE 0 END) AS miss_n
       FROM j GROUP BY label),
co AS (SELECT label, count(*)::BIGINT AS n_old
       FROM embeddings GROUP BY label),
cn AS (SELECT label, count(*)::BIGINT AS n_new
       FROM embeddings WHERE vec_id % 7 <> 0 GROUP BY label)
SELECT pg.label, coalesce(n_old, 0) AS n_old,
       coalesce(n_new, 0) AS n_new,
       CASE WHEN miss_o = 0 AND miss_n = 0 AND aa > 0 AND bb > 0
            THEN round(ab / (sqrt(aa) * sqrt(bb)), 4)
            END AS centroid_cos
FROM pg LEFT JOIN co ON pg.label = co.label
        LEFT JOIN cn ON pg.label = cn.label
""")
def q_embedding_centroid_drift(spark, sf_dir):
    """Per-label embedding centroid drift (similarity.centroid_drift,
    r8 debut): cosine of each label's mean vector between the corpus
    and a synthetic re-release (every 7th vector dropped; labels 0-2
    shifted +0.5 on slot 0) — the rebuild-the-IVF-index audit. The
    shift is a codegen concat+slice (no interpreted array transform);
    the operator's only corpus-sized stages are the two slot-mean
    folds."""
    from .operators import similarity as sim_ops

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    old = emb.select("label", e.alias("embedding"))
    first = (F.when(F.col("label") < 3, e.getItem(0) + 0.5)
             .otherwise(e.getItem(0)))
    shifted = F.concat(F.array(first), F.slice(e, 2, F.size(e) - 1))
    new = (emb.filter(F.col("vec_id") % 7 != 0)
           .select("label", shifted.alias("embedding")))
    return sim_ops.centroid_drift(old, new)


@_q("embedding_label_stats", """
SELECT label, count(*) AS n_vecs,
       round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
           AS avg_norm
FROM embeddings GROUP BY label
""")
def q_embedding_label_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return (emb.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.round(F.avg(similarity.l2_norm(v)), 4).alias("avg_norm")))


@_q("stratified_sample", """
WITH s AS (
  SELECT source, n_chars,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
           % 1000000 AS b
  FROM documents)
SELECT source, count(*) AS n_sampled, sum(n_chars)::BIGINT AS sum_chars
FROM s
WHERE b < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 800000
               WHEN source IN ('src3', 'src4') THEN 500000
               ELSE 100000 END
GROUP BY source
""")
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified mixture sampling over documents:
    per-source keep rates on a content-derived MD5 bucket (identical
    row set on any partitioning/engine — the point vs Dataset.sample's
    per-partition RNG), summarized per source."""
    from .operators import sample

    rates = {"src0": 0.8, "src1": 0.8, "src2": 0.8,
             "src3": 0.5, "src4": 0.5}
    docs = _t(spark, sf_dir, "documents")
    out = sample.stratified_hash_sample(docs, "source", rates,
                                        key_col="doc_id",
                                        default_rate=0.1)
    return (out.groupBy("source")
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("n_chars").alias("sum_chars")))


@_q("charlm_quality", r"""
WITH t AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents),
pos AS (SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM t),
per AS (SELECT doc_id, substring(t, i, 2) AS bigram FROM pos),
bg AS (SELECT bigram, count(*) AS c_bigram FROM per GROUP BY bigram),
ctx AS (SELECT substring(bigram, 1, 1) AS c, sum(c_bigram) AS c_ctx
        FROM bg GROUP BY c),
m AS (SELECT bigram, c_bigram, c_ctx
      FROM bg JOIN ctx ON substring(bg.bigram, 1, 1) = ctx.c),
v AS (SELECT count(DISTINCT substring(bigram, 1, 1)) AS v FROM bg)
SELECT per.doc_id, count(*) AS n_bigrams,
       floor(avg(ln((m.c_bigram + 1)::DOUBLE / (m.c_ctx + v.v)))
             * 10000) / 10000 AS charlm_logprob
FROM per JOIN m USING (bigram), v
GROUP BY per.doc_id
""")
def q_charlm_quality(spark, sf_dir):
    """Char-bigram LM perplexity scoring (operators/lm.py): the model
    trains on the corpus in one partial-aggregated pass (alphabet²
    rows — broadcastable at any scale), then every document is scored
    by mean smoothed log-probability in one map-side lookup join —
    the CCNet-style statistical quality signal next to the heuristic
    Gopher flags."""
    from .operators import lm

    out = lm.charlm_score(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_bigrams",
                      (F.floor(F.col("charlm_logprob") * 10000) / 10000)
                      .alias("charlm_logprob"))


@_q("wordlm_quality", r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
tr AS MATERIALIZED (
  SELECT doc_id, unnest([{'p': words[i-1], 'x': words[i]}
                         for i in range(2, len(words) + 1)]) AS u
  FROM w),
t AS MATERIALIZED (SELECT doc_id, u.p AS prev, u.x AS w FROM tr),
uc AS MATERIALIZED (
  SELECT tok, count(*)::BIGINT AS c
  FROM (SELECT unnest(words) AS tok FROM w WHERE doc_id % 2 = 0)
  GROUP BY tok),
bg AS MATERIALIZED (
  SELECT prev, w, count(*)::BIGINT AS c_bg
  FROM t WHERE doc_id % 2 = 0 GROUP BY prev, w),
tot AS (SELECT sum(c)::DOUBLE AS n, count(*)::BIGINT AS v FROM uc)
SELECT t.doc_id,
       count(*)::BIGINT AS n_transitions,
       floor(avg(CASE WHEN c_bg IS NOT NULL
                 THEN ln(c_bg::DOUBLE / cp.c)
                 ELSE ln(0.4 * (coalesce(cw.c, 0) + 1)::DOUBLE
                         / (n + v))
                 END) * 10000) / 10000 AS wordlm_logprob
FROM t
LEFT JOIN bg ON t.prev = bg.prev AND t.w = bg.w
LEFT JOIN uc cp ON cp.tok = t.prev
LEFT JOIN uc cw ON cw.tok = t.w
CROSS JOIN tot
GROUP BY t.doc_id
""")
def q_wordlm_quality(spark, sf_dir):
    """Word-bigram LM quality scoring with stupid backoff
    (lm.wordlm_score, r8 debut — Brants et al. 2007, the engine-level
    CCNet/KenLM reference-perplexity filter): the model trains on the
    even-id half of the corpus (a stand-in for a curated reference
    release), every document scores by mean log transition score, and
    unseen bigrams exercise the alpha·(c(w)+1)/(N+V) backoff floor.
    The bigram lookup is a plain hash join (NOT a forced broadcast —
    web-scale bigram tables don't broadcast); totals ride as a 1-row
    crossJoin. floor-4 output, matching charlm_quality's float
    convention."""
    from .operators import lm

    docs = _t(spark, sf_dir, "documents")
    out = lm.wordlm_score(docs,
                          train_df=docs.filter(F.col("doc_id") % 2 == 0))
    return out.select("doc_id", "n_transitions",
                      (F.floor(F.col("wordlm_logprob") * 10000) / 10000)
                      .alias("wordlm_logprob"))


@_q("vocab_topk", r"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents),
c AS (SELECT token, count(*) AS count FROM t
      GROUP BY token HAVING count(*) >= 5),
v AS (SELECT token, count,
             row_number() OVER (ORDER BY count DESC, token) AS token_id
      FROM c)
SELECT token, count, token_id FROM v WHERE token_id <= 100
""")
def q_vocab_topk(spark, sf_dir):
    """Frequency-ordered vocabulary construction (text.build_vocab):
    min-count pruning then deterministic (count desc, token) id
    assignment. The id window sorts only the |vocab|-row aggregate —
    the corpus never leaves its partial-aggregated count form."""
    return text_ops.build_vocab(_t(spark, sf_dir, "documents"),
                                min_count=5, max_size=100)


@_q("encode_docs", r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents),
tok0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM d),
tok AS (SELECT doc_id, i, w[i] AS token FROM tok0),
cnt AS (SELECT token, count(*) AS count FROM tok
        GROUP BY token HAVING count(*) >= 5),
v0 AS (SELECT token, row_number() OVER (ORDER BY count DESC, token)
              AS token_id
       FROM cnt),
v AS (SELECT * FROM v0 WHERE token_id <= 100)
SELECT tok.doc_id,
       count(*) AS n_tokens,
       sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       string_agg(coalesce(v.token_id, 0)::VARCHAR, ' ' ORDER BY tok.i)
         AS ids
FROM tok LEFT JOIN v ON v.token = tok.token
GROUP BY tok.doc_id
""")
def q_encode_docs(spark, sf_dir):
    """Token-id encoding against the built vocabulary
    (text.encode_docs): the vocab table is broadcast (bounded by
    max_size), so encoding is a map-side lookup over posexploded
    tokens — the corpus is never shuffled; per-doc sequences
    reassemble in-order inside the aggregate. OOV tokens map to id 0
    and are counted."""
    docs = _t(spark, sf_dir, "documents")
    vocab = text_ops.build_vocab(docs, min_count=5, max_size=100)
    return text_ops.encode_docs(docs, vocab)


@_q("source_quota", """
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5('quota' || doc_id::VARCHAR),
                                       1, 15))::BIGINT, doc_id) AS rn
  FROM documents)
SELECT source, count(*) AS n_kept, sum(n_chars)::BIGINT AS sum_chars
FROM r WHERE rn <= 30 GROUP BY source
""")
def q_source_quota(spark, sf_dir):
    """Per-source quota capping (sample.quota_cap): each source keeps
    its deterministically-first 30 documents by content hash — the
    domain-balance pass that stops one crawl domain from dominating a
    mixture. Executes as a per-stratum group-limit, not a global
    sort."""
    from .operators import sample

    out = sample.quota_cap(_t(spark, sf_dir, "documents"),
                           "source", 30, key_col="doc_id", seed="quota")
    return (out.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("train_eval_split", """
WITH s AS (
  SELECT source, n_chars,
         ('0x' || substring(md5('split1' || doc_id::VARCHAR), 1, 15))::BIGINT
           % 1000000 AS b
  FROM documents)
SELECT CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM s GROUP BY split
""")
def q_train_eval_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment
    (operators/sample.py assign_splits): content-addressed MD5 bucket
    ranges, so the same document lands in the same split on any
    engine, partitioning, or pipeline version — the guarantee that
    keeps eval data out of training across re-runs. Summarized as
    per-split counts + token mass."""
    from .operators import sample

    docs = _t(spark, sf_dir, "documents")
    out = sample.assign_splits(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05},
        key_col="doc_id", seed="split1")
    return (out.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


@_q("split_leakage_audit", """
WITH s AS (
  SELECT md5(text) AS fp,
         CASE WHEN ('0x' || substring(md5('split1' || doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 900000
                THEN 'train'
              WHEN ('0x' || substring(md5('split1' || doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 950000
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
g AS (
  SELECT fp, count(*)::BIGINT AS n_copies,
         count(DISTINCT split) AS n_splits,
         array_to_string(list_sort(list_distinct(list(split))), '|')
           AS leak_pair
  FROM s GROUP BY fp)
SELECT leak_pair, count(*)::BIGINT AS n_groups,
       sum(n_copies)::BIGINT AS n_docs
FROM g WHERE n_splits >= 2 GROUP BY leak_pair
""")
def q_split_leakage_audit(spark, sf_dir):
    """Eval-contamination audit (sample.split_leakage_audit, r8
    debut): exact-duplicate groups straddling the 90/5/5 content-
    addressed split — each is a train→eval leak the id-keyed split
    cannot see because duplicates carry fresh ids. Fingerprint-keyed
    aggregation of 16-byte rows; empty result = clean split."""
    from .operators import sample

    return sample.split_leakage_audit(
        _t(spark, sf_dir, "documents"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
        key_col="doc_id", seed="split1")


def _neardup_rate_by_source_oracle(sf_dir: str) -> str:
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + ")"
            + _minhash_pairs_chain(sf_dir) + """,
m AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION SELECT doc_b AS doc_id FROM pairs)
SELECT d.source, count(*)::BIGINT AS n_docs,
       count(m.doc_id)::BIGINT AS n_dup_members,
       floor(count(m.doc_id)::DOUBLE / count(*) * 1000000) / 1000000
         AS dup_frac
FROM documents d LEFT JOIN m USING (doc_id)
GROUP BY d.source
""")


@_q("neardup_rate_by_source", _neardup_rate_by_source_oracle)
def q_neardup_rate_by_source(spark, sf_dir):
    """Per-source near-duplicate burden (r8 debut): the fraction of
    each source's documents that participate in at least one verified
    MinHash near-dup pair — the triage number that decides which
    crawl source gets the aggressive dedup treatment (or gets
    dropped). Rides the dedup_minhash_lsh chain (same adaptive
    banding, sf-conditional oracle): pair endpoints explode to a
    member set in ONE pass over the pair table, one id join, k-key
    rollup. The r8 form unioned pairs.select(doc_a) with
    pairs.select(doc_b) — pairs is lazy and only its upstream
    signature/candidate tables are persisted, so each union branch
    re-ran the three verify joins, the workload's single heaviest
    stage executed twice (VERDICT r8 #2: 10.03s vs 1.99s for the
    chain itself); explode(array(...)) reads the subtree once."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(
        docs, threshold=0.8,
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)))
    members = (pairs.select(F.explode(F.array("doc_a", "doc_b"))
                            .alias("doc_id"))
               .distinct()
               .withColumn("__m", F.lit(1)))
    return (docs.join(members, "doc_id", "left")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.count("__m").alias("n_dup_members"),
                 (F.floor(F.count("__m").cast("double") / F.count("*")
                          * 1_000_000) / 1_000_000).alias("dup_frac")))


def _split_leakage_neardup_oracle(sf_dir: str) -> str:
    return ("WITH sh AS MATERIALIZED ("
            + _SH_CTE.format(src="documents") + ")"
            + _minhash_pairs_chain(sf_dir) + """,
sp AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substring(md5('split1' || doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 900000
                THEN 'train'
              WHEN ('0x' || substring(md5('split1' || doc_id::VARCHAR),
                                      1, 15))::BIGINT % 1000000 < 950000
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
leak AS (
  SELECT least(sa.split, sb.split) || '|' || greatest(sa.split, sb.split)
           AS leak_pair,
         p.jacc
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b
  WHERE sa.split != sb.split)
SELECT leak_pair, count(*)::BIGINT AS n_pairs,
       round(max(jacc), 3) AS max_jacc
FROM leak GROUP BY leak_pair
""")


@_q("split_leakage_neardup", _split_leakage_neardup_oracle)
def q_split_leakage_neardup(spark, sf_dir):
    """Near-duplicate train→eval leakage (sample.split_leakage_pairs,
    r8 debut): MinHash-verified near-dup pairs (Jaccard >= 0.8, the
    dedup_minhash_lsh chain — same adaptive banding, sf-conditional
    oracle) whose endpoints the 90/5/5 content-addressed split put in
    DIFFERENT splits — the contamination that inflates benchmarks
    after exact dedup has already run. Pair table ∝ near-dup
    incidence; two id-keyed joins; C(3,2)-key group-by.

    The cross-split restriction is pushed BELOW the verify (opt r11):
    the split assignment is content-addressed on doc_id, so each
    candidate pair's two splits are re-derivable as a pure projection
    (sample.split_expr on doc_a/doc_b — no join), and same-split
    candidates (~81% of pairs under 90/5/5: 0.9² + 2·0.05²) are
    dropped before the verification join and aggregate instead of
    after them. Verification is per-pair independent, so
    the leak report is identical (parity-tested; oracle unchanged)."""
    from .operators import sample

    docs = _t(spark, sf_dir, "documents")
    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    pairs = dedup.minhash_lsh_dedup(
        docs, threshold=0.8,
        band_widths=dedup.adaptive_minhash_bands(_doc_rows(sf_dir)),
        cand_filter=lambda c: c.filter(
            sample.split_expr(F.col("doc_a"), splits, "split1")
            != sample.split_expr(F.col("doc_b"), splits, "split1")))
    assigned = sample.assign_splits(docs, splits,
                                    key_col="doc_id", seed="split1")
    return sample.split_leakage_pairs(pairs, assigned)


@_q("weighted_sample_tokens", """
WITH s AS (
  SELECT doc_id, source, n_chars,
         floor(ln((('0x' || substring(md5('wsamp' || doc_id::VARCHAR),
                                      1, 15))::BIGINT + 1)::DOUBLE
                  / 1152921504606846977.0)
               / n_chars::DOUBLE * 1000000000) / 1000000000 AS skey
  FROM documents WHERE n_chars > 0)
SELECT doc_id, source, n_chars, skey,
       row_number() OVER (ORDER BY skey DESC, doc_id) AS rank
FROM s QUALIFY rank <= 100
""")
def q_weighted_sample_tokens(spark, sf_dir):
    """Token-proportional weighted sampling without replacement
    (sample.weighted_sample, r8 debut; Efraimidis & Spirakis 2006
    A-Res): 100 documents drawn with inclusion probability ∝ n_chars
    via the deterministic key ln(u)/w over a content-hash uniform —
    the draw that makes a sampled TOKEN mix match the corpus token
    mix. Pure projection + group-limit top-k; key floored to 1e-9,
    id tie-break."""
    from .operators import sample

    # project BEFORE ranking: the rank's TakeOrderedAndProject sorts
    # full rows, so leaving `text` in the frame drags the whole text
    # column through the heap merge (measured 3.3s -> scan-bound
    # without it at sf1)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "n_chars")
    out = sample.weighted_sample(docs, k=100, weight_col="n_chars",
                                 key_col="doc_id", seed="wsamp")
    return out.select("doc_id", "source", "n_chars", "skey", "rank")


@_q("stream_weighted_sample", """
WITH s AS (
  SELECT doc_id, source, n_chars,
         floor(ln((('0x' || substring(md5('wsamp' || doc_id::VARCHAR),
                                      1, 15))::BIGINT + 1)::DOUBLE
                  / 1152921504606846977.0)
               / n_chars::DOUBLE * 1000000000) / 1000000000 AS skey
  FROM documents WHERE n_chars > 0)
SELECT doc_id, source, n_chars, skey,
       row_number() OVER (ORDER BY skey DESC, doc_id) AS rank
FROM s QUALIFY rank <= 100
""")
def q_stream_weighted_sample(spark, sf_dir):
    """Weighted reservoir over a STREAM (r8 debut): the property that
    makes A-Res (Efraimidis & Spirakis) THE distributed/streaming
    weighted sampler is that its keys MERGE exactly — the global
    top-k of per-shard top-ks IS the global sample. Each micro-batch
    keeps its own k best keys (group-limit top-k inside
    foreachBatch), the drained union (≤ k·n_batches rows) re-ranks
    once, and the result is row-identical to the batch
    weighted_sample_tokens — same oracle, same floored keys, same id
    tie-breaks. State per batch is k rows; nothing grows with the
    stream."""
    from pyspark.sql import Window

    from .operators import sample

    k = 100
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars"))
    stream = _replay_stream(spark, docs, f"{sf_dir}/documents.parquet", "wres")

    def _batch_topk(bdf):
        return sample.weighted_sample(bdf, k, weight_col="n_chars",
                                      key_col="doc_id", seed="wsamp") \
            .drop("rank")

    partials = sw.run_available_now_foreach_batch(stream, _batch_topk)
    wr = Window.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
    return (partials
            .select("doc_id", "source", "n_chars", "skey",
                    F.row_number().over(wr).alias("rank"))
            .filter(F.col("rank") <= k)
            .withColumn("rank", F.col("rank").cast("long")))


@_q("token_budget_mix", """
WITH per AS (
  SELECT source AS stratum, sum(n_chars)::BIGINT AS avail_tokens
  FROM documents GROUP BY source),
staged AS (
  SELECT stratum, avail_tokens,
         (100000.0 - coalesce(sum(avail_tokens) OVER (
              ORDER BY avail_tokens, stratum
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         / (count(*) OVER ()
            - row_number() OVER (ORDER BY avail_tokens, stratum) + 1)
           AS cand
  FROM per)
SELECT stratum, avail_tokens,
       least(avail_tokens, floor(max(cand) OVER ())::BIGINT) AS alloc_tokens,
       CASE WHEN avail_tokens > 0
            THEN floor(least(avail_tokens,
                             floor(max(cand) OVER ())::BIGINT)::DOUBLE
                       / avail_tokens * 1000000) / 1000000
            ELSE 0.0 END AS rate
FROM staged
""")
def q_token_budget_mix(spark, sf_dir):
    """Waterfill a 100k-token budget across document sources: equal
    shares except strata smaller than the waterline, which contribute
    everything (balanced-mix allocation — the closed relational form,
    no driver loop). rate feeds stratified_hash_sample to materialize
    the mix."""
    from .operators import sample

    return sample.token_budget_plan(_t(spark, sf_dir, "documents"),
                                    "source", "n_chars", budget=100_000)


@_q("dataset_diff", """
WITH oldd AS (SELECT doc_id, text, source FROM documents),
newd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
              ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 17 != 0
  UNION ALL
  SELECT doc_id + 1000000000, text, source
  FROM documents WHERE doc_id % 23 = 0),
o AS (SELECT doc_id, md5(text) AS fp, source FROM oldd),
n AS (SELECT doc_id, md5(text) AS fp, source FROM newd),
j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.fp != n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(n.source, o.source) AS source
      FROM o FULL JOIN n ON o.doc_id = n.doc_id)
SELECT source, status, count(*) AS n_docs FROM j GROUP BY source, status
""")
def q_dataset_diff(spark, sf_dir):
    """Release-audit snapshot diff (snapshot.diff_report): the corpus
    vs a synthetic next release that drops every 17th doc, revises
    every 13th, and re-ingests every 23rd under a new id — per
    (source, status) counts of added/removed/changed/unchanged. The
    diff reduces both snapshots to (id, md5, source) at the scan, so
    the full-outer join shuffles fingerprints and ids, never text."""
    from .operators import snapshot

    docs = _t(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text", "source")
    new = (docs.filter(F.col("doc_id") % 17 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 13 == 0,
                          F.concat(F.col("text"), F.lit(" [rev2]")))
                   .otherwise(F.col("text")).alias("text"),
                   "source")
           .unionByName(
               docs.filter(F.col("doc_id") % 23 == 0)
               .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                       "text", "source")))
    return snapshot.diff_report(old, new, by=["source"])


_DRIFT_PSI_ORACLE = r"""
WITH o AS (
  SELECT source,
         least(15, length(bin((1 + greatest(0,
             floor(n_chars::DOUBLE)::BIGINT))::BIGINT)) - 1) AS bin
  FROM documents),
nw AS (
  SELECT source,
         least(15, length(bin((1 + greatest(0, floor((n_chars *
             CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END
           )::DOUBLE)::BIGINT))::BIGINT)) - 1) AS bin
  FROM documents WHERE doc_id % 17 <> 0),
ho AS (SELECT source, bin, count(*)::BIGINT AS n_old
       FROM o GROUP BY source, bin),
hn AS (SELECT source, bin, count(*)::BIGINT AS n_new
       FROM nw GROUP BY source, bin),
j AS (
  SELECT coalesce(ho.source, hn.source) AS source,
         coalesce(ho.bin, hn.bin) AS bin, n_old, n_new
  FROM ho FULL OUTER JOIN hn
       ON ho.source = hn.source AND ho.bin = hn.bin),
p AS (
  SELECT source, bin,
         coalesce(n_old, 0) / sum(coalesce(n_old, 0))
             OVER (PARTITION BY source) AS p_o,
         coalesce(n_new, 0) / sum(coalesce(n_new, 0))
             OVER (PARTITION BY source) AS p_n
  FROM j)
SELECT source, bin, power(2.0, bin) - 1 AS lo,
       floor(p_o * 1000000) / 1000000 AS p_old,
       floor(p_n * 1000000) / 1000000 AS p_new,
       floor((greatest(0.0001, p_n) - greatest(0.0001, p_o))
             * ln(greatest(0.0001, p_n) / greatest(0.0001, p_o))
             * 1000000) / 1000000 AS psi_term
FROM p
"""


@_q("dataset_drift_psi", _DRIFT_PSI_ORACLE)
def q_dataset_drift_psi(spark, sf_dir):
    """Release-over-release drift audit (snapshot.population_stability,
    r8 debut): Population Stability Index of the per-source document-
    size distribution between the corpus and a synthetic next release
    (every 17th doc dropped, every 5th doubled in size — a growth
    drift). One row per (source, log2-size bin) with old/new mass and
    the PSI term; sum(psi_term) per source is the scorecard index
    (< 0.1 stable / > 0.25 shifted). Binning is integer bit-length —
    exact on both engines — and the only shuffles are two k-row
    histogram group-bys plus their outer join; windows run over
    <= n_bins-row histogram groups."""
    from .operators import snapshot

    docs = _t(spark, sf_dir, "documents")
    old = docs.select("source", "n_chars")
    new = (docs.filter(F.col("doc_id") % 17 != 0)
           .select("source",
                   (F.col("n_chars")
                    * F.when(F.col("doc_id") % 5 == 0, 2).otherwise(1))
                   .alias("n_chars")))
    return snapshot.population_stability(old, new, "n_chars",
                                         group_col="source")


@_q("zipf_slope_audit", r"""
WITH t AS (
  SELECT source AS grp,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents),
c AS (SELECT grp, term, count(*)::BIGINT AS c
      FROM t GROUP BY grp, term),
r AS (SELECT grp, c,
             row_number() OVER (PARTITION BY grp
                                ORDER BY c DESC, term) AS r
      FROM c QUALIFY r <= 100),
a AS (SELECT grp, count(*)::DOUBLE AS n,
             sum(ln(r::DOUBLE)) AS sx, sum(ln(c::DOUBLE)) AS sy,
             sum(ln(r::DOUBLE) * ln(c::DOUBLE)) AS sxy,
             sum(ln(r::DOUBLE) * ln(r::DOUBLE)) AS sxx
      FROM r GROUP BY grp)
SELECT grp AS source, n::BIGINT AS n_terms,
       CASE WHEN n * sxx - sx * sx > 0
            THEN floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                       * 1000) / 1000
            END AS zipf_slope
FROM a
""")
def q_zipf_slope_audit(spark, sf_dir):
    """Per-source Zipf power-law fit (stats.zipf_slope, r8 debut):
    OLS slope of ln(count) on ln(rank) over each source's top-100
    terms — natural text sits near -1; flat or cliff slopes flag
    machine-generated or single-token-dominated sources. One corpus-
    sized (source, term) count; the rank is a partitioned group-limit
    and the OLS is five aggregates over k-row groups."""
    from .operators import stats

    return stats.zipf_slope(_t(spark, sf_dir, "documents"), k=100)


@_q("vocabulary_diff", r"""
WITH o AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents),
n AS (
  SELECT unnest(regexp_split_to_array(trim(
           CASE WHEN doc_id % 13 = 0 THEN text || ' release8_tag'
                ELSE text END), '\s+')) AS term
  FROM documents WHERE doc_id % 17 <> 0),
co AS (SELECT term, count(*)::BIGINT AS c_old FROM o GROUP BY term),
cn AS (SELECT term, count(*)::BIGINT AS c_new FROM n GROUP BY term),
j AS (SELECT coalesce(co.term, cn.term) AS term,
             coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
      FROM co FULL OUTER JOIN cn ON co.term = cn.term)
SELECT term, c_old, c_new,
       CASE WHEN c_old > 0 THEN floor(c_new * 1000 / c_old) / 1000
            END AS ratio,
       CASE WHEN c_old = 0 THEN 'added'
            WHEN c_new = 0 THEN 'vanished'
            WHEN 2 * c_new >= 3 * c_old THEN 'grew'
            WHEN 2 * c_old >= 3 * c_new THEN 'shrunk'
            ELSE 'stable' END AS status
FROM j WHERE c_old >= 5 OR c_new >= 5
""")
def q_vocabulary_diff(spark, sf_dir):
    """Term-level release diff (snapshot.vocabulary_diff, r8 debut —
    completes the release-audit suite next to dataset_diff / PSI / JS
    divergence): vocabulary churn between the corpus and a synthetic
    next release (every 17th doc dropped; every 13th doc gains a new
    marker term, so 'added' is exercised). Status thresholds are
    integer comparisons (engine-exact); the only corpus-sized stages
    are the two token counts."""
    from .operators import snapshot

    docs = _t(spark, sf_dir, "documents")
    new = (docs.filter(F.col("doc_id") % 17 != 0)
           .select(F.when(F.col("doc_id") % 13 == 0,
                          F.concat(F.col("text"),
                                   F.lit(" release8_tag")))
                   .otherwise(F.col("text")).alias("text")))
    return snapshot.vocabulary_diff(docs.select("text"), new,
                                    min_count=5)


@_q("stream_drift_psi", _DRIFT_PSI_ORACLE)
def q_stream_drift_psi(spark, sf_dir):
    """The SAME drift audit computed with the new release arriving AS
    A STREAM — the deployment where drift is an ingest-time alarm, not
    a post-hoc batch job: each micro-batch bins its rows map-side with
    the identical integer bit-length edges (snapshot.psi_bin), a
    streaming groupBy(source, bin) count carries the release histogram
    as state, and the drained complete-mode aggregate joins the batch
    baseline histogram through the shared psi_from_histograms tail.
    Output (and oracle) identical to dataset_drift_psi because binning
    is row-local and counting is order-insensitive.

    Scale note: the state store holds at most sources x n_bins rows
    REGARDLESS of corpus size — the streaming-native shape for a
    drift monitor (the per-batch work is a stateless projection plus
    a partial count); state partitions stay at a fixed handful
    because the keyspace, not the row volume, bounds the state."""
    from .operators import snapshot

    docs = _t(spark, sf_dir, "documents")
    old_hist = snapshot.psi_histogram(
        docs.select("source", "n_chars"), "n_chars", ["source"], 16,
        "old")
    new = (docs.filter(F.col("doc_id") % 17 != 0)
           .select("source",
                   (F.col("n_chars")
                    * F.when(F.col("doc_id") % 5 == 0, 2).otherwise(1))
                   .alias("n_chars")))
    stream = _replay_stream(
        spark, new, f"{sf_dir}/documents.parquet", "driftpsi")
    hist = (stream
            .select("source",
                    snapshot.psi_bin("n_chars", 16).alias("bin"))
            .groupBy("source", "bin")
            .agg(F.count("*").alias("n_new")))
    # state keyspace is sources x n_bins (~hundreds) at ANY corpus
    # size: a fixed small instance count avoids checkpoint fan-out,
    # and the map-side partial count keeps the exchange tiny
    new_hist = sw.run_available_now(hist, output_mode="complete",
                                    state_partitions=4)
    return snapshot.psi_from_histograms(old_hist, new_hist, ["source"])


@_q("source_term_divergence", r"""
WITH t AS (
  SELECT source AS src,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents),
counts AS (SELECT src, tok, count(*)::BIGINT AS c
           FROM t GROUP BY src, tok),
gl AS (SELECT tok, sum(c)::BIGINT AS gc FROM counts GROUP BY tok),
topv AS (SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY gc DESC, tok) AS r
    FROM gl) WHERE r <= 64),
bucketed AS (
  SELECT src,
         CASE WHEN tok IN (SELECT tok FROM topv) THEN tok
              ELSE '< other terms >' END AS bucket,
         sum(c)::BIGINT AS n
  FROM counts GROUP BY src, bucket),
qdist AS (SELECT bucket, sum(n)::BIGINT AS gn
          FROM bucketed GROUP BY bucket),
grid AS (SELECT src, bucket, gn
         FROM (SELECT DISTINCT src FROM bucketed) CROSS JOIN qdist),
j AS (SELECT grid.src, grid.bucket, gn, coalesce(n, 0) AS n
      FROM grid LEFT JOIN bucketed
           ON grid.src = bucketed.src AND grid.bucket = bucketed.bucket),
pq AS (SELECT src, bucket, n,
              n / sum(n) OVER (PARTITION BY src) AS p,
              gn / sum(gn) OVER (PARTITION BY src) AS q
       FROM j)
SELECT src AS source, bucket,
       floor(p * 1000000) / 1000000 AS p,
       floor(q * 1000000) / 1000000 AS q,
       floor((CASE WHEN n > 0 THEN p * ln(p / ((p + q) / 2)) / 2
              ELSE 0.0 END
              + q * ln(q / ((p + q) / 2)) / 2) * 1000000)
           / 1000000 AS js_term
FROM pq
""")
def q_source_term_divergence(spark, sf_dir):
    """Per-source content divergence (snapshot.source_term_divergence,
    r8 debut): Jensen-Shannon terms between each source's token mix
    and the corpus-wide one over the global top-64 vocabulary + an
    <other> bucket — the distributional-outlier signal domain
    weighting ranks on; sum(js_term) per source is the headline. One
    corpus-sized (source, token) aggregation; everything after is
    vocabulary-sized, and the window sums are exact integer counts."""
    from .operators import snapshot

    return snapshot.source_term_divergence(
        _t(spark, sf_dir, "documents"), v=64)


@_q("temperature_mix", """
WITH per AS (
  SELECT source AS stratum, sum(n_chars)::BIGINT AS avail_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT stratum, avail_tokens,
         floor(sqrt(avail_tokens::DOUBLE))::BIGINT AS weight,
         CASE WHEN floor(sqrt(avail_tokens::DOUBLE)) > 0
              THEN avail_tokens::DOUBLE
                   / floor(sqrt(avail_tokens::DOUBLE))::BIGINT
              ELSE -1.0 END AS r
  FROM per),
staged AS (
  SELECT stratum, avail_tokens, weight,
         CASE WHEN (sum(weight) OVER ()
                    - coalesce(sum(weight) OVER (ORDER BY r, stratum
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)) > 0
              THEN (100000.0
                    - coalesce(sum(avail_tokens) OVER (ORDER BY r, stratum
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0))
                   / (sum(weight) OVER ()
                      - coalesce(sum(weight) OVER (ORDER BY r, stratum
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0))
         END AS cand
  FROM w)
SELECT stratum, avail_tokens, weight,
       coalesce(least(avail_tokens,
                      floor(max(cand) OVER () * weight)::BIGINT), 0)
         AS alloc_tokens,
       CASE WHEN avail_tokens > 0
            THEN floor(coalesce(least(avail_tokens,
                                      floor(max(cand) OVER ()
                                            * weight)::BIGINT), 0)::DOUBLE
                       / avail_tokens * 1000000) / 1000000
            ELSE 0.0 END AS rate
FROM staged
""")
def q_temperature_mix(spark, sf_dir):
    """Temperature-weighted mixture plan
    (sample.temperature_mix_plan, alpha=0.5): the same 100k budget as
    token_budget_mix allocated with targets ∝ sqrt(avail) — the
    multilingual-training mixture rule between proportional (alpha=1,
    crawls dominate) and equal-share (alpha=0, the waterfill).
    Closed relational form; integer-truncated sqrt weights keep every
    sum exact in int64 so the water level is bit-identical across
    engines, and the candidate-max level is property-tested against an
    independent greedy waterline solver."""
    from .operators import sample

    return sample.temperature_mix_plan(_t(spark, sf_dir, "documents"),
                                       "source", "n_chars",
                                       budget=100_000, alpha=0.5)


@_q("join_salted", """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_join_salted(spark, sf_dir):
    """skew.salted_join under an aggregation: the big side's rows are
    salted across 8 sub-keys and the small side replicated per salt, so
    a hot customer key spreads over 8 reducers — result-identical to
    the plain join (which is exactly what the oracle asserts)."""
    from .operators import skew

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = skew.salted_join(orders, cust, "o_custkey", "c_custkey",
                              n_salts=8)
    return (joined.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_spend")))


@_q("kmeans_cluster_sizes", """
SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors_clustered,
       (SELECT count(*) FROM embeddings WHERE vec_id % 256 = 0)::BIGINT
         AS n_cells_max,
       TRUE AS invariants_ok
""")
def q_kmeans_cluster_sizes(spark, sf_dir):
    """Spherical k-means over the embeddings table: deterministic-
    sample init (the IVF default), 3 Lloyd iterations. The full
    (cell, n_members) table is float-addition-order dependent through
    the trained centroids, so the registered observable is the exact
    invariant summary of that table — every vector assigned exactly
    once (sizes sum to the corpus count), every emitted cell one of
    the ≤k init centroid ids with a positive size — which a SQL oracle
    can reproduce deterministically. The raw sizes path is
    ``cluster.kmeans_cluster_sizes``; membership itself is
    hash-checked via ``kmeans_assign_sizes`` and tests/test_operators
    ::test_kmeans_*.

    Scale shape (r8): training sweeps run on the deterministic mod-4
    sample — with the stride-256 init (k ∝ n) that is a CONSTANT ~64
    training points per centroid at every corpus size (the faiss IVF
    training floor), so the 3 Lloyd sweeps cost n/4·k each and the
    full n·k sweep happens exactly once at final assignment
    (4·n·k → 1.75·n·k). Together with the fused dgemm training pass
    (cluster.py module docstring) this measured sf10 22.7→5.0s,
    sf1→sf10 ratio 7.99→1.98. The invariant summary the oracle
    checks is sample-independent."""
    from .operators import cluster

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter((F.col("vec_id") % 256) == 0)
    sizes = cluster.kmeans_cluster_sizes(
        emb, init, dim=64, n_iters=3,
        train_df=emb.filter((F.col("vec_id") % 4) == 0))
    # one full-outer join of two <=k-row tables, one aggregate: keeps
    # unmatched rows from BOTH sides visible (a non-init cell or an
    # empty init centroid both surface), with no cross join anywhere
    init_ids = init.select(F.col("vec_id").alias("cell"),
                           F.lit(True).alias("_is_init"))
    merged = sizes.join(init_ids, "cell", "full")
    return (merged
            .agg(F.coalesce(F.sum("n_members"), F.lit(0))
                 .alias("n_vectors_clustered"),
                 F.count(F.when(F.col("_is_init"), 1))
                 .alias("n_cells_max"),
                 F.coalesce(
                     F.min(F.when(
                         F.col("n_members").isNotNull(),
                         F.coalesce(F.col("_is_init"), F.lit(False))
                         & (F.col("n_members") > 0))),
                     F.lit(True)).alias("invariants_ok")))


@_q("kmeans_assign_sizes", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 256 = 0),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.emb, cent.cvec)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) DESC,
             cent.cid) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1)
SELECT cell, count(*) AS n_members FROM asg GROUP BY cell
""")
def q_kmeans_assign_sizes(spark, sf_dir):
    """The k-means assignment step under fixed deterministic-sample
    init — Lloyd iteration 0's cell membership counts. Unlike
    kmeans_cluster_sizes (3 iterations; centroid components are float-
    addition-order dependent, so it gets a rows-only check), a single
    fixed-centroid assignment is exactly SQL-expressible (6-decimal
    cosine, min-cid tie-break — the ivf_assign_cells float contract),
    giving the k-means path a hash-matched driver row; the iterative
    loop is covered by the sibling query + tests/test_operators.py."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter((F.col("vec_id") % 256) == 0)
    return (similarity.ivf_assign_cells(emb, init)
            .groupBy("cell").agg(F.count("*").alias("n_members")))


@_q("semantic_dedup", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id % 256 = 0),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, cent.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.emb, cent.cvec)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) DESC,
             cent.cid) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         round(list_dot_product(ea.emb, eb.emb)
               / (sqrt(list_dot_product(ea.emb, ea.emb))
                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS sim
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id)
SELECT id_a, id_b, cell, sim FROM p WHERE sim >= 0.45
""")
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs
    (cluster.semantic_dedup_pairs): every vector assigned to its
    nearest deterministic-sample centroid (the exact
    ivf_assign_cells float contract — same init as the kmeans
    queries), exact cosine over within-cell pairs only, threshold 0.45 —
    SemDeDup prunes SOFTER than the strict 0.5 dedup setting because
    the cell structure already scopes comparisons to one semantic
    neighborhood (and on this corpus 0.5-grade pairs can straddle a
    cell boundary, the method's documented recall trade).
    The stride-256 init keeps cells ~256 wide, so candidate volume is
    ~128*n — linear in the corpus; the oracle replicates assignment
    AND pairing exactly, so the approximation itself is
    parity-checked."""
    from .operators import cluster

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter((F.col("vec_id") % 256) == 0)
    return cluster.semantic_dedup_pairs(emb, init, threshold=0.45)


@_q("semantic_dedup_2level", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
fine AS (SELECT vec_id AS fid, emb AS fvec FROM e WHERE vec_id % 64 = 0),
coarse AS (SELECT vec_id AS gid, emb AS gvec FROM e
           WHERE vec_id % 1024 = 0),
fmap AS (
  SELECT fid, gid FROM (
    SELECT fine.fid, coarse.gid,
           row_number() OVER (PARTITION BY fine.fid ORDER BY
             round(list_dot_product(fine.fvec, coarse.gvec)
                   / (sqrt(list_dot_product(fine.fvec, fine.fvec))
                      * sqrt(list_dot_product(coarse.gvec, coarse.gvec))),
                   6) DESC,
             coarse.gid) AS rn
    FROM fine CROSS JOIN coarse) WHERE rn = 1),
cov AS (SELECT gid, gvec FROM coarse
        WHERE gid IN (SELECT gid FROM fmap)),
vg AS (
  SELECT vec_id, gid FROM (
    SELECT e.vec_id, cov.gid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.emb, cov.gvec)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(cov.gvec, cov.gvec))),
                   6) DESC,
             cov.gid) AS rn
    FROM e CROSS JOIN cov) WHERE rn = 1),
asg AS (
  SELECT vec_id, fid AS cell FROM (
    SELECT e.vec_id, f.fid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.emb, f.fvec)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(f.fvec, f.fvec))), 6) DESC,
             f.fid) AS rn
    FROM e JOIN vg ON vg.vec_id = e.vec_id
    JOIN fmap m ON m.gid = vg.gid
    JOIN fine f ON f.fid = m.fid) WHERE rn = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         round(list_dot_product(ea.emb, eb.emb)
               / (sqrt(list_dot_product(ea.emb, ea.emb))
                  * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS sim
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id)
SELECT id_a, id_b, cell, sim FROM p WHERE sim >= 0.45
""")
def q_semantic_dedup_2level(spark, sf_dir):
    """SemDeDup under a corpus-PROPORTIONAL cell count (stride-64
    fine init, k = n/64 → cells ~64 wide, pair volume ~32·n linear
    at every sf), with the assignment sweep made affordable by the
    two-level coarse→fine scan (stride-1024 coarse = every 16th fine
    centroid): n·(g + k/g) ≈ n·2√k dot products instead of n·k —
    cluster.semantic_dedup_pairs_2level /
    similarity.ivf_assign_cells_2level. The oracle replicates BOTH
    row_number stages (fine→coarse map, vector→coarse, vector→fine
    within group) and the within-cell pairing bit-exactly, so the
    hierarchical approximation itself — boundary re-routing included —
    is hash-checked. Complements `semantic_dedup` (fixed-stride-256,
    single-level): same method, the shape that survives k ∝ n."""
    from .operators import cluster

    emb = _t(spark, sf_dir, "embeddings")
    fine = emb.filter((F.col("vec_id") % 64) == 0)
    coarse = emb.filter((F.col("vec_id") % 1024) == 0)
    return cluster.semantic_dedup_pairs_2level(emb, fine, coarse,
                                               threshold=0.45)


#: plain-join contamination spec shared by `decontaminate`,
#: `decontaminate_bloom`, and `stream_decontaminate` — all three MUST
#: be indistinguishable from the unfiltered exact join (Bloom filters
#: have no false negatives; exact verify removes the false positives;
#: a drained AvailableNow stream replays the same corpus)
_DECONTAMINATE_ORACLE = r"""
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
           FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([words[i] || ' ' || words[i+1] || ' '
                               || words[i+2]
                               for i in range(1, len(words)-1)])) AS s
  FROM w
),
h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
tr AS (SELECT * FROM h WHERE doc_id % 50 <> 0),
ev AS (SELECT * FROM h WHERE doc_id % 50 = 0)
SELECT tr.doc_id,
       count(DISTINCT tr.h)::BIGINT AS n_shared_ngrams,
       count(DISTINCT ev.doc_id)::BIGINT AS n_eval_docs
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
"""


@_q("decontaminate", _DECONTAMINATE_ORACLE)
def q_decontaminate(spark, sf_dir):
    """Train/eval contamination report: every 50th document plays the
    held-out eval set; training documents sharing any 3-gram shingle
    with it are flagged with overlap counts (shingle-hash equi-join —
    the GPT-3-style decontamination pass)."""
    from .operators import contamination

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination.contamination_report(train, ev, k=3)


@_q("contamination_severity", r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([words[i] || ' ' || words[i+1] || ' '
                               || words[i+2]
                               for i in range(1, len(words)-1)])) AS s
  FROM w),
h AS MATERIALIZED (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM sh),
tr AS MATERIALIZED (SELECT doc_id, h FROM h WHERE doc_id % 50 <> 0),
ev AS (SELECT DISTINCT h FROM h WHERE doc_id % 50 = 0),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles
        FROM tr GROUP BY doc_id),
shr AS (SELECT doc_id, count(*)::BIGINT AS n_shared
        FROM tr WHERE h IN (SELECT h FROM ev)
        GROUP BY doc_id)
SELECT shr.doc_id, n_shingles, n_shared,
       floor(n_shared * 1000 / n_shingles) / 1000 AS overlap_frac
FROM shr JOIN tot ON shr.doc_id = tot.doc_id
""")
def q_contamination_severity(spark, sf_dir):
    """Per-doc contamination severity (contamination.overlap_severity,
    r8 debut): for each training doc touching the eval set (every 50th
    doc), the FRACTION of its distinct 3-gram shingles that leak — the
    number the drop-vs-quarantine policy thresholds on, versus
    decontaminate's boolean touch report. One persisted (t_id, h)
    reduction feeds the denominator aggregation and the eval semi-join
    numerator; AQE broadcasts the distinct eval shingle set."""
    from .operators import contamination

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination.overlap_severity(train, ev, k=3)


@_q("decontaminate_bloom", _DECONTAMINATE_ORACLE)
def q_decontaminate_bloom(spark, sf_dir):
    """The decontamination pass routed through the distributed Bloom
    prefilter (operators.bloom): same exact output as `decontaminate`
    — and deliberately the same oracle SQL, a plain join, because
    bloom-prefilter + exact-verify must be indistinguishable from the
    unfiltered join — but the corpus shingle stream is cut map-side by
    a ~10-bit/key filter instead of relying on an exact broadcast of
    the eval relation, the shape that survives benchmark-suite-sized
    eval sets (10^8+ distinct shingles) at 100 TB."""
    from .operators import contamination

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination.bloom_contamination_report(train, ev, k=3)


@_q("stream_decontaminate", _DECONTAMINATE_ORACLE)
def q_stream_decontaminate(spark, sf_dir):
    """Decontamination AT INGEST (r8 debut): the eval-set Bloom filter
    builds offline (distributed bit_or, operators.bloom), broadcasts
    into the document stream, and every micro-batch is screened by a
    fully STATELESS plan — shingle explode (array-transform form; the
    window-based shingle_rows cannot run on a stream), JVM word_hash,
    Arrow bit-gather probe — so only suspect shingle rows (true hits +
    fpp·batch) ever reach the sink, where the exact verify join
    removes the false positives. Same oracle as `decontaminate` /
    `decontaminate_bloom`: no false negatives in the screen + exact
    verify + an AvailableNow drain that replays the whole corpus means
    all three must emit the identical report. This is the "screen the
    crawl as it lands" deployment: at 100 TB/day the corpus never
    rests unscreened, per-batch work is map-side only, and the
    sink-side shuffle is suspect-sized, not corpus-sized."""
    from . import cache
    from .operators import contamination
    from .operators.bloom import bloom_build, bloom_dims
    from .operators.dedup import shingle_rows
    from .operators.text import word_hash

    docs = _t(spark, sf_dir, "documents")
    ev_docs = docs.filter(F.col("doc_id") % 50 == 0)
    ev = cache.persist(
        shingle_rows(ev_docs, "text", "doc_id", 3)
        .select(F.col("id").alias("e_id"),
                word_hash(F.col("s")).alias("h")))
    m_bits, n_hash = bloom_dims(ev.count())
    bf = bloom_build(ev.select("h"), "h", m_bits, n_hash)

    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id",
                                                          "text")
    stream = _replay_stream(
        spark, train, f"{sf_dir}/documents.parquet", "decon")
    suspects = contamination.stream_bloom_suspects(stream, bf, k=3)
    out = sw.run_available_now(suspects, output_mode="append")
    return contamination.report_from_suspects(out, ev)


@_q("sequence_packing", r"""
WITH t AS (
  SELECT source AS part, doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_tok
  FROM documents),
a AS (
  SELECT part, n_tok,
         floor((sum(n_tok) OVER (PARTITION BY part ORDER BY doc_id)
                - n_tok) / 512)::BIGINT AS window_id
  FROM t)
SELECT part, window_id, count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS total_tokens,
       floor(sum(n_tok) * 1000 / 512) / 1000 AS fill_frac
FROM a GROUP BY part, window_id
""")
def q_sequence_packing(spark, sf_dir):
    """Concatenate-and-chunk sequence packing into 512-token context
    windows per source stream: per-window doc counts, token totals,
    occupancy — the document->window layout a pre-training data loader
    materializes."""
    from .operators import pack

    return pack.pack_context_windows(_t(spark, sf_dir, "documents"),
                                     ctx_len=512)


@_q("context_length_plan", r"""
WITH t AS (
  SELECT source AS part, doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_tok
  FROM documents),
a AS (
  SELECT part, n_tok,
         (sum(n_tok) OVER (PARTITION BY part ORDER BY doc_id) - n_tok)
           AS before
  FROM t),
e AS (SELECT part, n_tok, before, unnest([512, 1024, 2048]) AS ctx_len
      FROM a),
agg AS (
  SELECT ctx_len, count(*)::BIGINT AS n_docs,
         sum(n_tok)::BIGINT AS total_tokens,
         sum((n_tok + ctx_len - 1) // ctx_len)::BIGINT AS pad_windows,
         sum(CASE WHEN n_tok > 0
                   AND (before + n_tok - 1) // ctx_len
                       > before // ctx_len
                  THEN 1 ELSE 0 END)::BIGINT AS frag_docs
  FROM e GROUP BY ctx_len),
pp AS (
  SELECT ctx_len,
         sum((part_tokens + ctx_len - 1) // ctx_len)::BIGINT
           AS cut_windows
  FROM (SELECT ctx_len, part, max(before + n_tok) AS part_tokens
        FROM e GROUP BY ctx_len, part)
  GROUP BY ctx_len)
SELECT g.ctx_len::BIGINT AS ctx_len, n_docs, total_tokens, pad_windows,
       floor((1.0 - total_tokens::DOUBLE / (pad_windows * g.ctx_len))
             * 1000000) / 1000000 AS pad_frac,
       cut_windows, frag_docs,
       floor(frag_docs::DOUBLE / n_docs * 1000000) / 1000000 AS frag_frac
FROM agg g JOIN pp USING (ctx_len)
""")
def q_context_length_plan(spark, sf_dir):
    """Context-length planning audit (pack.context_length_plan, r8
    debut): for ctx in {512, 1024, 2048}, the padding share of the
    one-doc-per-window layout NEXT TO the document-fragmentation rate
    of the concatenate-then-cut layout — the two numbers a training
    team trades off when choosing sequence length. One token-count
    projection + the packing cumsum reused across all candidates via
    a 3-literal explode; integer arithmetic, k-row output."""
    from .operators import pack

    return pack.context_length_plan(_t(spark, sf_dir, "documents"),
                                    ctx_lens=[512, 1024, 2048])


@_q("tfidf_terms", r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT doc_id, term, tf, df,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY tf DESC, df ASC, term) AS rank
FROM tf JOIN dfq USING (term)
QUALIFY rank <= 3
""")
def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 distinctive terms (tf desc, corpus-df asc,
    term tie-break) — integer-exact tf-idf term selection with no float
    in the ranking."""
    return text_ops.top_distinctive_terms(
        _t(spark, sf_dir, "documents"), k=3)


@_q("embedding_quantize", """
WITH x AS (
  SELECT vec_id, len(embedding)::BIGINT AS dim,
         list_transform(embedding, v -> v::DOUBLE) AS xd
  FROM embeddings),
s AS (SELECT vec_id, dim, xd,
             list_max(list_transform(xd, v -> abs(v))) AS scale
      FROM x),
q AS (SELECT vec_id, dim, xd, scale,
             list_transform(xd, v -> CASE WHEN scale = 0 THEN 0
                 ELSE greatest(-127, least(127,
                      floor(v / scale * 127)::BIGINT)) END) AS qi
      FROM s)
SELECT vec_id, dim,
       floor(scale * 1000000) / 1000000 AS scale_q,
       len(list_filter(qi, v -> abs(v) = 127))::BIGINT AS n_sat,
       floor((list_dot_product(xd, xd)
              - 2.0 * (scale / 127.0)
                * list_dot_product(xd, list_transform(qi, v -> v::DOUBLE))
              + (scale / 127.0) * (scale / 127.0)
                * list_dot_product(list_transform(qi, v -> v::DOUBLE),
                                   list_transform(qi, v -> v::DOUBLE)))
             * 1000000000) / 1000000000 AS sq_err_q
FROM q
""")
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization report over the embeddings table:
    per-vector scale, saturation count, and closed-form squared
    reconstruction error (dot-product identity — no reconstructed
    vector materialized, no Python)."""
    from .operators import quantize

    return quantize.quantize_int8_report(_t(spark, sf_dir, "embeddings"))


def _bm25_oracle(sf_dir: str, k: int = 10,
                 k1: float = 1.2, b: float = 0.75) -> str:
    """Relational replica of retrieval.bm25_topk: identical posting /
    dl / df rollups, the IDENTICAL float expression tree per term
    (literals via repr so the Python-folded constants — k1+1, 1-b —
    round-trip bit-exactly), and the per-pair sum as an init-less
    list_reduce over contributions ordered by term — the
    pool_chunk_embeddings fold contract."""
    # every float literal carries ::DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL, and BIGINT*DECIMAL is EXACT decimal math —
    # a last-ulp divergence from Spark's double multiply once cast back
    avgdl = "(s.tot_len::DOUBLE / s.n_docs)"
    idf = (f"ln({1.0!r}::DOUBLE + (s.n_docs - t.df_t + {0.5!r}::DOUBLE)"
           f" / (t.df_t + {0.5!r}::DOUBLE))")
    den = (f"(p.tf + {k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE"
           f" + ({b!r}::DOUBLE * d.dl) / {avgdl}))")
    contrib = f"{idf} * ((p.tf * {k1 + 1.0!r}::DOUBLE) / {den})"
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents),
postings AS (SELECT term, doc, count(*)::BIGINT AS tf
             FROM toks GROUP BY term, doc),
dl AS (SELECT doc, sum(tf)::BIGINT AS dl FROM postings GROUP BY doc),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS tot_len
          FROM dl),
term_df AS (SELECT term, count(*)::BIGINT AS df_t
            FROM postings GROUP BY term),
qt AS (SELECT DISTINCT doc_id AS q_id, unnest(
         regexp_split_to_array(trim(array_to_string(
           regexp_split_to_array(trim(text), '\\s+')[1:6], ' ')), '\\s+'))
         AS term
       FROM documents WHERE doc_id < 3),
hits AS (
  SELECT q.q_id, p.doc, p.term AS t, {contrib} AS c
  FROM postings p
  JOIN qt q USING (term)
  JOIN dl d USING (doc)
  JOIN term_df t USING (term)
  CROSS JOIN stats s),
scored AS (
  SELECT q_id, doc AS doc_id,
         floor(list_reduce(list(c ORDER BY t), (a, x) -> a + x)
               * 1000000) / 1000000 AS score_q
  FROM hits GROUP BY q_id, doc),
ranked AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score_q DESC, doc_id) AS rank,
         score_q
  FROM scored)
SELECT q_id, doc_id, rank::BIGINT AS rank, score_q
FROM ranked WHERE rank <= {k}
"""


@_q("bm25_topk", _bm25_oracle)
def q_bm25_topk(spark, sf_dir):
    """BM25 lexical top-10 (r9 debut; retrieval.bm25_topk): the
    inverted-index retrieval surface next to the embedding-space ANN
    family — eval-decontamination triage, hard-negative mining, RAG
    QA. Query set: the first 6 tokens of docs 0-2 (the vec_id<10
    query-set convention), so queries scale with nothing and the
    corpus scales with sf. One corpus tokenize into the persisted
    posting table, rollup df/dl FROM the postings, broadcast
    query-term equi-join, per-query group-limited top-k."""
    from .operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(text_ops.tokens("text"), 1, 6), " ")
        .alias("q_text"))
    return retrieval.bm25_topk(docs, queries, k=10)


@_q("char_entropy_quality", """
WITH chars AS (
  SELECT doc_id AS doc, unnest(string_split(text, '')) AS ch
  FROM documents),
cnts AS (SELECT doc, ch, count(*)::BIGINT AS cnt
         FROM chars WHERE length(ch) > 0 GROUP BY doc, ch),
per AS (SELECT doc, sum(cnt)::BIGINT AS n_chars,
               count(*)::BIGINT AS n_unique,
               list_reduce(list(cnt::DOUBLE * ln(cnt::DOUBLE)
                                ORDER BY ch),
                           (a, x) -> a + x) AS s
        FROM cnts GROUP BY doc),
scored AS (
  SELECT doc AS doc_id, n_chars, n_unique AS n_unique_chars,
         floor((ln(n_chars::DOUBLE) - s / n_chars::DOUBLE)
               / ln(2.0::DOUBLE) * 1000000) / 1000000 AS entropy_q
  FROM per)
SELECT d.doc_id,
       coalesce(sc.n_chars, 0)::BIGINT AS n_chars,
       coalesce(sc.n_unique_chars, 0)::BIGINT AS n_unique_chars,
       coalesce(sc.entropy_q, 0.0) AS entropy_q
FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id
""")
def q_char_entropy_quality(spark, sf_dir):
    """Per-document character-distribution Shannon entropy (r9 debut;
    text.char_entropy): the gibberish/boilerplate signal — base64 and
    random bytes score near the alphabet ceiling, template spam
    scores low, natural language sits in a narrow band. One char
    explode partial-aggregated to alphabet-bounded (doc, char)
    counts, doc-keyed rollup, deterministic ln fold (never log2 —
    engines disagree in the last ulp)."""
    return text_ops.char_entropy(_t(spark, sf_dir, "documents"))


def _kcenter_oracle(sf_dir: str, k: int = 4,
                    dim: int = 64) -> str:
    """Relational replica of cluster.kcenter_select, the k selection
    rounds UNROLLED as a CTE chain (the plane-literal unroll pattern):
    round r recomputes least(mind, d2(c_r)) with d2 as
    list_dot_product(diff, diff) — the same ascending-dimension
    summation as the Spark zip_with fold (squares are non-negative,
    so the 0.0-seed corner cannot arise) — and picks ORDER BY mind
    DESC, vec_id LIMIT 1, bit-equal to Spark's max(struct(mind,
    -id)) tie-break."""
    # the center vector rides into lambda scope via a 1-row CROSS
    # JOIN (DuckDB rejects subqueries inside lambda bodies)
    parts = [f"""
WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE)
                    AS v FROM embeddings),
c0 AS (SELECT min(vec_id) AS id, {0.0!r}::DOUBLE AS mind FROM e),
v0 AS (SELECT v AS cv FROM e WHERE vec_id = (SELECT id FROM c0)),
d0 AS (SELECT vec_id, v, list_dot_product(dv, dv) AS mind
       FROM (SELECT e.vec_id, e.v,
                    list_transform(range(1, {dim + 1}),
                                   i -> e.v[i] - c.cv[i]) AS dv
             FROM e CROSS JOIN v0 c))"""]
    for r in range(1, k):
        parts.append(f"""
c{r} AS (SELECT vec_id AS id, mind FROM d{r - 1}
         ORDER BY mind DESC, vec_id LIMIT 1),
v{r} AS (SELECT v AS cv FROM e WHERE vec_id = (SELECT id FROM c{r}))""")
        if r < k - 1:
            parts.append(f"""
d{r} AS (SELECT vec_id, v, least(mind, list_dot_product(dv, dv)) AS mind
         FROM (SELECT d.vec_id, d.v, d.mind,
                      list_transform(range(1, {dim + 1}),
                                     i -> d.v[i] - c.cv[i]) AS dv
               FROM d{r - 1} d CROSS JOIN v{r} c))""")
    selects = [f"SELECT {r}::BIGINT AS round, (SELECT id FROM c{r})::BIGINT"
               f" AS vec_id, floor((SELECT mind FROM c{r}) * 1000000)"
               f" / 1000000 AS radius_q" for r in range(k)]
    return ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@_q("kcenter_coreset", _kcenter_oracle)
def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection (r9 debut;
    cluster.kcenter_select): the farthest-point traversal data
    pruning uses to pick a maximally-spread representative subset
    (Gonzalez 2-approximation; Sener & Savarese core-set selection).
    k=4 keeps the unrolled oracle CTE chain tractable while
    exercising every moving part — seed, argmax tie-break, the
    least() distance update, and the per-round localCheckpoint. Each
    round is one corpus scan + a 1-row driver barrier (the kmeans
    loop pattern)."""
    from .operators import cluster

    return cluster.kcenter_select(_t(spark, sf_dir, "embeddings"),
                                  k=4, dim=64)


# ======================================================================
# r9 second wave: classifier calibration, vocab sizing, contrastive
# mining, char-level near-dup, MMR diversified rerank
# ======================================================================

@_q("classifier_auc", r"""
WITH s AS (
  SELECT floor(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                   w -> list_contains(['the','a','of','and','to','is','in','it'], w)))::DOUBLE
           / len(regexp_split_to_array(trim(text), '\s+')) * 1000) / 1000 AS s,
         (lang = 'en') AS y
  FROM documents
), g AS (
  -- NULL scores excluded, matching score_class_counts (ADVICE r9)
  SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
            sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS neg
  FROM s WHERE s IS NOT NULL GROUP BY s
), c AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
  FROM g
), a AS (
  SELECT sum(pos::HUGEINT * cum_neg::HUGEINT) AS p_gt,
         sum(pos::HUGEINT * neg::HUGEINT) AS p_tie,
         sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg
  FROM c)
SELECT n_pos, n_neg,
       floor((2::HUGEINT * p_gt + p_tie)::DOUBLE
             / (2.0 * n_pos * n_neg) * 1000000) / 1000000 AS auc_q
FROM a
""")
def q_classifier_auc(spark, sf_dir):
    """ROC-AUC calibration audit (classifier.score_auc, r9 debut):
    does the stopword-ratio quality signal actually separate English
    from non-English text? The Mann-Whitney rank AUC over the
    3-decimal-quantized score — the groupBy collapses the corpus to a
    <=1001-row score table regardless of corpus size (the bounded-key
    window contract), pair counts accumulate in decimal(38,0), and
    the one float op is the final division."""
    from .operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(text_ops.stopword_ratio("text").alias("s"),
                         (F.col("lang") == "en").alias("y"))
    return classifier.score_auc(scored, "s", "y")


@_q("vocab_coverage_curve", r"""
WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
tc AS (SELECT term, count(*)::BIGINT AS cnt FROM t
       WHERE length(term) > 0 GROUP BY term),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rk FROM tc),
tot AS (SELECT sum(cnt)::BIGINT AS total_tokens FROM tc),
sz AS (SELECT unnest([10, 100, 1000]) AS vocab_size)
SELECT sz.vocab_size::BIGINT AS vocab_size,
       sum(r.cnt)::BIGINT AS covered_tokens,
       (SELECT total_tokens FROM tot) AS total_tokens,
       floor(sum(r.cnt)::DOUBLE / (SELECT total_tokens FROM tot)::DOUBLE
             * 1000000) / 1000000 AS coverage_q
FROM sz JOIN r ON r.rk <= sz.vocab_size
GROUP BY sz.vocab_size
""")
def q_vocab_coverage_curve(spark, sf_dir):
    """Top-N vocabulary coverage curve (text.vocab_coverage, r9
    debut): what fraction of all token occurrences the 10/100/1000
    most frequent terms cover — the tokenizer-sizing / OOV-budget
    audit next to zipf_slope_audit. One tokenize pass; everything
    downstream is vocab-bounded (Heaps' law)."""
    return text_ops.vocab_coverage(_t(spark, sf_dir, "documents"),
                                   [10, 100, 1000])


@_q("hard_negative_mining", """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
         round(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM e q JOIN e c
    ON q.vec_id < 8 AND c.label != q.label AND c.vec_id != q.vec_id
), r AS (
  SELECT q_id, n_id, n_label, sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, n_id) AS rank
  FROM p)
SELECT q_id, n_id, n_label::BIGINT AS n_label, rank::BIGINT AS rank, sim
FROM r WHERE rank <= 5
""")
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive hard-negative mining (similarity.hard_negatives,
    r9 debut): for each anchor (vec_id < 8), the top-5 most
    cosine-similar vectors with a DIFFERENT label — the mismatch
    predicate rides in the join so k always fills. Anchors broadcast,
    corpus scanned once (the knn_cosine plan)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 8), k=5)


@_q("editdist_neardup", """
WITH d AS (SELECT doc_id, text, length(text) AS l,
                  (length(text) // 16) AS blk
           FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL
             AND length(text) <= 256
             AND strlen(text) = length(text)),
-- |len diff| <= 8 is implied by dist <= 8 (dist >= |len diff|), so
-- the prefilter cannot change the answer; expressing it as a width-16
-- bucket EQUI join (same bucket with id order, plus adjacent bucket)
-- instead of the raw inequality keeps DuckDB on its parallel hash
-- join — the raw |l_a - l_b| <= 8 form ran the IEJoin single-threaded
-- (~17 min at sf1 vs ~4 min for this plan, same 38,652 pairs). The
-- bucket-form completeness (width >= max_dist covers every length-
-- close pair exactly once) is independently unit-tested against the
-- unblocked brute force in tests/test_operators.py.
cand AS (
  SELECT a.doc_id AS ai, b.doc_id AS bi, a.text AS ta, b.text AS tb
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
                    AND abs(a.l - b.l) <= 8
  UNION ALL
  SELECT a.doc_id, b.doc_id, a.text, b.text
  FROM d a JOIN d b ON a.blk + 1 = b.blk AND abs(a.l - b.l) <= 8)
SELECT doc_a, doc_b, dist FROM (
  SELECT least(ai, bi) AS doc_a, greatest(ai, bi) AS doc_b,
         levenshtein(ta, tb)::BIGINT AS dist
  FROM cand) WHERE dist <= 8
""")
def q_editdist_neardup(spark, sf_dir):
    """Char-level near-dup pairs over short texts
    (dedup.editdist_neardup_pairs, r9 debut; r10: PassJoin pigeonhole
    segment signatures replace length-only blocking — candidates come
    from an equi-hash join on (indexed_len, segment_idx,
    substring_hash), volume ∝ true matches instead of block², exact
    output unchanged so the length-banded brute-force DuckDB oracle
    carries over verbatim): Levenshtein <= 8 on docs <= 256 chars.
    The corpus is pre-filtered to ASCII rows (octet_length == length,
    the same predicate in both engines) because DuckDB's levenshtein
    counts UTF-8 BYTES while Spark's counts CHARACTERS — the operator
    itself is char-correct on any text; the registered query pins
    parity on the slice where the two definitions coincide."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text"))
    return dedup.editdist_neardup_pairs(docs, max_dist=8, max_len=256)


def _mmr_oracle(sf_dir: str, k: int = 6,
                lam: float = 0.7, n_cands: int = 24,
                qid: int = 0) -> str:
    """Relational replica of retrieval.mmr_select, the k greedy
    rounds UNROLLED as a CTE chain (the kcenter-oracle pattern):
    round r picks ORDER BY lam*rel - (1-lam)*maxsim DESC, id LIMIT 1
    (bit-equal to Spark's max(struct(score, -id)) tie-break) and
    updates maxsim = greatest(maxsim, dot/(nrm*snrm)) with the
    selected vector riding into scope via a 1-row CROSS JOIN. lam and
    (1-lam) are embedded as the same Python-repr'd double literals
    the Spark expression uses."""
    lam_r, div_r = repr(float(lam)), repr(1.0 - float(lam))
    parts = [f"""
WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {qid}),
s0 AS MATERIALIZED (SELECT e.vec_id AS id, e.v,
              sqrt(list_dot_product(e.v, e.v)) AS nrm,
              list_dot_product(e.v, q.qv)
                / (sqrt(list_dot_product(e.v, e.v))
                   * sqrt(list_dot_product(q.qv, q.qv))) AS rel
       FROM e CROSS JOIN q WHERE e.vec_id != {qid}),
c0 AS MATERIALIZED (SELECT id, v, nrm, rel, 0.0::DOUBLE AS maxsim
       FROM s0 ORDER BY rel DESC, id LIMIT {n_cands})"""]
    for r in range(k):
        parts.append(f"""
p{r} AS MATERIALIZED (SELECT id, {lam_r} * rel - {div_r} * maxsim AS sc
         FROM c{r} ORDER BY sc DESC, id LIMIT 1)""")
        if r < k - 1:
            parts.append(f"""
w{r} AS MATERIALIZED (SELECT c.v AS sv, c.nrm AS snrm FROM c{r} c
         WHERE c.id = (SELECT id FROM p{r})),
c{r + 1} AS MATERIALIZED (SELECT id, v, nrm, rel,
              greatest(maxsim, list_dot_product(v, w.sv) / (nrm * w.snrm))
                AS maxsim
             FROM c{r} CROSS JOIN w{r} w
             WHERE id != (SELECT id FROM p{r}))""")
    selects = [f"SELECT {r}::BIGINT AS round, (SELECT id FROM p{r})::BIGINT"
               f" AS vec_id, floor((SELECT sc FROM p{r}) * 1000000)"
               f" / 1000000 AS mmr_q" for r in range(k)]
    return ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@_q("mmr_rerank", _mmr_oracle)
def q_mmr_rerank(spark, sf_dir):
    """MMR diversified rerank (retrieval.mmr_select, r9 debut):
    lam=0.7 over the top-24 relevance candidates for query vec_id 0,
    6 greedy picks — one corpus scan (sort-limit candidate stage),
    then k candidate-sized argmax rounds under the kcenter driver-
    barrier pattern, every decision bit-checked by the unrolled CTE
    oracle."""
    from .operators import retrieval

    return retrieval.mmr_select(_t(spark, sf_dir, "embeddings"),
                                query_id=0, k=6, lam=0.7, n_cands=24)


def _hybrid_oracle(sf_dir: str, k: int = 10,
                   c: float = 60.0) -> str:
    """RRF fusion replica: the bm25 oracle rides in as a nested-WITH
    subquery (unchanged — same queries, same k), the dense side is
    the knn replica restricted to vec_id < 3, and the fusion is the
    identical fixed-order coalesce expression over integer ranks with
    c as a repr'd double literal. Ranking happens on the FULL-
    precision rrf (bit-equal across engines), truncation only on
    output."""
    c_r = repr(float(c))
    term = (f"coalesce({1.0!r}::DOUBLE / ({c_r}::DOUBLE + l.rank), "
            f"{0.0!r}::DOUBLE) + coalesce({1.0!r}::DOUBLE / "
            f"({c_r}::DOUBLE + d.rank), {0.0!r}::DOUBLE)")
    return f"""
WITH lex AS (SELECT * FROM ({_bm25_oracle(sf_dir, k=k)})),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
dp AS (
  SELECT q.vec_id AS q_id, cv.vec_id AS doc_id,
         round(list_dot_product(q.emb, cv.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(cv.emb, cv.emb))), 6) AS sim
  FROM e q JOIN e cv ON q.vec_id < 3 AND cv.vec_id != q.vec_id),
den AS (
  SELECT q_id, doc_id, rank FROM (
    SELECT q_id, doc_id, sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, doc_id) AS rank
    FROM dp) WHERE rank <= {k}),
f AS (
  SELECT coalesce(l.q_id, d.q_id) AS q_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         {term} AS rrf
  FROM lex l FULL OUTER JOIN den d
    ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
r AS (
  SELECT q_id, doc_id, rrf,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM f)
SELECT q_id, doc_id, rank::BIGINT AS rank,
       floor(rrf * 1000000) / 1000000 AS rrf_q
FROM r WHERE rank <= {k}
"""


@_q("hybrid_rank_fusion", _hybrid_oracle)
def q_hybrid_rank_fusion(spark, sf_dir):
    """Hybrid retrieval (retrieval.rrf_fuse, r9 debut): BM25 lexical
    top-10 (bm25_topk's query set — first 6 tokens of docs 0-2)
    fused with dense cosine top-10 for the same ids (vec_id < 3,
    doc_id == vec_id in the testdata contract) by Reciprocal Rank
    Fusion, c=60. The merge and rank window run over two k-bounded
    lists; all corpus-sized work stays inside the two retrievers."""
    from .operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(text_ops.tokens("text"), 1, 6), " ")
        .alias("q_text"))
    lex = retrieval.bm25_topk(docs, queries, k=10)
    emb = _t(spark, sf_dir, "embeddings")
    dense = (similarity.knn_cosine(emb, emb.filter(F.col("vec_id") < 3),
                                   k=10)
             .select("q_id", F.col("n_id").alias("doc_id"), "rank"))
    return retrieval.rrf_fuse(lex, dense, k=10, c=60.0)


@_q("score_calibration", r"""
WITH s AS (
  SELECT floor(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                   w -> list_contains(['the','a','of','and','to','is','in','it'], w)))::DOUBLE
           / len(regexp_split_to_array(trim(text), '\s+')) * 1000) / 1000 AS s,
         (lang = 'en') AS y
  FROM documents
), b AS (
  -- NULL scores dropped + both-edge bin clamp (ADVICE r9), matching
  -- classifier.score_calibration
  SELECT greatest(least(floor(s * 10), 9), 0)::BIGINT AS bin,
         round(s * 1000)::BIGINT AS s_int,
         CASE WHEN y THEN 1 ELSE 0 END AS y
  FROM s WHERE s IS NOT NULL
), g AS (
  SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
         sum(s_int)::BIGINT AS s_sum
  FROM b GROUP BY bin)
SELECT bin, n, n_pos,
       floor(s_sum::DOUBLE / (1000.0 * n) * 1000000) / 1000000
         AS mean_score_q,
       floor(n_pos::DOUBLE / n * 1000000) / 1000000 AS pos_rate_q,
       floor(abs(n_pos::DOUBLE / n - s_sum::DOUBLE / (1000.0 * n))
             * 1000000) / 1000000 AS gap_q
FROM g
""")
def q_score_calibration(spark, sf_dir):
    """Reliability table (classifier.score_calibration, r9 debut):
    does stopword-ratio = 0.3 MEAN a 30% chance of being English?
    Ten fixed-width bins over the 3-decimal-quantized score; integer
    mean accumulation (round(s*1000) recovers the exact quantized
    int), two divisions per bin as the only float ops. The ranking
    complement is classifier_auc on the same (score, label) pair."""
    from .operators import classifier

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(text_ops.stopword_ratio("text").alias("s"),
                         (F.col("lang") == "en").alias("y"))
    return classifier.score_calibration(scored, "s", "y",
                                        n_bins=10, scale=1000)


@_q("stream_score_auc", r"""
WITH s AS (
  SELECT floor(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
           / length(regexp_replace(trim(text), '\s+', '', 'g')) * 1000) / 1000 AS s,
         (lang = 'en') AS y
  FROM documents
), g AS (
  -- NULL scores excluded, matching score_class_counts (ADVICE r9);
  -- punct_ratio IS null here on whitespace-only text
  SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
            sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS neg
  FROM s WHERE s IS NOT NULL GROUP BY s
), c AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
  FROM g
), a AS (
  SELECT sum(pos::HUGEINT * cum_neg::HUGEINT) AS p_gt,
         sum(pos::HUGEINT * neg::HUGEINT) AS p_tie,
         sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg
  FROM c)
SELECT n_pos, n_neg,
       floor((2::HUGEINT * p_gt + p_tie)::DOUBLE
             / (2.0 * n_pos * n_neg) * 1000000) / 1000000 AS auc_q
FROM a
""")
def q_stream_score_auc(spark, sf_dir):
    """The SAME Mann-Whitney AUC computed with documents arriving AS
    A STREAM — the deployment where classifier calibration is an
    ingest-time monitor (is today's crawl still separable?) rather
    than a post-hoc batch audit. Each micro-batch scores rows
    statelessly (punct_ratio — a different signal from the batch
    audit's stopword ratio, same machinery) and folds them into a
    streaming groupBy(score) class-count state — the bounded
    MERGEABLE state score_auc's two-stage split exists for (keyspace
    <= 1001 quantized scores at ANY corpus size); the drained state
    table flows through the identical auc_from_score_counts tail, so
    output and oracle match the batch formulation exactly (counting
    is order-insensitive)."""
    from .operators import classifier

    src = f"{sf_dir}/documents.parquet"
    docs = _t(spark, sf_dir, "documents").select("text", "lang")
    stream = _replay_stream(spark, docs, src, "scoreauc")
    counts = classifier.score_class_counts(
        stream.select(text_ops.punct_ratio("text").alias("s"),
                      (F.col("lang") == "en").alias("y")), "s", "y")
    # state keyspace is <= 1001 quantized scores at any corpus size:
    # a fixed small instance count avoids checkpoint fan-out (the
    # stream_drift_psi sizing argument)
    drained = sw.run_available_now(counts, output_mode="complete",
                                   state_partitions=4)
    return classifier.auc_from_score_counts(drained)
