"""LazyFrame: the engine's fluent query-building facade.

Mirrors the reference API surface (from_dataframe / from_csv / select /
filter / limit / inner_join / collect / collect_streaming — see
/root/reference/src/logical_plan/builder.rs:26-113) and extends it with
the Spark-native superset: parquet sources, group_by/agg, sort, distinct,
set ops, window functions.

Design stance (SURVEY §7): wrap, don't reimplement. A LazyFrame holds a
PySpark DataFrame — itself a lazy Catalyst logical plan — so optimize /
validate / physical planning / execution are all delegated to Catalyst +
Tungsten. What this layer adds is the reference's *semantics*: eager
column validation with reference-style errors, the join output-schema
contract, expression typing rules, and dual collect modes.

Like the reference's logical plan (plan.rs:63-113), a LazyFrame also
carries its logical schema: parquet sources take it from the schema
they were read by, ``select`` derives it from each expression's output
name and type, ``join`` from both inputs by the output contract, and
row-only operators (filter, limit, sort, distinct) pass it through.
Validation then costs no JVM round-trip; every other operator reads
the schema from the JVM once, on first use.

Divergences from the reference (intentional, SURVEY §7.4):
- joins implement the reference's LOGICAL schema contract (left columns,
  then right minus right key, ``_right`` suffix on collisions); its
  physical executor contradicts its own planner.
- ``collect_streaming`` keeps aliases and real nulls (the reference
  drops aliases and corrupts nulls on this path — bugs we fix).
- SQL three-valued null semantics (Null==Null -> null, not true): the
  correctness oracle is ANSI SQL.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .errors import (
    ColumnNotFoundError,
    DuplicateColumnError,
    EmptySeriesError,
    IncompatibleJoinKeysError,
    InvalidPredicateError,
    LengthMismatchError,
    SchemaRequiredError,
)
from .expressions.expr import Expr, Schema
from .schema import DataType, comparable, infer_series_type, struct_type
from .sources.tables import scan_typed

# no "cross": keys are mandatory in this API, so a requested cross
# product would silently execute as an inner equi-join — reject it
# rather than return a wrong (smaller) result; Spark's crossJoin is
# available via from_spark for the rare genuine Cartesian need
_JOIN_TYPES = {"inner", "left", "right", "outer", "full", "semi", "anti"}
#: join types where unmatched RIGHT rows survive — their key lives in
#: the right key column, so the output key must coalesce both sides
_RIGHT_PRESERVING = {"right", "outer", "full"}


def _logical(st: StructType) -> Schema:
    """(name, logical DataType) pairs of a Spark schema; superset Spark
    types map to the NULL placeholder."""
    out: Schema = []
    for f in st.fields:
        dt = DataType.from_spark(f.dataType)
        out.append((f.name, dt if dt is not None else DataType.NULL))
    return out


def _coalesced(a: DataType, b: DataType) -> DataType | None:
    """Logical type of ``coalesce`` over keys typed ``a`` and ``b``;
    None where Spark's type widening of superset types decides."""
    if a is b and a is not DataType.NULL:
        return a
    if {a, b} == {DataType.INT64, DataType.FLOAT64}:
        return DataType.FLOAT64
    return None


class LazyFrame:
    def __init__(self, df: DataFrame, schema: Schema | None = None):
        self._df = df
        # the logical schema where an operator derived it, else read
        # from the JVM on first use
        self._schema = schema

    # ------------------------------------------------------------------
    # sources
    # ------------------------------------------------------------------
    @classmethod
    def from_spark(cls, df: DataFrame) -> "LazyFrame":
        return cls(df)

    @classmethod
    def from_dataframe(cls, spark: SparkSession, data: dict[str, list[Any]]) -> "LazyFrame":
        """In-memory source with reference-style per-column inference:
        first non-null value's type wins; Int64+Float64 promotes to
        Float64; other mixes raise MixedTypesError; all-null -> NullType.
        """
        # dict keys are unique by construction, so no duplicate-name
        # check is possible (or needed) on this input form
        names = list(data)
        lengths = {n: len(v) for n, v in data.items()}
        if len(set(lengths.values())) > 1:
            raise LengthMismatchError(str(lengths))
        # reference rejects user-constructed empty series
        # (series.rs:186-188; typed 0-row frames only arise as results)
        for n, ln in lengths.items():
            if ln == 0:
                raise EmptySeriesError(n)
        fields = []
        for n in names:
            dt = infer_series_type(list(data[n]))
            fields.append((n, dt))
        # Int64+Float64 columns must be promoted value-side too
        rows = []
        n_rows = next(iter(lengths.values()), 0)
        for i in range(n_rows):
            row = []
            for n, dt in fields:
                v = data[n][i]
                if v is not None and dt is DataType.FLOAT64:
                    v = float(v)
                row.append(v)
            rows.append(tuple(row))
        return cls(spark.createDataFrame(rows, struct_type(fields)), fields)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str,
                 schema: list[tuple[str, DataType]] | dict[str, DataType] | None = None,
                 delimiter: str = ",") -> "LazyFrame":
        """Schema-required CSV scan with the reference's parsing contract
        (header skipped; ""/"null" -> null; booleans accept t/f/1/0).
        Delegates to sources.csv."""
        from .sources.csv import read_csv

        if schema is None:
            raise SchemaRequiredError("csv")
        return cls(read_csv(spark, path, schema, delimiter))

    @classmethod
    def from_jsonl(cls, spark: SparkSession, path: str,
                   schema: list[tuple[str, DataType]] | dict[str, DataType] | None = None,
                   corrupt_col: str | None = None) -> "LazyFrame":
        """Schema-required line-delimited JSON scan (the CSV contract's
        north-star sibling: no inference pre-scan, missing keys / JSON
        null -> null, malformed lines into corrupt_col not a job kill).
        Delegates to sources.jsonl."""
        from .sources.jsonl import read_jsonl

        if schema is None:
            raise SchemaRequiredError("jsonl")
        return cls(read_jsonl(spark, path, schema, corrupt_col))

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "LazyFrame":
        df, st = scan_typed(spark, path)
        return cls(df, None if st is None else _logical(st))

    @classmethod
    def from_orc(cls, spark: SparkSession, path: str) -> "LazyFrame":
        """ORC scan — the other self-describing columnar lake format;
        Catalyst pushes filters/pruning into it exactly as for parquet
        (asserted in tests/test_plans.py for the roundtrip query)."""
        return cls(spark.read.orc(path))

    # ------------------------------------------------------------------
    # schema access
    # ------------------------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return [n for n, _ in self.logical_schema]

    @property
    def logical_schema(self) -> Schema:
        """(name, logical DataType) pairs; superset Spark types map to
        the nearest logical type or NULL placeholder."""
        if self._schema is None:
            self._schema = _logical(self._df.schema)
        return list(self._schema)

    # ------------------------------------------------------------------
    # operators (reference surface)
    # ------------------------------------------------------------------
    def _as_expr(self, e: "Expr | str") -> Expr:
        return Expr.col(e) if isinstance(e, str) else e

    def select(self, *exprs: "Expr | str") -> "LazyFrame":
        schema = self.logical_schema
        compiled = []
        out = []
        seen: set[str] = set()
        for e in exprs:
            ex = self._as_expr(e)
            ex.validate(schema)
            name = ex.output_name()
            if name in seen:
                raise DuplicateColumnError(name)
            seen.add(name)
            compiled.append(ex.to_spark(schema))
            out.append((name, ex.known_type(schema)))
        known = all(t is not None for _, t in out)
        return LazyFrame(self._df.select(*compiled), out if known else None)

    def filter(self, predicate: Expr) -> "LazyFrame":
        schema = self.logical_schema
        predicate.validate(schema)
        out_t = predicate.output_type(schema)
        if out_t not in (DataType.BOOLEAN, DataType.NULL):
            raise InvalidPredicateError(
                f"predicate must be Boolean, got {out_t.value}")
        return LazyFrame(self._df.filter(predicate._compile(schema)), schema)

    def limit(self, n: int) -> "LazyFrame":
        return LazyFrame(self._df.limit(n), self._schema)

    def inner_join(self, other: "LazyFrame", left_key: str, right_key: str,
                   broadcast_right: bool = False) -> "LazyFrame":
        return self.join(other, left_key, right_key, how="inner",
                         broadcast_right=broadcast_right)

    def join(self, other: "LazyFrame", left_key: str | list[str],
             right_key: str | list[str], how: str = "inner",
             broadcast_right: bool = False,
             null_safe: bool = False) -> "LazyFrame":
        """Join with the reference's logical output contract: left columns,
        then right columns minus the right key(s); right-side name
        collisions get a ``_right`` suffix. Superset: multi-key + all Spark
        join types; the reference supports only single-key inner.

        ``null_safe=True`` matches keys with the reference's null
        semantics — ``Null == Null`` is true (ref series.rs:90), i.e.
        SQL ``IS NOT DISTINCT FROM`` — instead of Spark/SQL three-valued
        logic where null keys never match. Still a hash-partitionable
        equi-join (``<=>`` is a valid shuffle key), so the physical plan
        is identical to the plain equi-join."""
        if how not in _JOIN_TYPES:
            raise InvalidPredicateError(f"unsupported join type {how!r}")
        lks = [left_key] if isinstance(left_key, str) else list(left_key)
        rks = [right_key] if isinstance(right_key, str) else list(right_key)
        if len(lks) != len(rks):
            raise LengthMismatchError("left and right key lists differ in length")
        lschema, rschema = self.logical_schema, other.logical_schema
        ltypes, rtypes = dict(lschema), dict(rschema)
        for lk, rk in zip(lks, rks):
            if lk not in ltypes:
                raise ColumnNotFoundError(lk, list(ltypes))
            if rk not in rtypes:
                raise ColumnNotFoundError(rk, list(rtypes))
            if not comparable(ltypes[lk], rtypes[rk]):
                raise IncompatibleJoinKeysError(lk, ltypes[lk].value, rk, rtypes[rk].value)

        l = self._df.alias("__rvl")
        r = other._df.alias("__rvr")
        if broadcast_right:
            r = F.broadcast(r)
        cond = None
        for lk, rk in zip(lks, rks):
            lc, rc = F.col(f"__rvl.{lk}"), F.col(f"__rvr.{rk}")
            c = lc.eqNullSafe(rc) if null_safe else (lc == rc)
            cond = c if cond is None else (cond & c)
        joined = l.join(r, cond, how)
        if how in ("semi", "anti"):
            return LazyFrame(joined, lschema)
        # for right-preserving joins an unmatched right row carries its
        # key only in the right key column — emitting the bare left key
        # would null it out (silent data loss), so the output key
        # coalesces both sides. Columns kept under their own name are
        # projected by name: a Column per name costs JVM round-trips.
        rk_for_lk = dict(zip(lks, rks)) if how in _RIGHT_PRESERVING else {}
        out_cols: list[Column | str] = []
        out: list[tuple[str, DataType | None]] = []
        for c, t in lschema:
            if c in rk_for_lk:
                rk = rk_for_lk[c]
                out_cols.append(F.coalesce(F.col(f"__rvl.{c}"),
                                           F.col(f"__rvr.{rk}")).alias(c))
                t = _coalesced(t, rtypes[rk])
            else:
                out_cols.append(f"__rvl.{c}")
            out.append((c, t))
        for c, t in rschema:
            if c in rks:
                continue
            if c in ltypes:
                out_cols.append(F.col(f"__rvr.{c}").alias(f"{c}_right"))
                c = f"{c}_right"
            else:
                out_cols.append(f"__rvr.{c}")
            out.append((c, t))
        known = all(t is not None for _, t in out)
        return LazyFrame(joined.select(*out_cols), out if known else None)

    # ------------------------------------------------------------------
    # operators (Spark-native superset)
    # ------------------------------------------------------------------
    def with_column(self, name: str, expr: "Expr | Column") -> "LazyFrame":
        if isinstance(expr, Expr):
            schema = self.logical_schema
            expr.validate(schema)
            expr = expr._compile(schema)
        return LazyFrame(self._df.withColumn(name, expr))

    def with_columns(self, **exprs: "Expr | Column") -> "LazyFrame":
        """Add/replace several columns in ONE projection: every
        expression is compiled against the CURRENT schema (later exprs
        cannot reference earlier new columns — chain with_column for
        that), then applied in a single ``withColumns`` call."""
        schema = None
        compiled: dict[str, Column] = {}
        for name, e in exprs.items():
            if isinstance(e, Expr):
                if schema is None:
                    schema = self.logical_schema
                e.validate(schema)
                e = e._compile(schema)
            compiled[name] = e
        return LazyFrame(self._df.withColumns(compiled))

    def rename(self, mapping: dict[str, str]) -> "LazyFrame":
        for old in mapping:
            if old not in self.columns:
                raise ColumnNotFoundError(old, self.columns)
        new_names = [mapping.get(c, c) for c in self.columns]
        for n in new_names:
            if new_names.count(n) > 1:
                raise DuplicateColumnError(n)
        return LazyFrame(self._df.withColumnsRenamed(mapping))

    def drop(self, *cols: str) -> "LazyFrame":
        for c in cols:
            if c not in self.columns:
                raise ColumnNotFoundError(c, self.columns)
        return LazyFrame(self._df.drop(*cols))

    def explode(self, col_name: str, out_name: str | None = None) -> "LazyFrame":
        """Fan out an array column to one row per element (other
        columns repeat). Null/empty arrays drop the row (SQL UNNEST
        semantics)."""
        if col_name not in self.columns:
            raise ColumnNotFoundError(col_name, self.columns)
        out = out_name or col_name
        others = [c for c in self.columns if c != col_name]
        if out in others:
            raise DuplicateColumnError(out)
        return LazyFrame(self._df.select(
            *others, F.explode(F.col(col_name)).alias(out)))

    def drop_duplicates(self, subset: list[str] | None = None) -> "LazyFrame":
        """Distinct rows; with ``subset``, keeps ONE arbitrary row per
        subset-key group (deterministic pick needs argmax_per_group /
        max_by — document order is not defined in a distributed table)."""
        for c in subset or []:
            if c not in self.columns:
                raise ColumnNotFoundError(c, self.columns)
        return LazyFrame(self._df.dropDuplicates(subset), self._schema)

    def fill_null(self, value: Any, subset: list[str] | None = None) -> "LazyFrame":
        for c in subset or []:
            if c not in self.columns:
                raise ColumnNotFoundError(c, self.columns)
        return LazyFrame(self._df.fillna(value, subset=subset))

    def sort(self, *cols: str, descending: bool | list[bool] = False) -> "LazyFrame":
        if isinstance(descending, bool):
            descending = [descending] * len(cols)
        if len(descending) != len(cols):
            raise LengthMismatchError(
                f"sort got {len(cols)} columns but {len(descending)} "
                "descending flags")
        order = [F.col(c).desc() if d else F.col(c).asc()
                 for c, d in zip(cols, descending)]
        return LazyFrame(self._df.orderBy(*order), self._schema)

    def distinct(self) -> "LazyFrame":
        return LazyFrame(self._df.distinct(), self._schema)

    def union(self, other: "LazyFrame") -> "LazyFrame":
        return LazyFrame(self._df.unionByName(other._df))

    def intersect(self, other: "LazyFrame") -> "LazyFrame":
        """SQL INTERSECT (distinct rows present in both inputs)."""
        return LazyFrame(self._df.intersect(other._df))

    def except_(self, other: "LazyFrame") -> "LazyFrame":
        """SQL EXCEPT (distinct rows of self absent from other)."""
        return LazyFrame(self._df.subtract(other._df))

    def group_by(self, *keys: str) -> "GroupedFrame":
        for k in keys:
            if k not in self.columns:
                raise ColumnNotFoundError(k, self.columns)
        return GroupedFrame(self._df, list(keys))

    # ------------------------------------------------------------------
    # sinks
    # ------------------------------------------------------------------
    def collect(self) -> list[Row]:
        return self._df.collect()

    def collect_streaming(self) -> list[Row]:
        """Incremental analogue of collect(): drives the plan through
        ``toLocalIterator`` (one partition at a time on the driver) and
        concatenates — semantically identical output to collect(),
        including aliases and nulls (fixing the reference's divergences).
        """
        return list(self.stream_batches())

    def stream_batches(self) -> Iterator[Row]:
        """Row iterator over the result, one partition resident at a
        time. Limit early-termination parity (reference
        streaming.rs:268-287 — a limited streaming collect stops the
        pipeline as soon as n rows exist): when the plan is
        limit-rooted this routes through ``collect()``, whose
        executeTake scans partitions incrementally and stops early —
        ``toLocalIterator`` would schedule EVERY partition (measured:
        33 tasks vs 1 for limit 5 over 32 partitions), and the result
        is ≤ n rows by construction so driver memory is already
        bounded. Detection uses the OPTIMIZED LOGICAL root
        (GlobalLimit): the physical root is CollectLimit /
        TakeOrderedAndProject only for shuffle-free plans — under AQE
        any limited query containing an exchange is rooted at
        AdaptiveSparkPlan instead."""
        root = self._df._jdf.queryExecution().optimizedPlan().nodeName()
        if root == "GlobalLimit":
            return iter(self._df.collect())
        return self._df.toLocalIterator(prefetchPartitions=True)

    def write_parquet(self, path: str, mode: str = "error",
                      partition_by: list[str] | None = None) -> None:
        """Parquet sink (superset — the reference has no write paths).
        ``partition_by`` produces hive-style directory partitioning,
        which is what enables partition pruning on re-read at scale.
        Note: partition column types on re-read follow Spark's partition
        inference (numeric/date inferred; anything else, including
        boolean, comes back as string). Delegates to sources.sink so
        the sink contract lives in one place (like from_csv/from_jsonl
        delegate their source contracts)."""
        from .sources import sink

        self._validate_partition_cols(partition_by)
        sink.write_parquet(self._df, path, partition_by=partition_by,
                           mode=mode)

    def write_csv(self, path: str, mode: str = "error",
                  delimiter: str = ",", header: bool = True) -> None:
        """CSV sink with the source contract's null token ("null");
        delegates to sources.sink.write_csv (single contract site)."""
        from .sources import sink

        sink.write_csv(self._df, path, mode=mode, delimiter=delimiter,
                       header=header)

    def write_jsonl(self, path: str, mode: str = "error") -> None:
        """JSON-lines sink (one object per row) — the interchange
        format of most LLM-corpus tooling; round-trips with
        ``from_jsonl``. Delegates to sources.sink.write_jsonl."""
        from .sources import sink

        sink.write_jsonl(self._df, path, mode=mode)

    def write_orc(self, path: str, mode: str = "error",
                  partition_by: list[str] | None = None) -> None:
        """ORC sink; round-trips with ``from_orc`` (same hive
        partitioning semantics as ``write_parquet``). Delegates to
        sources.sink.write_orc."""
        from .sources import sink

        self._validate_partition_cols(partition_by)
        sink.write_orc(self._df, path, partition_by=partition_by,
                       mode=mode)

    def _validate_partition_cols(self,
                                 partition_by: list[str] | None) -> None:
        for c in partition_by or []:
            if c not in self.columns:
                raise ColumnNotFoundError(c, self.columns)

    def to_spark(self) -> DataFrame:
        return self._df

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode=mode)

    def count(self) -> int:
        return self._df.count()


class GroupedFrame:
    """Thin grouped-aggregation facade over Spark's GroupedData."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self._df = df
        self._keys = keys

    def agg(self, *aggs: Column) -> LazyFrame:
        return LazyFrame(self._df.groupBy(*self._keys).agg(*aggs))

    def pivot(self, pivot_col: str, values: list[Any]) -> "PivotedFrame":
        """Pivot ``pivot_col`` into one output column per value.
        ``values`` is required (not sampled): at scale an unlisted
        value set costs an extra distinct pass over the input, and
        explicit values keep the output schema static for Catalyst."""
        if pivot_col not in self._df.columns:
            raise ColumnNotFoundError(pivot_col, self._df.columns)
        return PivotedFrame(self._df, self._keys, pivot_col, values)


class PivotedFrame:
    def __init__(self, df: DataFrame, keys: list[str],
                 pivot_col: str, values: list[Any]):
        self._df = df
        self._keys = keys
        self._pivot_col = pivot_col
        self._values = values

    def agg(self, *aggs: Column) -> LazyFrame:
        return LazyFrame(
            self._df.groupBy(*self._keys)
            .pivot(self._pivot_col, self._values)
            .agg(*aggs))
