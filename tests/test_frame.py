"""Core LazyFrame semantics — ports of the reference's end-to-end tests
(/root/reference/src/logical_plan/builder.rs:433-533 and src/main.rs demo
queries), rewritten against the PySpark-native engine."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from rivulus_spark import (
    ColumnNotFoundError,
    DataType,
    DuplicateColumnError,
    IncompatibleJoinKeysError,
    InvalidPredicateError,
    LazyFrame,
    LengthMismatchError,
    MixedTypesError,
    col,
    lit,
)
from rivulus_spark.expressions.expr import Expr, Op


def rows_as_tuples(rows):
    return [tuple(r) for r in rows]


class TestSelectFilterLimit:
    def test_select_filter(self, people):
        out = people.select("name", "age").filter(col("age") > 30).collect()
        assert sorted((r.name, r.age) for r in out) == [("Charlie", 35), ("Eve", 42)]

    def test_select_alias(self, people):
        out = people.select(col("age").alias("user_age")).collect()
        assert out[0].__fields__ == ["user_age"]

    def test_filter_score_gte(self, people):
        out = people.filter(col("score") >= 90.0).collect()
        assert sorted(r.name for r in out) == ["Bob", "Diana"]

    def test_filter_string_eq(self, people):
        out = people.filter(col("name") == "Alice").collect()
        assert len(out) == 1 and out[0].age == 25

    def test_filter_compound_and(self, people):
        out = people.filter((col("age") > 25) & (col("score") > 90.0)).collect()
        assert sorted(r.name for r in out) == ["Bob", "Diana"]

    def test_limit(self, people):
        assert len(people.limit(2).collect()) == 2

    def test_limit_zero_keeps_schema(self, people):
        out = people.limit(0)
        assert out.collect() == []
        assert out.columns == ["name", "age", "score"]

    def test_limit_over_height(self, people):
        assert len(people.limit(100).collect()) == 5

    def test_no_match_filter(self, people):
        assert people.filter(col("age") > 100).collect() == []

    def test_select_missing_column_raises(self, people):
        with pytest.raises(ColumnNotFoundError):
            people.select("nonexistent")

    def test_filter_missing_column_raises(self, people):
        with pytest.raises(ColumnNotFoundError):
            people.filter(col("salary") > 0)

    def test_duplicate_output_name_raises(self, people):
        with pytest.raises(DuplicateColumnError):
            people.select("age", col("score").alias("age"))

    def test_non_boolean_predicate_raises(self, people):
        with pytest.raises(InvalidPredicateError):
            people.filter(col("age") + 1)


class TestExpressions:
    def test_arithmetic_promotion(self, people):
        out = people.select((col("age") + col("score")).alias("combo"))
        assert out.logical_schema == [("combo", DataType.FLOAT64)]
        vals = sorted(r.combo for r in out.collect())
        assert vals[0] == pytest.approx(25 + 85.5)

    def test_int_int_division_stays_int(self, people):
        out = people.select((col("age") / lit(10)).alias("decade"))
        assert out.logical_schema == [("decade", DataType.INT64)]
        assert sorted(r.decade for r in out.collect()) == [2, 2, 3, 3, 4]

    def test_literal_column_named_literal(self, people):
        out = people.select(lit(1))
        assert out.columns == ["literal"]

    def test_binary_expr_takes_left_name(self, people):
        out = people.select(col("age") + lit(1))
        assert out.columns == ["age"]

    def test_computed_predicate(self, people):
        # the reference's physical planners reject this; we execute it
        out = people.filter((col("age") + 10) > 40).collect()
        assert sorted(r.name for r in out) == ["Charlie", "Eve"]


class TestMemorySource:
    def test_mixed_numeric_promotes(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"x": [1, 2.5, 3]})
        assert lf.logical_schema == [("x", DataType.FLOAT64)]
        assert sorted(r.x for r in lf.collect()) == [1.0, 2.5, 3.0]

    def test_all_null_column(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"x": [None, None]})
        assert lf.logical_schema == [("x", DataType.NULL)]

    def test_mixed_types_raises(self, spark):
        with pytest.raises(MixedTypesError):
            LazyFrame.from_dataframe(spark, {"x": [1, "two"]})

    def test_length_mismatch_raises(self, spark):
        with pytest.raises(LengthMismatchError):
            LazyFrame.from_dataframe(spark, {"x": [1], "y": [1, 2]})

    def test_sort_descending_length_mismatch_raises(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"a": [1, 2], "b": [3, 4]})
        with pytest.raises(LengthMismatchError):
            lf.sort("a", "b", descending=[True])

    def test_nulls_survive(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"x": [1, None, 3]})
        assert lf.logical_schema == [("x", DataType.INT64)]
        assert sorted((r.x is None, r.x) for r in lf.collect())[2] == (True, None)


class TestJoin:
    def test_inner_join_contract(self, users, orders):
        out = users.inner_join(orders, "user_id", "user_id")
        # logical contract: left cols, right minus right key, _right suffix
        assert out.columns == ["user_id", "name", "city", "order_id", "amount"]
        rows = out.collect()
        assert len(rows) == 4  # user 99 dangles, Alice matches twice
        alice = sorted(r.amount for r in rows if r.name == "Alice")
        assert alice == [25.99, 99.99]


    def test_right_preserving_joins_keep_unmatched_right_keys(self, spark):
        """Review r4: unmatched RIGHT rows must keep their join key —
        the output key coalesces both sides for right/outer/full joins
        (the bare left key would be null, silently losing the value)."""
        left = LazyFrame.from_dataframe(spark, {
            "id": [1, 2], "l": ["a", "b"]})
        right = LazyFrame.from_dataframe(spark, {
            "id": [2, 99], "r": ["x", "y"]})
        for how in ("right", "full"):
            out = {r.id: (r.l, r.r) for r in
                   left.join(right, "id", "id", how=how).collect()}
            assert out[99] == (None, "y"), how
            assert out[2] == ("b", "x"), how
        full = left.join(right, "id", "id", how="full").collect()
        assert sorted(r.id for r in full) == [1, 2, 99]

    def test_cross_join_type_rejected(self, spark, users):
        """'cross' with mandatory keys would silently execute as inner
        — reject instead of returning a wrong (smaller) result."""
        from rivulus_spark.errors import InvalidPredicateError

        with pytest.raises(InvalidPredicateError, match="cross"):
            users.join(users, "user_id", "user_id", how="cross")

    def test_null_safe_join_matches_null_keys(self, spark):
        left = LazyFrame.from_dataframe(spark, {
            "k": [1, None, 2], "tag": ["x", "y", "z"]})
        right = LazyFrame.from_dataframe(spark, {
            "k": [None, 2], "val": [40, 20]})
        # SQL semantics: the null key never matches
        plain = left.join(right, "k", "k").collect()
        assert sorted(r.tag for r in plain) == ["z"]
        # reference semantics (series.rs:90: Null == Null is true)
        safe = left.join(right, "k", "k", null_safe=True).collect()
        assert sorted((r.tag, r.val) for r in safe) == [("y", 40), ("z", 20)]

    def test_join_collision_suffix(self, spark, users):
        right = LazyFrame.from_dataframe(spark, {
            "uid": [1, 2], "name": ["A2", "B2"],
        })
        out = users.inner_join(right, "user_id", "uid")
        assert out.columns == ["user_id", "name", "city", "name_right"]

    def test_join_missing_key_raises(self, users, orders):
        with pytest.raises(ColumnNotFoundError):
            users.inner_join(orders, "nope", "user_id")

    def test_join_incompatible_keys_raises(self, spark, users):
        right = LazyFrame.from_dataframe(spark, {"k": ["a", "b"]})
        with pytest.raises(IncompatibleJoinKeysError):
            users.inner_join(right, "user_id", "k")

    def test_join_int_float_keys_ok(self, spark, users):
        right = LazyFrame.from_dataframe(spark, {"k": [1.0, 2.0], "v": [10, 20]})
        out = users.inner_join(right, "user_id", "k")
        assert sorted(r.v for r in out.collect()) == [10, 20]

    def test_join_then_select(self, users, orders):
        out = (users.inner_join(orders, "user_id", "user_id")
               .select("name", "amount")
               .filter(col("amount") > 20.0))
        assert sorted(r.name for r in out.collect()) == ["Alice", "Alice", "Charlie"]


class TestCollectStreaming:
    def test_streaming_matches_collect(self, people):
        q = people.select("name", col("age").alias("years")).filter(col("years") > 26)
        a = sorted(rows_as_tuples(q.collect()))
        b = sorted(rows_as_tuples(q.collect_streaming()))
        assert a == b
        assert q.columns == ["name", "years"]  # aliases kept (ref drops them)

    def test_streaming_keeps_nulls(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"x": [1, None, 3]})
        vals = [r.x for r in lf.collect_streaming()]
        assert None in vals  # ref corrupts nulls to 0 on this path

    def test_streaming_limit_early_out(self, people):
        assert len(people.limit(2).collect_streaming()) == 2

    def test_streaming_limit_terminates_pipeline_early(self, spark):
        """Reference parity (streaming.rs:268-287): a limited streaming
        collect stops the pipeline once n rows exist — it must not
        schedule every input partition. Measured via completed task
        counts: executeTake scans partition 0 first (1 task), while the
        un-special-cased toLocalIterator path schedules all 32."""
        import time

        sc = spark.sparkContext
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup(None) or [])
        lf = LazyFrame.from_spark(spark.range(0, 3200, 1, 32)).limit(5)
        rows = lf.collect_streaming()
        assert len(rows) == 5
        time.sleep(1.0)  # let task-end events land in the status store
        st = sc.statusTracker()
        tasks = 0
        for jid in st.getJobIdsForGroup(None) or []:
            if jid in before:
                continue
            for sid in st.getJobInfo(jid).stageIds:
                si = st.getStageInfo(sid)
                if si:
                    tasks += si.numCompletedTasks
        assert tasks <= 8, f"limited streaming collect ran {tasks} tasks"

    def test_streaming_limit_under_aqe_shuffle(self, spark):
        """A limited plan CONTAINING a shuffle is rooted at
        AdaptiveSparkPlan physically; the limit detection must use the
        optimized logical root (GlobalLimit) so this shape also takes
        the early-terminating collect path."""
        lf = LazyFrame.from_spark(
            spark.range(0, 320, 1, 8).groupBy("id").count()).limit(5)
        assert len(lf.collect_streaming()) == 5

    def test_streaming_partial_iteration(self, spark):
        """stream_batches can be consumed partially and abandoned."""
        it = LazyFrame.from_spark(spark.range(0, 320, 1, 8)).stream_batches()
        got = [next(it) for _ in range(3)]
        assert [r.id for r in got] == [0, 1, 2]


def test_empty_series_rejected(spark):
    from rivulus_spark import EmptySeriesError, LazyFrame

    with pytest.raises(EmptySeriesError, match="zero values"):
        LazyFrame.from_dataframe(spark, {"x": []})


class TestSetOpsAndPivot:
    def test_intersect(self, spark):
        a = LazyFrame.from_dataframe(spark, {"x": [1, 2, 3, 3]})
        b = LazyFrame.from_dataframe(spark, {"x": [2, 3, 4]})
        got = sorted(r.x for r in a.intersect(b).collect())
        assert got == [2, 3]

    def test_except(self, spark):
        a = LazyFrame.from_dataframe(spark, {"x": [1, 2, 2, 3]})
        b = LazyFrame.from_dataframe(spark, {"x": [2]})
        got = sorted(r.x for r in a.except_(b).collect())
        assert got == [1, 3]

    def test_pivot(self, spark):
        lf = LazyFrame.from_dataframe(spark, {
            "k": ["a", "a", "b", "b"],
            "status": ["x", "y", "x", "x"],
            "v": [1, 2, 3, 4],
        })
        out = {r.k: (r.x, r.y) for r in
               lf.group_by("k").pivot("status", ["x", "y"])
               .agg(F.sum("v")).collect()}
        assert out == {"a": (1, 2), "b": (7, None)}

    def test_pivot_unknown_column(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"k": [1]})
        with pytest.raises(ColumnNotFoundError):
            lf.group_by("k").pivot("nope", [1])


class TestFacadeMethods:
    def test_with_columns_and_rename(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"a": [1, 2], "b": [3.0, 4.0]})
        out = (lf.with_columns(c=col("a") + col("b"), d=col("a") * lit(2))
               .rename({"a": "x"}))
        assert out.columns == ["x", "b", "c", "d"]
        rows = out.sort("x").collect()
        assert (rows[0].c, rows[0].d) == (4.0, 2)

    def test_rename_unknown(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"a": [1]})
        with pytest.raises(ColumnNotFoundError):
            lf.rename({"zz": "y"})

    def test_rename_collision_rejected(self, spark):
        """Review r4: renaming onto an existing name must raise the
        engine's eager DuplicateColumnError, not produce a frame with
        two identical columns that fails later as AMBIGUOUS_REFERENCE."""
        from rivulus_spark.errors import DuplicateColumnError

        lf = LazyFrame.from_dataframe(spark, {"a": [1], "b": [2]})
        with pytest.raises(DuplicateColumnError):
            lf.rename({"a": "b"})
        with pytest.raises(DuplicateColumnError):
            lf.rename({"a": "x", "b": "x"})

    def test_explode_out_name_collision_rejected(self, spark):
        from rivulus_spark.errors import DuplicateColumnError

        df = spark.createDataFrame([(1, ["x"])],
                                   "id long, tags array<string>")
        with pytest.raises(DuplicateColumnError):
            LazyFrame.from_spark(df).explode("tags", "id")

    def test_drop(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"a": [1], "b": [2], "c": [3]})
        assert lf.drop("b").columns == ["a", "c"]
        with pytest.raises(ColumnNotFoundError):
            lf.drop("nope")

    def test_explode(self, spark):
        df = spark.createDataFrame([(1, ["x", "y"]), (2, []), (3, None)],
                                   "id long, tags array<string>")
        out = LazyFrame.from_spark(df).explode("tags", "tag")
        got = sorted((r.id, r.tag) for r in out.collect())
        assert got == [(1, "x"), (1, "y")]     # empty/null rows drop

    def test_drop_duplicates_subset(self, spark):
        lf = LazyFrame.from_dataframe(spark, {"k": [1, 1, 2], "v": [9, 8, 7]})
        out = lf.drop_duplicates(["k"]).collect()
        assert sorted(r.k for r in out) == [1, 2]
        assert len(out) == 2

    def test_fill_null(self, spark):
        df = spark.createDataFrame([(1, None), (None, 2.0)],
                                   "a long, b double")
        out = LazyFrame.from_spark(df).fill_null(0, subset=["a"]).collect()
        got = sorted([(r.a, r.b) for r in out], key=repr)
        assert got == sorted([(0, 2.0), (1, None)], key=repr)


def jvm_schema(lf):
    """The logical schema of ``lf`` as read from the JVM."""
    return [(f.name, DataType.from_spark(f.dataType) or DataType.NULL)
            for f in lf.to_spark().schema.fields]


def assert_carries_jvm_schema(lf):
    assert lf._schema is not None, "schema is not carried"
    assert lf._schema == jvm_schema(lf)


def _operands(op):
    """Operand pairs per op, over the ``nums`` columns."""
    if op in (Op.AND, Op.OR):
        return [(col("b"), col("b")), (col("b"), lit(True)),
                (col("i") > 1, col("x") < 0.0)]
    pairs = [(col("i"), col("j")), (col("i"), col("x")),
             (col("x"), col("i")), (col("x"), col("x")),
             (col("i"), lit(2)), (col("x"), lit(2)), (col("i"), lit(2.5)),
             (lit(3), col("j")), (col("i") * col("j"), col("x"))]
    if op in (Op.ADD, Op.SUB, Op.MUL, Op.DIV):
        return pairs
    return pairs + [(col("s"), col("s")), (col("s"), lit("a")),
                    (col("b"), lit(False))]


class TestCarriedSchema:
    """The logical schema a LazyFrame carries equals the one Spark
    derives for the same plan."""

    @pytest.fixture()
    def nums(self, spark):
        return LazyFrame.from_dataframe(spark, {
            "i": [1, 2, None], "j": [3, 0, 5], "x": [1.5, None, -2.0],
            "b": [True, False, None], "s": ["a", "b", None],
            "n": [None, None, None]})

    @pytest.mark.parametrize("op", list(Op), ids=lambda op: op.name)
    def test_select_over_each_op(self, nums, op):
        exprs = [Expr(kind="binary", left=l, op=op, right=r).alias(f"e{k}")
                 for k, (l, r) in enumerate(_operands(op))]
        assert_carries_jvm_schema(nums.select("i", *exprs))

    def test_select_columns_literals_and_aliases(self, nums):
        out = nums.select("s", col("x").alias("y"), lit(1), "n",
                          lit("t").alias("t"), lit(None).alias("z"),
                          (col("i") + col("j")))
        assert out.columns == ["s", "y", "literal", "n", "t", "z", "i"]
        assert_carries_jvm_schema(out)

    @pytest.mark.parametrize("expr", [
        col("s") + lit(1), col("n") * col("i"), lit(None) + col("x"),
        lit(datetime.date(2020, 1, 1))])
    def test_select_spark_coerces_reads_jvm_schema(self, nums, expr):
        out = nums.select(expr.alias("e"))
        assert out._schema is None
        assert out.logical_schema == jvm_schema(out)

    def test_row_operators_pass_schema_through(self, nums):
        out = (nums.filter(col("i") > 0).limit(2).sort("x").distinct()
               .drop_duplicates(["s"]))
        assert_carries_jvm_schema(out)

    def test_parquet_source_carries_its_read_schema(self, spark):
        import os

        from rivulus_spark.workload import DRIVER_SF_DIR

        for f in sorted(os.listdir(DRIVER_SF_DIR)):
            if f.endswith(".parquet"):
                assert_carries_jvm_schema(
                    LazyFrame.from_parquet(spark, f"{DRIVER_SF_DIR}/{f}"))

    @pytest.mark.parametrize("how", [
        "inner", "left", "right", "outer", "full", "semi", "anti"])
    def test_join_schema(self, spark, users, orders, how):
        # int key against int key; collisions: the keys' own names
        assert_carries_jvm_schema(
            users.join(orders, "user_id", "user_id", how=how))
        # int key against float key (right-preserving joins coalesce to
        # Float64); ``name`` and ``city`` collide and take ``_right``
        tags = LazyFrame.from_dataframe(spark, {
            "uid": [1.0, 2.0, 7.0], "name": ["x", "y", "z"],
            "city": ["p", "q", "r"], "city_right": ["u", "v", "w"]})
        assert_carries_jvm_schema(users.join(tags, "user_id", "uid", how=how))
        assert_carries_jvm_schema(users.join(
            tags, ["user_id", "name"], ["uid", "name"], how=how,
            broadcast_right=True, null_safe=True))
