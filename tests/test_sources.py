"""Source/sink tests: the CSV parsing contract (reference:
src/execution/file_stream.rs:59-150 — schema required, header skipped,
""/"null" => null, boolean tokens t/f/1/0), parquet round-trips with
partitioning, SQL-over-views access, and footer-schema parquet scans."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.workloads import WORKLOADS
from rivulus_spark import DataType, LazyFrame, col
from rivulus_spark.errors import ColumnNotFoundError, SchemaRequiredError
from rivulus_spark.sources.tables import register_views, scan
from rivulus_spark.workload import DRIVER_SF_DIR, QUERIES

CSV_SCHEMA = [("id", DataType.INT64), ("name", DataType.STRING),
              ("score", DataType.FLOAT64), ("active", DataType.BOOLEAN)]


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "people.csv"
    p.write_text(
        "id,name,score,active\n"
        "1,Alice,85.5,true\n"
        "2,Bob,,f\n"            # empty score -> null
        "3,null,78.0,1\n"       # literal null name; boolean token 1
        "4,Diana,90.0,0\n"
        "5,Eve,88.0,T\n"        # case-insensitive token
    )
    return str(p)


class TestCsvSource:
    def test_schema_required(self, spark, csv_file):
        with pytest.raises(SchemaRequiredError):
            LazyFrame.from_csv(spark, csv_file)

    def test_parse_contract(self, spark, csv_file):
        rows = {r.id: r for r in
                LazyFrame.from_csv(spark, csv_file, CSV_SCHEMA).collect()}
        assert len(rows) == 5                      # header skipped
        assert rows[2].score is None               # "" -> null
        assert rows[3].name is None                # "null" -> null
        assert [rows[i].active for i in (1, 2, 3, 4, 5)] == \
            [True, False, True, False, True]       # extended bool tokens

    def test_custom_delimiter(self, spark, tmp_path):
        p = tmp_path / "semi.csv"
        p.write_text("id;name\n1;Alice\n2;Bob\n")
        out = LazyFrame.from_csv(
            spark, str(p), [("id", DataType.INT64), ("name", DataType.STRING)],
            delimiter=";").collect()
        assert sorted((r.id, r.name) for r in out) == [(1, "Alice"), (2, "Bob")]

    def test_query_over_csv(self, spark, csv_file):
        out = (LazyFrame.from_csv(spark, csv_file, CSV_SCHEMA)
               .filter(col("score") > 80.0)
               .select("name", col("score").alias("s"))
               .collect())
        assert {r.name for r in out} == {"Alice", "Diana", "Eve"}


JSONL_SCHEMA = [("id", DataType.INT64), ("name", DataType.STRING),
                ("score", DataType.FLOAT64)]


@pytest.fixture()
def jsonl_file(tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "name": "Alice", "score": 85.5, "extra": "ignored"}\n'
        '{"id": 2, "name": null, "score": 70.0}\n'
        '{"id": 3, "name": "Cara"}\n'             # missing key -> null
        '{"id": 4, "name": "Dan", "score": 60.25}\n'
    )
    return str(p)


class TestJsonlSource:
    def test_schema_required(self, spark, jsonl_file):
        with pytest.raises(SchemaRequiredError):
            LazyFrame.from_jsonl(spark, jsonl_file)

    def test_parse_contract(self, spark, jsonl_file):
        rows = {r.id: r for r in
                LazyFrame.from_jsonl(spark, jsonl_file,
                                     JSONL_SCHEMA).collect()}
        assert len(rows) == 4
        assert rows[2].name is None                # JSON null -> null
        assert rows[3].score is None               # missing key -> null
        assert rows[1].score == 85.5
        # keys outside the schema are pruned, not errors
        assert set(rows[1].asDict()) == {"id", "name", "score"}

    def test_corrupt_lines_quarantined(self, spark, tmp_path):
        p = tmp_path / "bad.jsonl"
        p.write_text('{"id": 1, "name": "ok"}\n'
                     'this is not json\n'
                     '{"id": 2, "name": "also ok"}\n')
        out = LazyFrame.from_jsonl(
            spark, str(p), [("id", DataType.INT64),
                            ("name", DataType.STRING)],
            corrupt_col="_bad").collect()
        good = [r for r in out if r._bad is None]
        bad = [r for r in out if r._bad is not None]
        assert {r.id for r in good} == {1, 2}
        assert len(bad) == 1 and "not json" in bad[0]._bad

    def test_query_over_jsonl(self, spark, jsonl_file):
        out = (LazyFrame.from_jsonl(spark, jsonl_file, JSONL_SCHEMA)
               .filter(col("score") > 65.0)
               .select("name", col("score").alias("s"))
               .collect())
        assert {r.s for r in out} == {85.5, 70.0}


class TestSinks:
    def test_parquet_roundtrip_partitioned(self, spark, people, tmp_path):
        out = str(tmp_path / "p")
        people.with_column("bucket", (col("age") > 30)).write_parquet(
            out, partition_by=["bucket"])
        back = LazyFrame.from_parquet(spark, out)
        assert back.count() == 5
        assert sorted(r.name for r in back.collect()) == \
            ["Alice", "Bob", "Charlie", "Diana", "Eve"]
        # partition column produced hive-style directories
        import os
        assert any(d.startswith("bucket=") for d in os.listdir(out))

    def test_parquet_partition_col_validated(self, people, tmp_path):
        with pytest.raises(ColumnNotFoundError):
            people.write_parquet(str(tmp_path / "x"), partition_by=["nope"])

    def test_jsonl_roundtrip(self, spark, tmp_path):
        lf = LazyFrame.from_dataframe(spark, {
            "id": [1, 2], "name": ["Alice", None]})
        out = str(tmp_path / "j")
        lf.write_jsonl(out)
        back = LazyFrame.from_jsonl(
            spark, out, [("id", DataType.INT64), ("name", DataType.STRING)])
        rows = {r.id: r.name for r in back.collect()}
        assert rows == {1: "Alice", 2: None}

    def test_csv_roundtrip_nulls(self, spark, tmp_path):
        lf = LazyFrame.from_dataframe(spark, {
            "id": [1, 2], "name": ["Alice", None]})
        out = str(tmp_path / "c")
        lf.write_csv(out)
        back = LazyFrame.from_csv(
            spark, out, [("id", DataType.INT64), ("name", DataType.STRING)])
        rows = {r.id: r.name for r in back.collect()}
        assert rows == {1: "Alice", 2: None}


def test_sql_over_registered_views(spark):
    register_views(spark, "/root/testdata/sf0.001", ["nation", "region"])
    out = spark.sql("""
        SELECT r.r_name, count(*) AS n
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """).collect()
    assert sum(r.n for r in out) == 25


class TestBucketedTables:
    def test_same_bucket_join_has_no_exchange(self, spark):
        """Two tables bucketed on the join key with equal bucket counts
        must join without shuffling either side (the 100 TB win:
        shuffle paid once at write time, never per query)."""
        from rivulus_spark.sources import bucketed

        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        bucketed.write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                                "b_orders", ["o_orderkey"], 8)
        bucketed.write_bucketed(li.select("l_orderkey", "l_quantity"),
                                "b_lineitem", ["l_orderkey"], 8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a non-broadcast join so bucketing is what's tested
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            bo = bucketed.read_bucketed(spark, "b_orders")
            bl = bucketed.read_bucketed(spark, "b_lineitem")
            joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # and it still computes the right thing
            n = joined.count()
            ref = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
            assert n == ref
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestSaltedJoin:
    def test_salted_join_matches_plain(self, spark):
        from rivulus_spark.operators import skew

        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
            .select("o_orderkey", "o_custkey")
        cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
            .select("c_custkey", "c_name")
        got = sorted((r.o_orderkey, r.c_name) for r in
                     skew.salted_join(orders, cust, "o_custkey",
                                      "c_custkey", n_salts=4).collect())
        ref = sorted((r.o_orderkey, r.c_name) for r in
                     orders.join(cust, orders.o_custkey == cust.c_custkey)
                     .select("o_orderkey", "c_name").collect())
        assert got == ref

    def test_salted_left_join_keeps_unmatched(self, spark):
        from rivulus_spark.operators import skew

        big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        small = spark.createDataFrame([(1, 10.0)], "k long, w double")
        rows = {r.v: r.w for r in
                skew.salted_join(big, small, "k", "k", n_salts=3,
                                 how="left").collect()}
        assert rows == {"a": 10.0, "b": None}


class TestShardExport:
    def test_one_sorted_file_per_shard(self, spark, tmp_path):
        import glob

        from rivulus_spark.sources import shards

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        path = str(tmp_path / "shards")
        shards.export_shards(docs.select("doc_id", "lang"), path, n_shards=4)
        for k in range(4):
            files = glob.glob(f"{path}/shard={k}/*.parquet")
            assert len(files) == 1, f"shard {k}: {files}"
        # stable assignment: pmod(doc_id, 4), files internally sorted
        import pyarrow.parquet as pq

        t = pq.read_table(glob.glob(f"{path}/shard=1/*.parquet")[0])
        ids = t.column("doc_id").to_pylist()
        assert ids == sorted(ids)
        assert all(i % 4 == 1 for i in ids)

    def test_manifest_counts_total(self, spark, tmp_path):
        from rivulus_spark.sources import shards

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        path = str(tmp_path / "m")
        shards.export_shards(docs, path, n_shards=3)
        man = shards.shard_manifest(spark, path)
        assert man.count() == 3
        assert sum(r.n_rows for r in man.collect()) == docs.count()


class TestSchemaEvolution:
    def test_merge_schema_surfaces_late_column(self, spark, tmp_path):
        from rivulus_spark.sources import sink

        path = str(tmp_path / "evo")
        spark.createDataFrame([(1, "en")], "id long, lang string") \
            .write.mode("overwrite").parquet(path)
        spark.createDataFrame([(2, "de", 42)],
                              "id long, lang string, extra long") \
            .write.mode("append").parquet(path)
        merged = sink.read_parquet(spark, path, merge_schema=True)
        assert "extra" in merged.columns
        rows = {r.id: r.extra for r in merged.collect()}
        assert rows == {1: None, 2: 42}


def test_write_bucketed_rejects_unsafe_table_names(spark):
    """ADVICE r3: the table name reaches a SQL string and an rmtree'd
    filesystem path — non-identifier names must be rejected up front."""
    import pytest

    from rivulus_spark.sources import bucketed

    df = spark.range(3)
    for bad in ("../oops", "a/b", "t; DROP TABLE x", "", "1badstart"):
        with pytest.raises(ValueError):
            bucketed.write_bucketed(df, bad, ["id"], 4)


def _arrow_file(tmp_path, name, **columns) -> str:
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table(columns), path)
    return path


ARROW_CASES = {
    "uint8": lambda: {"v": pa.array([1, 255], pa.uint8())},
    "uint64": lambda: {"v": pa.array([1, 2**64 - 1], pa.uint64())},
    "timestamp_utc": lambda: {"v": pa.array([0, None],
                                            pa.timestamp("us", "UTC"))},
    "date_decimal": lambda: {
        "d": pa.array([datetime.date(2020, 1, 1), None]),
        "p": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2))},
    "duration": lambda: {"v": pa.array([1, 2], pa.duration("us"))},
    "null": lambda: {"v": pa.array([None, None], pa.null())},
    "nested": lambda: {"v": pa.array(
        [[{"t": 0, "s": "a"}], None],
        pa.list_(pa.struct([("t", pa.timestamp("us")), ("s", pa.string())])))},
}


class TestScan:
    """``tables.scan`` types a file as Spark's inference does, without
    the inference job."""

    @pytest.mark.parametrize("table", sorted(
        f[:-len(".parquet")] for f in os.listdir(DRIVER_SF_DIR)
        if f.endswith(".parquet")))
    def test_driver_table_schema_is_inferred_schema(self, spark, table):
        path = f"{DRIVER_SF_DIR}/{table}.parquet"
        assert scan(spark, path).schema == spark.read.parquet(path).schema

    @pytest.mark.parametrize("case", sorted(ARROW_CASES))
    def test_arrow_file_schema_is_inferred_schema(self, spark, tmp_path,
                                                  case):
        path = _arrow_file(tmp_path, case, **ARROW_CASES[case]())
        assert scan(spark, path).schema == spark.read.parquet(path).schema
        assert scan(spark, path).collect() == \
            spark.read.parquet(path).collect()

    def test_int96_file_schema_is_inferred_schema(self, spark, tmp_path):
        key = "spark.sql.parquet.outputTimestampType"
        before = spark.conf.get(key)
        spark.conf.set(key, "INT96")
        try:
            spark.sql("SELECT 1L AS id, "
                      "TIMESTAMP'2024-01-02 03:04:05' AS ts") \
                .coalesce(1).write.parquet(str(tmp_path / "int96"))
        finally:
            spark.conf.set(key, before)
        [path] = glob.glob(str(tmp_path / "int96" / "*.parquet"))
        assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
        assert scan(spark, path).schema == spark.read.parquet(path).schema
        assert scan(spark, path).collect() == \
            spark.read.parquet(path).collect()

    @pytest.mark.parametrize("case,message", [
        ("nanos", "PARQUET_TYPE_ILLEGAL"),
        ("not_parquet", "is not a Parquet file")])
    def test_unreadable_file_raises_sparks_error(self, spark, tmp_path,
                                                  case, message):
        if case == "nanos":
            path = _arrow_file(tmp_path, case,
                               v=pa.array([1, 2], pa.timestamp("ns")))
        else:
            path = str(tmp_path / f"{case}.parquet")
            with open(path, "w") as f:
                f.write("not parquet")
        errors = []
        for read in (spark.read.parquet, lambda p: scan(spark, p)):
            with pytest.raises(Exception, match=message) as e:
                read(path)
            errors.append(type(e.value))
        assert errors[0] is errors[1]

    def test_building_relational_queries_starts_no_jobs(self, spark):
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        for name in WORKLOADS["relational"]:
            jobs_before = dag.numTotalJobs()
            QUERIES[name](spark, DRIVER_SF_DIR)
            assert dag.numTotalJobs() == jobs_before, \
                f"building {name} ran a Spark job"


def _count_readers(monkeypatch, spark) -> list:
    """Record every ``spark.read`` of this session's class from now on."""
    made: list = []
    cls = type(spark)
    read = cls.read
    monkeypatch.setattr(cls, "read", property(
        lambda s: made.append(s) or read.fget(s)))
    return made


class TestScanReuse:
    """A footer-typed file is resolved once per session and file
    version; every ``scan`` still returns an independent relation."""

    def test_unchanged_file_builds_no_new_reader(self, spark, tmp_path,
                                                 monkeypatch):
        path = _arrow_file(tmp_path, "t", k=pa.array([1, 2, 3]))
        first = scan(spark, path)
        readers = _count_readers(monkeypatch, spark)
        again = scan(spark, path)
        assert readers == []
        assert again.schema == first.schema
        assert again.collect() == first.collect()

    def test_rewritten_file_is_read_anew(self, spark, tmp_path):
        path = _arrow_file(tmp_path, "t", k=pa.array([1, 2, 3]))

        def read():
            df = scan(spark, path)
            return df.columns, sorted(map(tuple, df.collect()))

        assert read() == (["k"], [(1,), (2,), (3,)])
        pq.write_table(pa.table({"k": pa.array([4, 5]),
                                 "w": pa.array(["a", "b"])}), path)
        assert read() == (["k", "w"], [(4, "a"), (5, "b")])
        # same size: only the modification time tells the versions apart
        before = os.stat(path)
        pq.write_table(pa.table({"j": pa.array([4, 5]),
                                 "w": pa.array(["a", "b"])}), path)
        assert os.stat(path).st_size == before.st_size
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        assert read() == (["j", "w"], [(4, "a"), (5, "b")])

    def test_new_session_never_gets_an_old_relation(self, spark, tmp_path):
        path = _arrow_file(tmp_path, "t", k=pa.array([1, 2, 3]))

        def resolved_in(df):
            return df._jdf.queryExecution().analyzed().relation() \
                .sparkSession()

        assert resolved_in(scan(spark, path)).equals(spark._jsparkSession)
        other = spark.newSession()
        for _ in range(2):
            df = scan(other, path)
            assert df.sparkSession is other
            assert resolved_in(df).equals(other._jsparkSession)
        assert resolved_in(scan(spark, path)).equals(spark._jsparkSession)

    def test_self_join_matches_independent_reads(self, spark, tmp_path):
        path = _arrow_file(tmp_path, "t", k=pa.array([1, 2, 2, None]),
                           v=pa.array(["a", "b", "c", "d"]))

        def joined(a, b):
            out = a.join(b, a.k == b.k)
            return (sorted(map(tuple, out.collect())),
                    sorted(map(tuple, out.select(a.v, b.v).collect())))

        def attributes(df):
            return str(df._jdf.queryExecution().analyzed().output())

        a, b, c = scan(spark, path), scan(spark, path), scan(spark, path)
        assert len({attributes(a), attributes(b), attributes(c)}) == 3
        want = joined(spark.read.parquet(path), spark.read.parquet(path))
        assert len(want[0]) == 5
        assert joined(a, b) == want
        assert joined(b, c) == want

    def test_fixed_schema_and_footer_reads_do_not_mix(self, spark):
        from rivulus_spark.sources.tables import EVENTS_SCHEMA, load_table

        path = f"{DRIVER_SF_DIR}/events.parquet"
        footer = spark.read.parquet(path).schema
        assert footer != EVENTS_SCHEMA
        for _ in range(2):
            assert scan(spark, path).schema == footer
            assert load_table(spark, DRIVER_SF_DIR, "events").schema \
                == EVENTS_SCHEMA
