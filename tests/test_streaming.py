"""Structured Streaming: batch/stream parity for windowed aggregation.

The design contract of rivulus_spark.streaming is that every windowed
transformation produces the SAME result whether its input is a batch
read or a file stream drained with Trigger.AvailableNow — these tests
assert exactly that, using the driver's events table as input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rivulus_spark.streaming import (
    load_events,
    read_event_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """The events table re-laid-out as 3 parquet files so the file
    stream source produces 3 micro-batches (maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("events_stream")
    load_events(spark, EVENTS).repartition(3).write.mode("overwrite") \
        .parquet(str(d / "events"))
    return str(d / "events")


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_parity(spark, event_dir):
    aggs = [F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v")]
    batch = tumbling_agg(spark.read.parquet(event_dir), "ts", "1 hour",
                         aggs, keys=["event_type"])
    stream = tumbling_agg(read_event_stream(spark, event_dir), "ts",
                          "1 hour", aggs, keys=["event_type"],
                          watermark="30 minutes")
    got = run_available_now(stream)
    order = ["window_start", "event_type"]
    assert _rows(got, *order) == _rows(batch, *order)
    assert got.count() > 0


def test_tumbling_requires_watermark(spark, event_dir):
    with pytest.raises(ValueError, match="watermark"):
        tumbling_agg(read_event_stream(spark, event_dir), "ts", "1 hour",
                     [F.count("*").alias("n")])


def test_sliding_parity(spark, event_dir):
    aggs = [F.count("*").alias("n")]
    batch = sliding_agg(spark.read.parquet(event_dir), "ts",
                        "2 hours", "1 hour", aggs, keys=["user_id"])
    stream = sliding_agg(read_event_stream(spark, event_dir), "ts",
                         "2 hours", "1 hour", aggs, keys=["user_id"],
                         watermark="1 hour")
    got = run_available_now(stream)
    order = ["window_start", "user_id"]
    assert _rows(got, *order) == _rows(batch, *order)
    # every event lands in duration/slide = 2 windows
    n_events = spark.read.parquet(event_dir).count()
    assert got.agg(F.sum("n")).collect()[0][0] == 2 * n_events


def test_session_windows(spark, event_dir):
    aggs = [F.count("*").alias("n_events")]
    batch = session_agg(spark.read.parquet(event_dir), "ts", "30 minutes",
                        ["user_id"], aggs)
    # watermark wider than the table's time span: micro-batches arrive
    # in random event-time order here, so any tighter watermark would
    # (correctly) drop stragglers and break exact batch parity
    stream = session_agg(read_event_stream(spark, event_dir), "ts",
                         "30 minutes", ["user_id"], aggs,
                         watermark="60 days")
    got = run_available_now(stream)
    order = ["session_start", "user_id"]
    assert _rows(got, *order) == _rows(batch, *order)
    # sessions never overlap per user and each holds >= 1 event
    assert batch.filter(F.col("n_events") < 1).count() == 0


def test_session_append_emits_watermark_closed_only(spark, tmp_path):
    """Append-mode sessionization contract (r6 VERDICT residue): the
    workload harness drains q_stream_sessionize in COMPLETE mode for
    AvailableNow batch parity; append + watermark eviction is the
    production shape. This pins what append emits: with a TIME-ORDERED
    replay (the workload staging invariant), exactly the sessions the
    final watermark closed (session_end <= max event time - delay) —
    the still-open session stays in state and is withheld."""
    import os
    import shutil
    from datetime import datetime, timezone

    def ts(h, m):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

    # batch 1: two sessions that close long before its max event time,
    # plus a clock event that opens a third; batch 2 extends the third
    # and opens a fourth that never closes below the final watermark
    early = [(1, ts(10, 0)), (1, ts(10, 5)), (2, ts(10, 2)), (3, ts(12, 0))]
    late = [(3, ts(12, 5)), (4, ts(12, 30))]
    d = tmp_path / "sess_stream"
    d.mkdir()

    def stage(rows, name, mtime):
        tmp = tmp_path / f"__{name}"
        (spark.createDataFrame(rows, "user_id long, ts timestamp")
         .coalesce(1).write.mode("overwrite").parquet(str(tmp)))
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = d / f"{name}.parquet"
        shutil.copyfile(tmp / part, dst)
        os.utime(dst, (mtime, mtime))  # FileStreamSource replays by mtime

    stage(early, "a", 1_000_000_000)
    stage(late, "b", 1_000_000_100)

    aggs = [F.count("*").alias("n_events")]
    got = run_available_now(
        session_agg(read_event_stream(spark, str(d)), "ts", "10 minutes",
                    ["user_id"], aggs, watermark="5 minutes"),
        output_mode="append")
    batch = session_agg(spark.read.parquet(str(d)), "ts", "10 minutes",
                        ["user_id"], aggs)
    final_wm = ts(12, 25)  # 12:30 max event time - 5 min delay
    closed = batch.filter(F.col("session_end") <= F.lit(final_wm))
    order = ["user_id", "session_start"]
    assert _rows(got, *order) == _rows(closed, *order)
    assert {r.user_id for r in got.collect()} == {1, 2, 3}  # u4 open


def test_stream_file_plan_two_batch_invariant(tmp_path):
    """The staged file count is even and files_per_trigger is half of
    it, so every replay drains in exactly two micro-batches (an odd
    count would leave a third one-file batch); the sf0.1 sources
    resolve to 4 files, 2 per trigger."""
    import math
    import os

    from rivulus_spark.workload import _stream_file_plan

    for mb in (1, 17, 23, 61, 100, 999):
        f = tmp_path / f"s{mb}"
        f.touch()
        os.truncate(f, mb << 20)
        n, per = _stream_file_plan(str(f))
        assert n % 2 == 0 and per == n // 2 and 4 <= n <= 64
        assert math.ceil(n / per) == 2
    for src in ("/root/testdata/sf0.1/events.parquet",
                "/root/testdata/sf0.1/documents.parquet"):
        assert _stream_file_plan(src) == (4, 2)


def test_append_mode_emits_closed_windows_only(spark, event_dir):
    """Append mode emits a window only after the watermark passes its
    end, and events arriving after that are dropped as late. So every
    emitted window exists in the batch result and its count is <= the
    batch count (equal when no stragglers were dropped — not guaranteed
    here because micro-batches arrive in random event-time order)."""
    aggs = [F.count("*").alias("n")]
    batch = tumbling_agg(spark.read.parquet(event_dir), "ts", "1 hour",
                         aggs, keys=["event_type"])
    stream = tumbling_agg(read_event_stream(spark, event_dir), "ts",
                          "1 hour", aggs, keys=["event_type"],
                          watermark="10 minutes")
    got = run_available_now(stream, output_mode="append")
    batch_map = {(r["window_start"], r["event_type"]): r["n"]
                 for r in batch.collect()}
    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        assert r["n"] <= batch_map[(r["window_start"], r["event_type"])]


# ----------------------------------------------------------------------
# custom stateful operators (applyInPandasWithState)
# ----------------------------------------------------------------------

@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    """documents with a content fingerprint, laid out as 3 files so the
    stream sees 3 micro-batches — duplicates may arrive in a later
    batch than their original, which is exactly what the state store
    must handle."""
    d = tmp_path_factory.mktemp("docs_stream")
    (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
     .select("doc_id", F.md5("text").alias("fp"))
     .repartition(3)
     .write.mode("overwrite").parquet(str(d / "docs")))
    return str(d / "docs")


def test_streaming_dedup_first_seen_wins(spark, doc_dir):
    from rivulus_spark.streaming import streaming_dedup

    stream = (spark.readStream
              .schema(spark.read.parquet(doc_dir).schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(doc_dir))
    got = run_available_now(streaming_dedup(stream), output_mode="append")
    batch = spark.read.parquet(doc_dir)
    # one output row per distinct fingerprint
    assert got.count() == batch.select("fp").distinct().count()
    # keep_id semantics: min doc_id within the key's FIRST micro-batch
    # of arrival, so it belongs to the key's doc_id set; with random
    # file split we can only assert membership, not global min
    ids = {(r.fp, r.keep_id) for r in got.collect()}
    valid = {(r.fp, r.doc_id) for r in batch.collect()}
    assert ids <= valid


def _wm_keyed(df):
    return df.select(
        "user_id", "event_type", "ts",
        F.date_format(F.date_trunc("hour", "ts"),
                      "yyyy-MM-dd HH:00").alias("hour"))


def test_watermark_dedup_matches_batch_distinct(spark, tmp_path):
    """dropDuplicatesWithinWatermark over keys whose in-key duplicate
    spread is bounded below the watermark delay (hour bucket in the
    key, 2h delay) emits exactly the batch DISTINCT key set when the
    replay is TIME-ORDERED (range-partitioned files -> every batch's
    rows are newer than the previous batch's max, so no row is ever
    behind the watermark) — whatever the batch count."""
    from rivulus_spark.streaming import watermark_dedup

    import os

    d = str(tmp_path / "ev_ordered")
    load_events(spark, EVENTS).repartitionByRange(3, F.col("ts")) \
        .write.parquet(d)
    # FileStreamSource replays ascending modification time (ties
    # arbitrary): stamp increasing mtimes in part-name (= time-range)
    # order, as the workload staging does
    for i, f in enumerate(sorted(p for p in os.listdir(d)
                                 if p.startswith("part-"))):
        os.utime(os.path.join(d, f), (os.stat(d).st_mtime + i + 1,) * 2)
    stream = _wm_keyed(read_event_stream(spark, d))
    got = run_available_now(
        watermark_dedup(stream, ["user_id", "event_type", "hour"],
                        ts_col="ts", watermark="2 hours"),
        output_mode="append")
    batch = (_wm_keyed(spark.read.parquet(d))
             .select("user_id", "event_type", "hour").distinct())
    order = ["user_id", "event_type", "hour"]
    assert (_rows(got.select(*order), *order) == _rows(batch, *order))


def test_watermark_dedup_unordered_replay_drops_late(spark, event_dir):
    """The documented engine trade the workload query's time-ordered
    staging exists to avoid: with round-robin (unordered) files every
    micro-batch spans the full time range, so once the watermark
    advances, later batches silently drop their old rows as late and
    keys unique to those rows are lost vs batch DISTINCT."""
    from rivulus_spark.streaming import watermark_dedup

    stream = _wm_keyed(read_event_stream(spark, event_dir))
    got = run_available_now(
        watermark_dedup(stream, ["user_id", "event_type", "hour"],
                        ts_col="ts", watermark="2 hours"),
        output_mode="append")
    n_distinct = (_wm_keyed(spark.read.parquet(event_dir))
                  .select("user_id", "event_type", "hour")
                  .distinct().count())
    assert got.count() < n_distinct


def test_running_totals_final_state_matches_batch(spark, event_dir):
    from rivulus_spark.streaming import running_totals

    stream = read_event_stream(spark, event_dir)
    got = run_available_now(running_totals(stream, "user_id", "value"),
                            output_mode="update")
    # memory sink in update mode appends every emission; the LAST
    # emission per key is the final cumulative state
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    final = (got.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") == 1).select("user_id", "n", "total"))
    batch = (spark.read.parquet(event_dir).groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("total")))
    f = {r.user_id: (r.n, round(r.total, 6)) for r in final.collect()}
    b = {r.user_id: (r.n, round(r.total, 6)) for r in batch.collect()}
    assert f.keys() == b.keys()
    for k in b:
        assert f[k][0] == b[k][0]
        assert abs(f[k][1] - b[k][1]) < 1e-6


def test_enrich_stream_static_join_parity(spark, event_dir):
    """Stream-static enrichment must equal the same join run in batch,
    across micro-batches (dim re-read per batch, no streaming state)."""
    from rivulus_spark.streaming import enrich_stream

    dim = spark.createDataFrame(
        [(i, f"cohort-{i % 3}") for i in range(200)],
        "user_id long, cohort string")

    batch = enrich_stream(load_events(spark, EVENTS), dim,
                          "user_id", "user_id")
    got_batch = (batch.groupBy("cohort")
                 .agg(F.count("*").alias("n"),
                      F.round(F.sum("value"), 2).alias("sv")))

    stream = enrich_stream(read_event_stream(spark, event_dir), dim,
                           "user_id", "user_id")
    agg = (stream.groupBy("cohort")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("sv")))
    got_stream = run_available_now(agg)
    assert _rows(got_batch, "cohort") == _rows(got_stream, "cohort")


def test_interval_join_requires_watermarks(spark, tmp_path):
    from rivulus_spark.streaming import interval_join, read_event_stream

    s = read_event_stream(spark, "/root/testdata/sf0.001/events.parquet")
    p = s.select("event_id", "user_id", "ts")
    with pytest.raises(ValueError, match="watermark"):
        interval_join(p, p, on="user_id", left_time="ts",
                      right_time="ts", lower="-1 hours", upper="0 seconds")


def test_interval_join_stream_matches_batch(spark):
    from rivulus_spark.streaming import (
        interval_join, load_events, read_event_stream, run_available_now,
    )

    def sides(src):
        p = (src.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "ts"))
        v = (src.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "value"))
        return p, v

    kw = dict(on="user_id", left_time="ts", right_time="ts",
              lower="-30 minutes", upper="-1 microseconds")
    bp, bv = sides(load_events(spark, "/root/testdata/sf0.001/events.parquet"))
    batch = {(r.event_id, r.user_id, r.value_r)
             for r in interval_join(bp, bv, **kw).collect()}
    sp, sv = sides(read_event_stream(
        spark, "/root/testdata/sf0.001/events.parquet"))
    j = interval_join(sp, sv, left_watermark="2 hours",
                      right_watermark="2 hours", **kw)
    got = run_available_now(j, output_mode="append")
    stream = {(r.event_id, r.user_id, r.value_r) for r in got.collect()}
    assert stream == batch and len(batch) > 0


def test_event_reads_leave_session_read_confs_alone(spark):
    """Events are typed by their schema, not by session state: after a
    batch and a stream events read, the session's parquet read confs
    hold their prior values and a tz-naive orders date still reads as
    TIMESTAMP_NTZ, while both event frames carry a tz-aware ts."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    s = spark.newSession()
    keys = ["spark.sql.parquet.inferTimestampNTZ.enabled",
            "spark.sql.legacy.parquet.nanosAsLong"]
    before = {k: s.conf.get(k) for k in keys}
    batch = load_events(s, EVENTS)
    stream = read_event_stream(s, EVENTS)

    assert {k: s.conf.get(k) for k in keys} == before
    orders = s.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert isinstance(orders.schema["o_orderdate"].dataType,
                      TimestampNTZType)
    assert isinstance(batch.schema["ts"].dataType, TimestampType)
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


def test_file_sink_drain_is_exactly_once_on_resume(spark, tmp_path):
    """run_available_now_to_files: (a) the drained file sink equals
    the batch result; (b) re-draining with the SAME checkpoint and no
    new input appends NOTHING (the checkpoint manifest, not the
    directory listing, is the source of truth); (c) new staged input
    on the same checkpoint appends exactly the delta."""
    from pyspark.sql import functions as F

    from rivulus_spark.streaming.windows import run_available_now_to_files

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("k")).coalesce(1) \
        .write.parquet(str(src / "f1"))

    def drain():
        stream = (spark.readStream
                  .schema("id long, k long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*"))
        run_available_now_to_files(stream.filter("k < 5"), sink, ckpt)
        return spark.read.schema("id long, k long").parquet(sink)

    assert drain().count() == len([i for i in range(100) if i % 7 < 5])
    n1 = drain().count()  # same checkpoint, no new files
    assert n1 == len([i for i in range(100) if i % 7 < 5])
    spark.range(100, 150).select(
        F.col("id"), (F.col("id") % 7).alias("k")).coalesce(1) \
        .write.parquet(str(src / "f2"))
    n2 = drain().count()
    assert n2 == len([i for i in range(150) if i % 7 < 5])


def _checkpoint_manager(spark, path):
    """The CheckpointFileManager this session's streams use for
    ``path``."""
    jvm = spark._jvm
    return (jvm.org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(
                jvm.org.apache.hadoop.fs.Path(path),
                spark._jsparkSession.sessionState().newHadoopConf()))


def test_local_drain_spawns_no_readlink(spark, event_dir, tmp_path):
    """A windowed drain commits its offset, commit, metadata and state
    files without forking a process per file stat: the session's
    checkpoint manager is the FileSystem-based one, and a JFR
    recording of ``jdk.ProcessStart`` in the driver JVM over one drain
    sees no ``readlink``. (Spark's FileContext manager forks eight per
    committed file on a host without libhadoop.)"""
    import collections
    import os

    assert _checkpoint_manager(spark, str(tmp_path)).getClass() \
        .getSimpleName() == "FileSystemBasedCheckpointFileManager"

    stream = tumbling_agg(read_event_stream(spark, event_dir), "ts",
                          "1 hour", [F.count("*").alias("n")],
                          keys=["event_type"], watermark="30 minutes")
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        got = run_available_now(stream)
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "drain.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    spawned = collections.Counter(
        os.path.basename(e.getString("command").split()[0])
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump))
    assert got.count() > 0
    assert spawned["readlink"] == 0, dict(spawned)


def test_checkpoint_create_atomic_fails_if_exists(spark, tmp_path):
    """The fail-if-exists commit that HDFSMetadataLog relies on for
    exactly-once batches: a second ``createAtomic(p, False)`` on an
    existing file raises on close and the file keeps its first
    content."""
    from py4j.protocol import Py4JJavaError

    fm = _checkpoint_manager(spark, str(tmp_path))
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = fm.createAtomic(path, False)
    first.write(b"first")
    first.close()
    second = fm.createAtomic(path, False)
    second.write(b"second")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_stream_decontaminate_matches_batch_report(spark, tmp_path):
    """r8 in-stream decontamination: the drained Bloom-suspect rows,
    exact-verified at the sink, must reproduce the batch
    contamination_report EXACTLY — the no-false-negative screen plus
    exact verify plus a full AvailableNow drain leaves no room for
    divergence. Also pins the screen's statelessness: the plan drains
    in append mode with no state store (a window or dedup in the
    screen would refuse append mode without watermarks)."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import contamination
    from rivulus_spark.operators.bloom import bloom_build, bloom_dims
    from rivulus_spark.operators.dedup import shingle_rows
    from rivulus_spark.operators.text import word_hash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev_docs = docs.filter(F.col("doc_id") % 10 == 0)

    d = tmp_path / "train_stream"
    train.select("doc_id", "text").repartition(3) \
        .write.mode("overwrite").parquet(str(d))

    ev = (shingle_rows(ev_docs, "text", "doc_id", 3)
          .select(F.col("id").alias("e_id"),
                  word_hash(F.col("s")).alias("h"))).cache()
    m_bits, n_hash = bloom_dims(ev.count())
    bf = bloom_build(ev.select("h"), "h", m_bits, n_hash)

    stream = (spark.readStream
              .schema(spark.read.parquet(str(d)).schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d)))
    suspects = contamination.stream_bloom_suspects(stream, bf, k=3)
    drained = run_available_now(suspects, output_mode="append")
    got = sorted(map(tuple, contamination.report_from_suspects(
        drained, ev).collect()))
    want = sorted(map(tuple, contamination.contamination_report(
        train, ev_docs, k=3).collect()))
    assert got == want and len(got) > 0


def test_drains_leave_no_tables_checkpoints_or_conf(spark, tmp_path):
    """A drain owns its query name, checkpoint and state partitions:
    afterwards the catalog has no memory-sink view, no checkpoint dir
    remains under the temp dir, shuffle.partitions reads its prior
    value, and the returned frame still holds the drained rows. A
    failed drain leaves nothing behind either."""
    import os
    import tempfile

    from pyspark.errors import StreamingQueryException

    from rivulus_spark.streaming.windows import (
        run_available_now_foreach_batch,
    )

    src = str(tmp_path / "src")
    spark.range(0, 30).repartition(3).write.parquet(src)

    def stream():
        return (spark.readStream.schema("id long")
                .option("maxFilesPerTrigger", 1).parquet(src)
                .select((F.col("id") % 3).alias("k")))

    def counts(df):
        return df.groupBy("k").agg(F.count("*").alias("n"))

    def ours():
        return {d for d in os.listdir(tempfile.gettempdir())
                if d.startswith("rivulus_")}

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n_parts = 3 if prev != "3" else 5
    tables0 = {t.name for t in spark.catalog.listTables()}
    dirs0 = ours()

    got = run_available_now(counts(stream()), state_partitions=n_parts)
    partials = run_available_now_foreach_batch(stream(), counts)

    assert {t.name for t in spark.catalog.listTables()} == tables0
    assert ours() == dirs0
    assert spark.conf.get(key) == prev
    want = [(0, 10), (1, 10), (2, 10)]
    assert _rows(got, "k") == want
    assert _rows(partials.groupBy("k").agg(F.sum("n").alias("n")),
                 "k") == want

    calls = []

    def fail_after_probe(df):
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("batch failed")
        return df

    with pytest.raises(StreamingQueryException):
        run_available_now_foreach_batch(stream(), fail_after_probe)
    with pytest.raises(StreamingQueryException):
        run_available_now(
            counts(stream().filter(F.assert_true(F.col("k") < 0).isNull())),
            state_partitions=n_parts)
    assert {t.name for t in spark.catalog.listTables()} == tables0
    assert ours() == dirs0
    assert spark.conf.get(key) == prev


def test_stream_weighted_sample_equals_batch(spark):
    """The A-Res mergeability contract end to end: the drained
    streaming reservoir must be ROW-IDENTICAL to the batch sampler on
    the same corpus (same keys, same floored skeys, same tie-breaks) —
    the property that makes per-shard top-k + final top-k a correct
    distributed weighted sample."""
    from rivulus_spark.workload import QUERIES

    sf = "/root/testdata/sf0.001"
    got = [(r.doc_id, r.skey, r.rank) for r in
           QUERIES["stream_weighted_sample"](spark, sf).collect()]
    want = [(r.doc_id, r.skey, r.rank) for r in
            QUERIES["weighted_sample_tokens"](spark, sf).collect()]
    assert sorted(got) == sorted(want) and len(got) == 100


def test_state_instances_never_exceed_task_slots(spark):
    from rivulus_spark.workload import _stream_state_partitions

    slots = spark.sparkContext.defaultParallelism
    assert _stream_state_partitions(spark, EVENTS, slots + 8) == slots
    assert _stream_state_partitions(spark, EVENTS, 1, rows_per_part=1) \
        == min(32, slots)
