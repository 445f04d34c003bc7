"""Custom stateful streaming operators via applyInPandasWithState.

These cover semantics the built-in windowed aggregations can't express:
state that must persist across micro-batches per key with user-defined
transition logic. Spark keeps the state in the executor state store
(checkpointed, partitioned by the grouping key), so the operators scale
horizontally — each key's state lives on exactly one partition and the
per-batch work is proportional to the keys touched in that batch.

Operators:
- ``streaming_dedup``: exact first-seen-wins deduplication over an
  unbounded stream — the streaming analogue of
  ``operators.dedup.exact_duplicates``. State per content key is a
  single marker; with a TTL the state store stays bounded (a trade:
  a duplicate arriving after the TTL re-emits).
- ``running_totals``: per-key running count/sum emitted every
  micro-batch — the stateful analogue of the batch window_running
  query.
"""

from __future__ import annotations

import warnings
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: pandas warns on each concat that PySpark's state serializer makes of
#: a group's output and its all-NA padding rows. The concat runs in the
#: Python worker after the state function returns, so the state
#: functions install this filter there, once per task.
_CONCAT_NA = ("The behavior of DataFrame concatenation with empty or "
              "all-NA entries")
_SERIALIZERS = r"pyspark\.sql\.pandas\.serializers"


def streaming_dedup(df: DataFrame, key_col: str = "fp",
                    id_col: str = "doc_id",
                    ttl: str | None = None) -> DataFrame:
    """Emit exactly one row per distinct ``key_col`` across the whole
    stream: (key, keep_id) where keep_id is the smallest ``id_col``
    among that key's rows in its first micro-batch of arrival. Later
    occurrences are swallowed by the per-key state marker.

    ``ttl`` (e.g. "30 days") bounds the state store: the marker for a
    key expires after that long without a new occurrence, so a
    duplicate arriving later re-emits. Unbounded exact dedup keeps
    state forever — at 100 TB feed rates prefer a TTL plus a periodic
    batch compaction of the sink.
    """
    out_schema = StructType([StructField(key_col, StringType()),
                             StructField("keep_id", LongType())])
    state_schema = StructType([StructField("seen", LongType())])
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl
               else GroupStateTimeout.NoTimeout)
    quiet: list[bool] = []

    def fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if not quiet:
            warnings.filterwarnings("ignore", _CONCAT_NA, FutureWarning,
                                    _SERIALIZERS)
            quiet.append(True)
        if state.hasTimedOut:
            state.remove()
            return
        first = None
        for pdf in pdfs:
            # nullable long columns arrive as float64 with NaN for
            # nulls; min() over an all-null group returns NaN and
            # int(NaN) would kill the whole streaming query — skip
            # null ids instead (a key whose ids are all null emits no
            # keep row, matching the batch dedup family's null
            # behavior)
            ids = pdf[id_col].dropna()
            if len(ids):
                mn = int(ids.min())
                first = mn if first is None else min(first, mn)
        fresh = not state.exists
        state.update((1,))
        if ttl:
            state.setTimeoutDuration(ttl)
        if fresh and first is not None:
            yield pd.DataFrame({key_col: [key[0]], "keep_id": [first]})

    return (df.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", timeout))


def running_totals(df: DataFrame, key_col: str = "user_id",
                   value_col: str = "value") -> DataFrame:
    """Per-key cumulative (n, total) across all micro-batches so far,
    one output row per key per micro-batch that touches it."""
    out_schema = StructType([StructField(key_col, LongType()),
                             StructField("n", LongType()),
                             StructField("total", DoubleType())])
    state_schema = StructType([StructField("n", LongType()),
                               StructField("total", DoubleType())])
    quiet: list[bool] = []

    def fn(key: Tuple[int], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if not quiet:
            warnings.filterwarnings("ignore", _CONCAT_NA, FutureWarning,
                                    _SERIALIZERS)
            quiet.append(True)
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return (df.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def watermark_dedup(df: DataFrame, key_cols: list[str],
                    ts_col: str = "ts",
                    watermark: str = "2 hours") -> DataFrame:
    """Engine-managed streaming dedup via
    ``dropDuplicatesWithinWatermark``: one emitted row per distinct
    ``key_cols`` combination, with per-key state automatically evicted
    once the event-time watermark passes — the built-in complement to
    the custom ``streaming_dedup`` (whose applyInPandasWithState state
    grows until an explicit TTL fires).

    At 100 TB feed rates this is the preferred dedup when duplicates
    cluster in event time (retries, at-least-once sources): state is
    bounded by watermark delay x key arrival rate with zero TTL
    bookkeeping, eviction happens in the JVM state store, and no
    Python stage runs at all. The emission guarantee is exactly-once
    only for duplicates arriving within the watermark delay of the
    first occurrence — keys whose duplicates spread wider re-emit
    (the documented engine trade; pick the delay from the source's
    duplicate-lag distribution).

    Callers wanting a batch-deterministic output should dedup on keys
    whose duplicate spread is bounded below the watermark delay by
    construction (e.g. include an event-time bucket in the key), in
    which case the emitted key set equals batch DISTINCT regardless of
    micro-batch boundaries — that is the oracle contract the workload
    query uses.
    """
    return (df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(key_cols))
