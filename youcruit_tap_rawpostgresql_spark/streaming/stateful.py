"""Stateful Structured Streaming operators (SURVEY.md §2.10 extension).

Two sessionization implementations over the events fixture, both driven
through REAL streaming queries (Trigger.AvailableNow, memory sink) so the
micro-batch machinery — state store, watermark, output modes — is actually
exercised, and both defined so their final output equals the batch
sessionization a SQL oracle can compute:

- ``run_session_window_stream``: Spark's built-in ``session_window``
  gap-merge aggregation (the declarative path — state management is the
  engine's).
- ``run_stateful_sessionize``: a custom per-key stateful operator via
  ``applyInPandasWithState`` (the programmable path — the engine hands us
  a GroupState per user and we carry (last_ts, session_seq, open_count)
  across micro-batches). Pattern per the PySpark arbitrary-stateful-ops
  API docs; the reference has no streaming surface at all (SURVEY.md
  §2.10), so this is a pure extension.

Scale: state is per-user O(1) (three longs) — 10^9 users is ~24 GB of
state store spread over executors, well inside RocksDB state-store
territory. Sessions emit incrementally; the MAX-merge in the sink makes
re-emission idempotent, so retries/late batches never double-count.
Correctness across micro-batches assumes per-user time-ordered arrival
(true for file/Kafka sources partitioned by time — the standard log
ingestion layout).
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
    drain_memory_sink,
    open_file_stream,
    scoped_stream_partitions,
)

_GAP_SECONDS = 30 * 60

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("session_seq", LongType()),
        StructField("open_count", LongType()),
    ]
)


def _sessionize_batch(
    user_id: int,
    pdfs: Iterator[pd.DataFrame],
    last_us: "int | None",
    seq: int,
    open_count: int,
) -> Tuple[pd.DataFrame, Tuple[int, int, int]]:
    """The sessionizer core, apart from the state API: continue the open
    session from state, cut a new session on a > 30 min gap, emit every
    session touched in this batch with its count so far (counts only grow
    → MAX-merge downstream). Returns (output frame, new state tuple)."""
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    us = batch["ts"].astype("int64") // 1000  # ns → µs, vectorized

    gap_us = _GAP_SECONDS * 1_000_000
    prev = us.shift(1)
    if last_us is not None:
        prev.iloc[0] = last_us
    # strict > gap starts a new session — identical to the batch oracle
    new_flag = (prev.isna() | ((us - prev) > gap_us)).astype("int64")
    seq_col = new_flag.cumsum() + seq
    counts = seq_col.value_counts().sort_index()
    # the first session of the batch may continue the open one from state
    if last_us is not None and int(new_flag.iloc[0]) == 0:
        counts.iloc[0] += open_count

    out = pd.DataFrame(
        {
            "user_id": [user_id] * len(counts),
            "session_seq": counts.index.astype("int64"),
            "n_events": counts.to_numpy(dtype="int64"),
        }
    )
    return out, (int(us.iloc[-1]), int(counts.index[-1]), int(counts.iloc[-1]))


def _sessionize_group(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState adapter around ``_sessionize_batch``."""
    (user_id,) = key
    if state.exists:
        last_us, seq, open_count = state.get
    else:
        last_us, seq, open_count = None, 0, 0
    out, new_state = _sessionize_batch(user_id, pdfs, last_us, seq, open_count)
    state.update(new_state)
    yield out


def run_stateful_sessionize(spark: SparkSession, events_path: str) -> DataFrame:
    """30-minute-gap sessionization as a custom stateful streaming operator
    (applyInPandasWithState), executed to completion; returns the final
    (user_id, session_seq, n_events) table."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = open_file_stream(spark, events_path).select("user_id", "event_id", "ts")
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"stateful_sessions_{uuid.uuid4().hex[:8]}"
    # NO partition cap here (unlike the JVM-state runners): the cost of
    # this operator is per-group PYTHON work (Arrow framing + pandas per
    # user), which wants every core — the r13 A/B measured 2 parts 19.5 s
    # / 8 parts 5.0 s / 32 parts 4.8 s at sf0.1. The session's own
    # shuffle-partition setting (cores locally, ops-sized on a cluster)
    # is the right width; state-store commit overhead is secondary.
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # MAX-merge re-emissions: a session's count only grows across batches
    out = (
        spark.table(sink)
        .groupBy("user_id", "session_seq")
        .agg(F.max("n_events").alias("n_events"))
    )
    return drain_memory_sink(spark, sink, out)


def run_session_window_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Built-in session_window gap aggregation through a real streaming
    query. Note the boundary difference vs the custom operator: the engine
    starts a new session when gap >= the configured duration (window range
    is [start, last+gap)), so the matching batch semantics are 'gap >= 30
    min cuts' — the fixture has no exact-30-minute gaps, making the two
    definitions coincide there."""
    stream = open_file_stream(spark, events_path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = f"session_win_{uuid.uuid4().hex[:8]}"
    with scoped_stream_partitions(spark, source_path=events_path):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )
    return drain_memory_sink(spark, sink, out)


_EWMA_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)
_EWMA_STATE = StructType(
    [
        StructField("s", DoubleType()),
        StructField("n", LongType()),
    ]
)


def _ewma_group(key, pdfs, state) -> "Iterator[pd.DataFrame]":
    """Per-user EWMA (α = 0.3) carried across micro-batches: the recurrence
    s ← 0.3·v + 0.7·s runs as a Python float64 loop in event-time order —
    the identical IEEE op sequence as the batch array fold and the
    recursive-CTE oracle, so all three agree bit-for-bit."""
    (user_id,) = key
    if state.exists:
        s, n = state.get
    else:
        s, n = None, 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    for v in batch["value"].astype("float64"):
        v = float(v)
        s = v if s is None else 0.3 * v + 0.7 * s
        n += 1
    state.update((float(s), int(n)))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "ewma": [s]})


def run_stateful_ewma(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming EWMA via applyInPandasWithState: one (s, n) state pair per
    user survives across micro-batches; each batch emits the running
    result. The final answer per user is the emission with the highest
    n_events (monotone), making re-emission idempotent.

    Scale: O(1) state per key; the sequential recurrence only ever scans
    each batch once, in arrival order."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = open_file_stream(spark, events_path).select(
        "user_id", "event_id", "ts", "value"
    )
    ewma = stream.groupBy("user_id").applyInPandasWithState(
        _ewma_group,
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"stateful_ewma_{uuid.uuid4().hex[:8]}"
    # no partition cap: per-group Python work wants every core (see
    # run_stateful_sessionize — capping at 2 measured 6.2 s vs 3.9 s wide)
    q = (
        ewma.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.expr("max_by(struct(n_events, ewma), n_events)").alias("st"))
        .select(
            "user_id",
            F.col("st.n_events").alias("n_events"),
            F.round(F.col("st.ewma"), 6).alias("ewma"),
        )
    )
    return drain_memory_sink(spark, sink, final)
