"""Operator e2e tests on a local session (conformance, incremental, maps,
flatten) — tier 2 of the reference's test strategy (SURVEY.md §5)."""

import datetime

import pytest

from youcruit_tap_rawpostgresql_spark.operators.conform import conform
from youcruit_tap_rawpostgresql_spark.operators.flatten import flatten_struct_columns
from youcruit_tap_rawpostgresql_spark.operators.incremental import (
    apply_replication_filter,
    bookmark_max,
    resolve_starting_bookmark,
)
from youcruit_tap_rawpostgresql_spark.operators.maps import apply_stream_map
from youcruit_tap_rawpostgresql_spark.sources.registry import load_table
from youcruit_tap_rawpostgresql_spark.spec import ColumnSpec, SpecError, StreamSpec
from youcruit_tap_rawpostgresql_spark.state import StateStore


def test_conform_casts_prunes_and_nullfills(spark):
    df = spark.sql("SELECT 'Ichi' AS one, '2' AS two, 3 AS undeclared")
    spec = StreamSpec(
        name="t",
        sql="x",
        columns=[
            ColumnSpec("one", "text"),
            ColumnSpec("two", "int"),
            ColumnSpec("missing", "text"),
        ],
    )
    out = conform(df, spec)
    assert out.columns == ["one", "two", "missing"]
    row = out.first()
    assert row["one"] == "Ichi"
    assert row["two"] == 2  # '2' cast to long
    assert row["missing"] is None


def test_conform_strict_raises_on_missing(spark):
    df = spark.sql("SELECT 1 AS a")
    spec = StreamSpec(name="t", sql="x", columns=[ColumnSpec("b", "int")])
    with pytest.raises(SpecError):
        conform(df, spec, strict=True)


def test_incremental_bookmark_resolution_order():
    spec = StreamSpec(
        name="t",
        sql="x",
        columns=[ColumnSpec("ts", "datetime")],
        replication_key="ts",
        replication_key_value_start="2020-01-01",
    )
    state = StateStore()
    # no state bookmark → config start (reference client.py:274-283)
    assert resolve_starting_bookmark(spec, state) == "2020-01-01"
    # state bookmark wins (reference client.py:272)
    state.set_bookmark(spec.fully_qualified_name, "ts", "2024-06-01")
    assert resolve_starting_bookmark(spec, state) == "2024-06-01"


def test_incremental_no_start_raises():
    spec = StreamSpec(
        name="t",
        sql="x",
        columns=[ColumnSpec("ts", "datetime")],
        replication_key="ts",
    )
    with pytest.raises(SpecError):
        resolve_starting_bookmark(spec, StateStore())


def test_full_table_with_key_requires_start():
    # reference client.py:285-298
    spec = StreamSpec(
        name="t",
        sql="x",
        columns=[ColumnSpec("ts", "datetime")],
        replication_key="ts",
        forced_replication_method="FULL_TABLE",
    )
    with pytest.raises(SpecError):
        resolve_starting_bookmark(spec, None)


def test_replication_filter_and_advance(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1)), (2, datetime.datetime(2024, 3, 1))],
        "id long, ts timestamp",
    )
    spec = StreamSpec(
        name="t",
        sql="x",
        columns=[ColumnSpec("id", "int"), ColumnSpec("ts", "datetime")],
        replication_key="ts",
        replication_key_value_start="2024-02-01 00:00:00",
    )
    filtered = apply_replication_filter(df, spec, "2024-02-01 00:00:00")
    assert [r["id"] for r in filtered.collect()] == [2]
    # the bookmark advances to the max key over the filtered rows
    new_bm = filtered.agg(bookmark_max(filtered, "ts")).first()["mx"]
    assert new_bm == datetime.datetime(2024, 3, 1)


def test_stream_map_full_pipeline(spark):
    df = spark.createDataFrame(
        [(1, "alice@x.com", 10.0), (2, "bob@y.com", 99.0)],
        "id long, email string, amount double",
    )
    out = apply_stream_map(
        df,
        {
            "derive": {"amount_cents": "CAST(amount * 100 AS BIGINT)"},
            "filter": "amount > 50",
            "mask": ["email"],
            "rename": {"id": "user_id"},
            "drop": ["amount"],
        },
    )
    rows = out.collect()
    assert out.columns == ["user_id", "email", "amount_cents"]
    assert len(rows) == 1
    assert rows[0]["amount_cents"] == 9900
    assert len(rows[0]["email"]) == 64  # sha256 hex


def test_flatten_nested_struct(spark):
    df = spark.sql(
        "SELECT 1 AS id, named_struct('b', named_struct('c', 2), 'd', 3) AS a"
    )
    out = flatten_struct_columns(df)
    assert set(out.columns) == {"id", "a__b__c", "a__d"}
    assert out.first()["a__b__c"] == 2


def test_flatten_max_depth(spark):
    df = spark.sql(
        "SELECT 1 AS id, named_struct('b', named_struct('c', 2), 'd', 3) AS a"
    )
    out = flatten_struct_columns(df, max_depth=1)
    assert set(out.columns) == {"id", "a__b", "a__d"}  # a__b stays a struct


def test_state_store_roundtrip(tmp_path):
    path = str(tmp_path / "state.json")
    s = StateStore(path)
    s.set_bookmark("db-public-t", "ts", datetime.datetime(2024, 5, 1, 12, 0))
    s.flush()
    s2 = StateStore(path)
    assert s2.get_bookmark("db-public-t") == "2024-05-01 12:00:00"


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics, actually exercised: the admission filter uses
    the watermark computed at the END of the PREVIOUS micro-batch, so a
    row whose window closed a batch ago is dropped on arrival. The fixture
    stream is a single ordered file, so this builds a three-file arrival
    sequence where file order != event order."""
    import time

    import pyspark.sql.functions as F

    arrivals = [
        # batch 0: on-time rows; watermark after = 10:00 - 1h = 09:00
        [("2024-01-01 00:05:00", 1.0), ("2024-01-01 10:00:00", 2.0)],
        # batch 1: late but within bound (window [09:00,10:00) still open)
        [("2024-01-01 09:30:00", 8.0)],
        # batch 2: 00:10 is a batch behind the watermark -> DROPPED;
        # 11:00 advances the watermark so the 09:00 window finalizes
        [("2024-01-01 00:10:00", 40.0), ("2024-01-01 11:00:00", 4.0)],
    ]
    src = tmp_path / "arrivals"
    src.mkdir()
    for i, batch in enumerate(arrivals):
        spark.createDataFrame(batch, "ts_s string, value double").select(
            F.to_timestamp("ts_s").alias("ts"), "value"
        ).coalesce(1).write.parquet(str(src / f"batch{i}"))
        time.sleep(1.1)  # distinct mod times pin the arrival order

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/batch*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["w"]["start"].strftime("%H:%M"): r["total"]
        for r in spark.table("late_test").collect()
    }
    # 00:00 window finalized at 1.0 — the 40.0 arrived after the window
    # closed and must NOT appear anywhere
    assert rows.get("00:00") == 1.0, rows
    # 09:00 window includes the late-but-in-bound 8.0
    assert rows.get("09:00") == 8.0, rows


def test_streaming_parquet_sink_roundtrip(spark, tmp_path):
    """Streaming windowed aggregate written to a PARQUET sink (append mode
    + checkpoint) must read back equal to the same aggregate computed in
    batch — the file-sink path of the production pipeline (memory sinks
    are test furniture)."""
    import pyspark.sql.functions as F

    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        open_file_stream,
        scoped_stream_partitions,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    stream = open_file_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    out = str(tmp_path / "stream_out")
    with scoped_stream_partitions(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in (
            load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy(
                F.window("ts", "6 hours").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
            .collect()
        )
    }
    # append mode only emits windows the final watermark passed; every
    # emitted window must match batch exactly, and most windows must emit
    assert back, "no windows emitted"
    for k, v in back.items():
        assert batch[k] == v, (k, v, batch.get(k))
    assert len(back) >= len(batch) - 4 * 5  # ≤ last day's windows pending


def test_schema_evolution_mergeschema_then_conform(spark, tmp_path):
    """Source schema drift across syncs (the tap's declared-schema stance,
    reference client.py:144-161): batch 1 lacks a column the source later
    adds, batch 2 carries an extra undeclared column. mergeSchema unions
    the file schemas at read; conformance then projects EXACTLY the
    declared columns — missing → NULL, undeclared → dropped, every kept
    column cast to its declared type."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "drift")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    ).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [(3, "c", 9.5, "oops")],
        "id bigint, name string, score double, undeclared string",
    ).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", True).parquet(d)
    assert set(merged.columns) == {"id", "name", "score", "undeclared"}

    spec = StreamSpec(
        name="drifty",
        sql="SELECT 1",
        columns=[
            ColumnSpec("id", "int"),
            ColumnSpec("name", "string"),
            ColumnSpec("score", "double"),
        ],
    )
    out = conform(merged, spec)
    assert out.columns == ["id", "name", "score"]
    rows = {r["id"]: (r["name"], r["score"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # strict mode still surfaces truly-missing declared columns
    with pytest.raises(SpecError):
        conform(
            merged,
            StreamSpec(
                name="d2", sql="SELECT 1", columns=[ColumnSpec("gone", "int")]
            ),
            strict=True,
        )


def test_stateful_sessionize_across_micro_batches(spark, tmp_path):
    """Cross-batch state continuation, genuinely exercised: the events
    fixture is split into one file per day and streamed with
    maxFilesPerTrigger=1, so the applyInPandasWithState sessionizer sees
    ~30 micro-batches and must carry (last_ts, seq, open_count) state
    between them — including sessions that straddle a midnight file
    boundary. The result must equal the single-pass batch sessionization
    (same rule as the stream_stateful_sessionize oracle)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    from youcruit_tap_rawpostgresql_spark.streaming.stateful import (
        _OUT_SCHEMA,
        _sessionize_group,
    )
    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        scoped_stream_partitions,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "ts"
    )
    # one arrival file per day, named so lexical order == event-time order
    arrivals = str(tmp_path / "arrivals")
    (
        events.withColumn("day", F.date_format("ts", "yyyyMMdd"))
        .repartition(1)
        .sortWithinPartitions("ts", "event_id")
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(arrivals)
    )
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals + "/day=*")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType="last_us long, session_seq long, open_count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with scoped_stream_partitions(spark):
        q = (
            sessions.writeStream.outputMode("update")
            .format("memory")
            .queryName("xbatch_sessions")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = q.lastProgress
    streamed = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in spark.table("xbatch_sessions")
        .groupBy("user_id", "session_seq")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = (
        F.lag("ts").over(w).isNull()
        | ((F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")) > 30 * 60)
    ).cast("long")
    batch = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in events.withColumn(
            "session_seq",
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert streamed == batch
    # the split actually produced a multi-batch run (one per day file)
    assert progress is not None and int(progress["batchId"]) >= 10


def test_stateful_op_on_rocksdb_state_store(spark):
    """The stateful operators must run unchanged on the RocksDB state
    store provider — the production backend once per-key state outgrows
    the JVM heap (SCALE.md: 10^9 users). Same sessionization, same
    result; only the provider conf differs."""
    import pyspark.sql.functions as F

    from youcruit_tap_rawpostgresql_spark.streaming.stateful import (
        run_stateful_sessionize,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        out = run_stateful_sessionize(
            spark, "/root/testdata/sf0.001/events.parquet"
        )
        got = {
            (r["user_id"], r["session_seq"]): r["n_events"] for r in out.collect()
        }
    finally:
        spark.conf.set(key, saved)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = (
        F.lag("ts").over(w).isNull()
        | ((F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")) > 30 * 60)
    ).cast("long")
    want = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in events.withColumn(
            "session_seq",
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_bookmark_key_switch_starts_over():
    """Review finding: switching a stream's replication key must NOT
    reuse the old key's bookmark value (wrong-typed comparison)."""
    state = StateStore()
    state.set_bookmark("db-public-t", "id", 12345)
    assert state.get_bookmark("db-public-t", "id") == 12345
    assert state.get_bookmark("db-public-t", "updated_at") is None
    # unchecked lookup keeps old behavior
    assert state.get_bookmark("db-public-t") == 12345


def test_incremental_filter_applies_without_sql_marker(spark):
    """Review finding: a replication-key stream whose SQL lacks
    :rep_key_val must get the DataFrame-level filter (path b) — not
    silently re-emit the full table while advancing state."""
    import io

    from youcruit_tap_rawpostgresql_spark.spec import TapConfig
    from youcruit_tap_rawpostgresql_spark.sources.registry import register_testdata
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    register_testdata(spark, "/root/testdata/sf0.001")
    spec = StreamSpec(
        name="ev_nofilter",
        sql="SELECT event_id, ts FROM events",  # no :rep_key_val marker
        columns=[
            ColumnSpec("event_id", "int", nullable=False),
            ColumnSpec("ts", "datetime"),
        ],
        key_properties=["event_id"],
        replication_key="ts",
        replication_key_value_start="2024-01-25 00:00:00",
    )
    total = spark.table("events").count()
    tap = SparkTap(TapConfig(streams=[spec]), spark, write=io.StringIO().write)
    res = tap.sync_all()[0]
    assert 0 < res.record_count < total  # filtered, not the full table
    # second sync from the advanced bookmark emits nothing new
    tap2 = SparkTap(
        TapConfig(streams=[spec]), spark, state=tap.state, write=io.StringIO().write
    )
    assert tap2.sync_all()[0].record_count == 0


def test_bookmark_computed_on_premap_frame(spark):
    """Review finding: a stream map that masks the replication key must
    not corrupt the bookmark — state advances from the PRE-map frame."""
    import io

    from youcruit_tap_rawpostgresql_spark.spec import TapConfig
    from youcruit_tap_rawpostgresql_spark.sources.registry import register_testdata
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    register_testdata(spark, "/root/testdata/sf0.001")
    spec = StreamSpec(
        name="ev_masked",
        sql="SELECT event_id, ts FROM events WHERE ts > :rep_key_val",
        columns=[
            ColumnSpec("event_id", "int", nullable=False),
            ColumnSpec("ts", "datetime"),
        ],
        key_properties=["event_id"],
        replication_key="ts",
        replication_key_value_start="2024-01-25 00:00:00",
    )
    config = TapConfig(
        streams=[spec], stream_maps={"ev_masked": {"mask": ["ts"]}}
    )
    out = io.StringIO()
    tap = SparkTap(config, spark, write=out.write)
    res = tap.sync_all()[0]
    assert res.record_count > 0
    bm = tap.state.get_bookmark("spark-public-ev_masked", "ts")
    assert str(bm).startswith("2024-01-3")  # a real timestamp, not sha256 hex
    # emitted records carry the MASKED ts (64-hex), proving map applied
    import json as _json

    recs = [
        _json.loads(ln)
        for ln in out.getvalue().splitlines()
        if _json.loads(ln)["type"] == "RECORD"
    ]
    assert len(recs[0]["record"]["ts"]) == 64


def test_stream_map_config_ref_inside_literal_is_text(spark):
    """`config.key` shapes inside the derive expression's string literals
    are text, not references (round-5 advisory): no KeyError for the
    missing key, and the literal survives verbatim."""
    df = spark.createDataFrame([(1,)], "id long")
    out = apply_stream_map(
        df,
        {"derive": {"note": "concat('see config.docs #', config.tag)"}},
        map_vars={"tag": "v1"},
    )
    assert out.first()["note"] == "see config.docs #v1"


def test_catalog_entry_matches_on_stream_field_alone(spark):
    """A catalog entry whose tap_stream_id matches nothing but whose
    `stream` field names the stream must still apply (round-5 advisory)."""
    from youcruit_tap_rawpostgresql_spark.spec import (
        ColumnSpec,
        StreamSpec,
        TapConfig,
    )
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    spec = StreamSpec(
        name="nums",
        sql="SELECT 1 AS n",
        columns=[ColumnSpec(name="n", type="integer")],
        database="db",
        db_schema="s",
    )
    catalog = {
        "streams": [
            {
                "tap_stream_id": "weird-legacy-format-nums",
                "stream": "nums",
                "metadata": [
                    {"breadcrumb": [], "metadata": {"selected": True}}
                ],
            }
        ]
    }
    tap = SparkTap(TapConfig(streams=[spec]), spark, catalog=catalog)
    assert [s.name for s in tap._effective_streams()] == ["nums"]


def test_catalog_exact_tap_stream_id_beats_stream_field(spark):
    """Singer semantics key on tap_stream_id (round-6 advisory): with two
    schemas exposing same-named tables (both entries stream='users'), each
    spec must pick the entry whose tap_stream_id names IT — never
    first-entry-wins on the bare stream field, which would apply another
    stream's selection/metadata."""
    from youcruit_tap_rawpostgresql_spark.spec import (
        ColumnSpec,
        StreamSpec,
        TapConfig,
    )
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    def spec_for(schema):
        return StreamSpec(
            name="users",
            sql="SELECT 1 AS n",
            columns=[ColumnSpec(name="n", type="integer")],
            database="db",
            db_schema=schema,
        )

    s1, s2 = spec_for("schema1"), spec_for("schema2")
    # entry order adversarial: s2's spec would hit schema1's entry first
    # under stream-field matching
    catalog = {
        "streams": [
            {
                "tap_stream_id": s1.fully_qualified_name,
                "stream": "users",
                "metadata": [
                    {"breadcrumb": [], "metadata": {"selected": False}}
                ],
            },
            {
                "tap_stream_id": s2.fully_qualified_name,
                "stream": "users",
                "metadata": [
                    {"breadcrumb": [], "metadata": {"selected": True}}
                ],
            },
        ]
    }
    tap = SparkTap(TapConfig(streams=[s1, s2]), spark, catalog=catalog)
    eff = tap._effective_streams()
    # schema1's users is deselected by ITS entry; schema2's stays
    assert [s.fully_qualified_name for s in eff] == [s2.fully_qualified_name]


def test_env_config_keeps_string_settings_verbatim(monkeypatch):
    """TAP_RAWPOSTGRESQL_* string-typed settings must never be JSON-coerced:
    password `null` would silently drop the credential (round-5 advisory)."""
    from youcruit_tap_rawpostgresql_spark.cli import _config_from_env

    monkeypatch.setenv("TAP_RAWPOSTGRESQL_PASSWORD", "null")
    monkeypatch.setenv("TAP_RAWPOSTGRESQL_USERNAME", "true")
    monkeypatch.setenv("TAP_RAWPOSTGRESQL_HOST", "007")
    monkeypatch.setenv("TAP_RAWPOSTGRESQL_PORT", "5432")
    monkeypatch.setenv("TAP_RAWPOSTGRESQL_STREAMS", '[{"name": "s"}]')
    cfg = _config_from_env()
    assert cfg["password"] == "null"
    assert cfg["username"] == "true"
    assert cfg["host"] == "007"
    assert cfg["port"] == 5432
    assert cfg["streams"] == [{"name": "s"}]


def test_persist_leak_bounded_across_invocations(spark, sf_dir):
    """Round-8 advisory: operators that persist intermediates must not
    accumulate cached RDDs across repeated invocations in a long-lived
    session. dedup_cascade_report releases its stage caches after
    collecting the 3-row report; dedup_bloom_incremental's flagged frame
    is persist_scoped (one live copy per tag, the previous invocation's
    cache dropped)."""
    from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY

    sf = sf_dir

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # warm once (fills persist_scoped's single slot and any lazy state);
    # the sample spans the converted families: collect-report, Bloom
    # broadcast, LSH signatures, iterative graph edges (round-8: the
    # whole per-invocation cache class moved to persist_scoped)
    cases = [
        "dedup_cascade_report",
        "dedup_bloom_incremental",
        "sim_ann_lsh",
        "graph_pagerank_trade",
    ]
    for c in cases:
        REGISTRY[c].fn(spark, sf).collect()
    base = n_cached()
    for _ in range(2):
        for c in cases:
            REGISTRY[c].fn(spark, sf).collect()
    assert n_cached() <= base  # no growth — the leak class is closed


def test_persist_scoped_drops_previous(spark):
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        _LIVE_PERSISTS,
        persist_scoped,
    )

    a = persist_scoped("t.x", spark.range(10))
    a.count()
    assert a.storageLevel.useMemory
    b = persist_scoped("t.x", spark.range(20))
    b.count()
    # the previous frame under the tag was unpersisted; the new one is live
    assert not a.storageLevel.useMemory
    assert b.storageLevel.useMemory
    assert _LIVE_PERSISTS["t.x"] is b
    b.unpersist()
    del _LIVE_PERSISTS["t.x"]


def test_spread_keyed_skips_exchange_on_wide_input(spark):
    """spread_keyed (r13 opt round): the signature/index builders must
    hash-repartition a single-split fixture across cores but add NO
    exchange when the scan already has >= cores splits — the
    unconditional repartition it replaced shuffled the full corpus
    payload on multi-file production data for nothing (guide §2.4)."""
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        spread_keyed,
    )

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    out = spread_keyed(narrow, "k")
    assert "Exchange hashpartitioning" in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == par
    # rows unchanged either way
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in narrow.collect()
    )

    wide = spark.range(1000).selectExpr("id AS k", "id * 2 AS v").repartition(
        par + 4
    )
    out2 = spread_keyed(wide, "k")
    # the probe says the input already covers the cores: same frame back,
    # no added exchange on top of the input's own plan
    assert out2 is wide


def test_broadcast_scoped_unpersists_previous(spark):
    """broadcast_scoped frees executor copies of the replaced broadcast
    but stays RECOMPUTE-CORRECT (round-8 self-review: destroy() would
    make a stale lazy result from a prior invocation fail on
    re-execution; unpersist re-ships from the driver instead)."""
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        _LIVE_BROADCASTS,
        broadcast_scoped,
    )

    a = broadcast_scoped("t.b", spark, b"x" * 1024)
    b = broadcast_scoped("t.b", spark, b"y" * 1024)
    assert _LIVE_BROADCASTS["t.b"] is b
    assert b.value[:1] == b"y"
    # the replaced broadcast still resolves (driver copy retained) — a
    # stale plan that re-executes re-broadcasts rather than crashing
    assert a.value[:1] == b"x"
    b.unpersist()
    del _LIVE_BROADCASTS["t.b"]


def test_stream_quarantine_file_sink_equals_memory_sink(spark, sf_dir, tmp_path):
    """Round-7 judge directive 6: the streaming verification must not
    depend on the sink. The registry case runs the quarantine through a
    checkpointed PARQUET file sink (the distributed production shape —
    the memory sink collected every micro-batch's band-multiplied pairs
    onto the driver and blew maxResultSize at sf10); this test runs the
    SAME candidate stream through a memory sink and asserts the drained
    reports are identical."""
    import uuid

    from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY
    from youcruit_tap_rawpostgresql_spark.querybank.llm import (
        quarantine_candidate_stream,
        quarantine_report,
    )
    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        drain_memory_sink,
        scoped_stream_partitions,
    )

    file_sink = {
        (r["batch_doc"], r["match_ref"], round(r["best_est"], 9))
        for r in REGISTRY["stream_minhash_quarantine"].fn(spark, sf_dir).collect()
    }

    cand = quarantine_candidate_stream(spark, sf_dir)
    sink = f"quarantine_eq_{uuid.uuid4().hex[:8]}"
    with scoped_stream_partitions(spark):
        q = (
            cand.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    mem_rows = drain_memory_sink(
        spark, sink, quarantine_report(spark.table(sink))
    )
    mem = {
        (r["batch_doc"], r["match_ref"], round(r["best_est"], 9))
        for r in mem_rows.collect()
    }
    assert file_sink == mem
    assert len(file_sink) > 0  # the fixture has real cross-split near-dupes


def test_grouped_map_topk_matches_apply_in_pandas(spark, sf_dir):
    """r14 optimization guard: grouped_map_topk's streaming in-batch
    groupby (repartition-by-key + sortWithinPartitions + mapInPandas)
    must return exactly the rows the original per-group applyInPandas
    form produced — including groups that straddle an Arrow batch
    boundary (exercised below by forcing 1-row batches so EVERY group
    crosses one)."""
    from pyspark.sql import types as T

    from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY
    from youcruit_tap_rawpostgresql_spark.querybank.registry import tables

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("rnk", T.LongType()),
        ]
    )

    def top2(pdf):
        pdf = pdf.sort_values(["value", "event_id"], ascending=[False, True]).head(2)
        pdf = pdf.reset_index(drop=True)
        pdf["rnk"] = pdf.index + 1
        return pdf[["user_id", "event_id", "rnk"]]

    e = tables(spark, sf_dir)["events"]
    reference = sorted(
        tuple(r)
        for r in e.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(top2, out_schema)
        .collect()
    )
    new = sorted(
        tuple(r) for r in REGISTRY["grouped_map_topk"].fn(spark, sf_dir).collect()
    )
    assert new == reference
    assert len(new) > 0

    # batch-boundary robustness: with 1-row Arrow batches every group is
    # split across batches, so the carry path handles 100% of the groups
    old_val = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
        tiny = sorted(
            tuple(r)
            for r in REGISTRY["grouped_map_topk"].fn(spark, sf_dir).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_val)
    assert tiny == reference

    # plan shape: the per-group framing operator is gone — the query runs
    # through MapInPandas over one hash exchange on the group key
    plan = REGISTRY["grouped_map_topk"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan


@pytest.mark.parametrize("batch_rows", ["10000", "1"], ids=["one-batch", "one-row-batches"])
def test_grouped_map_topk_keeps_null_key_group(spark, monkeypatch, batch_rows):
    """A NULL user_id is one group, as in the window form: the batched
    top-2 must keep its rows (pandas ``groupby`` drops NaN keys by
    default), and a NULL group split across Arrow batches must carry over
    whole like any other (``NaN == NaN`` is False)."""
    from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY, extras

    events = spark.createDataFrame(
        [
            (None, 1, 5.0), (None, 2, 9.0), (None, 3, 7.0), (None, 4, 1.0),
            (1, 5, 3.0), (1, 6, 4.0), (1, 7, 2.0), (2, 8, 1.0),
        ],
        "user_id long, event_id long, value double",
    )
    monkeypatch.setattr(extras, "tables", lambda _spark, _sf: {"events": events})
    events.createOrReplaceTempView("topk_null_events")
    old_val = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        want = spark.sql(
            "SELECT user_id, event_id, rnk FROM (SELECT user_id, event_id, "
            "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, "
            "event_id) AS rnk FROM topk_null_events) WHERE rnk <= 2"
        ).collect()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
        got = REGISTRY["grouped_map_topk"].fn(spark, "unused").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_val)
        spark.catalog.dropTempView("topk_null_events")
    assert (None, 2, 1) in {tuple(r) for r in want}
    assert len(got) == len(want) == 5
    assert {tuple(r) for r in got} == {tuple(r) for r in want}
