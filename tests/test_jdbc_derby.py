"""Live-database end-to-end sync over JDBC, against embedded Apache Derby.

The reference's whole reason to exist is executing stream SQL on a LIVE
database and streaming the rows out (``client.py:300-304``); its tests
prove the path against real engines — an injected SQLite connection
(``tests/test_sqlite.py:57-89``) and a postgres:14 CI service
(``.github/workflows/ci_workflow.yml:43-51``). No PostgreSQL exists in
this sandbox, but PySpark ships Derby jars, so the SAME sync path —
``read_jdbc_stream`` → conform → stream maps → Singer messages, with the
incremental bookmark bound into the pushed-down query — runs here against
a real embedded SQL engine.

Identifier note: Spark's JDBC writer creates quoted (case-sensitive,
lowercase) columns, so the stream SQL quotes them — exactly what a real
PG deployment with quoted identifiers requires too.
"""

from __future__ import annotations

import io
import json

import pytest

from youcruit_tap_rawpostgresql_spark.spec import (
    ColumnSpec,
    StreamSpec,
    TapConfig,
)
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """An embedded Derby database seeded over Spark's JDBC writer:
    table PEOPLE("id" BIGINT, "score" INT, "name" VARCHAR, "ts" TIMESTAMP),
    ids 0..9, one row per id, ts = 2024-01-01 + id days."""
    db = tmp_path_factory.mktemp("derby") / "db"
    url = f"jdbc:derby:{db};create=true"
    src = spark.range(10).selectExpr(
        "id",
        "cast(id * 10 as int) as score",
        "concat('name-', id) as name",
        "timestampadd(DAY, cast(id as int), timestamp'2024-01-01 00:00:00') as ts",
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "PEOPLE")
        .mode("overwrite")
        .save()
    )
    return url


def _jdbc_cfg(url: str) -> dict:
    return {"jdbc_url": url, "driver": DERBY_DRIVER}


def _live_count(spark, url: str) -> int:
    """Current PEOPLE row count straight from the source — tests that can
    run standalone OR after the append test must not hardcode it."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "PEOPLE")
        .load()
        .count()
    )


def _tap(spark, url, spec, state=None, out=None, **cfg_kw):
    config = TapConfig(streams=[spec], jdbc=_jdbc_cfg(url), **cfg_kw)
    return SparkTap(
        config, spark, state=state or StateStore(),
        write=out.write if out is not None else None,
    )


def test_full_table_sync_live_db(spark, derby_url):
    """FULL_TABLE sync against live Derby: SCHEMA → RECORD* → STATE, rows
    conformed to the declared schema (mirrors reference
    tests/test_sqlite.py:57-89 run against an injected live engine)."""
    spec = StreamSpec(
        name="people",
        sql='SELECT "id", "score", "name" FROM PEOPLE',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        database="derbydb",
    )
    out = io.StringIO()
    tap = _tap(spark, derby_url, spec, out=out)
    res = tap.sync_all()
    assert res[0].record_count == 10
    msgs = [json.loads(line) for line in out.getvalue().splitlines()]
    types = [m["type"] for m in msgs]
    assert types[0] == "SCHEMA" and types[-1] == "STATE"
    assert types.count("RECORD") == 10
    recs = {m["record"]["id"]: m["record"] for m in msgs if m["type"] == "RECORD"}
    assert recs[3] == {"id": 3, "score": 30, "name": "name-3"}


def test_incremental_bookmark_bound_into_pushed_query(spark, derby_url):
    """INCREMENTAL with the ``:rep_key_val`` marker: the bookmark binds as
    a literal INTO the SQL the source engine executes (reference
    client.py:260-304). Proven three ways: the JDBC scan's query text
    contains the bound value, only rows past the bookmark come back, and
    a second sync from the advanced bookmark returns the delta only."""
    spec = StreamSpec(
        name="people_inc",
        sql='SELECT "id", "score" FROM PEOPLE WHERE "id" > :rep_key_val',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=4,
        database="derbydb",
    )
    state = StateStore()
    out = io.StringIO()
    tap = _tap(spark, derby_url, spec, state=state, out=out)

    # the pushed-down relation carries the BOUND predicate — the source
    # engine prunes, not Spark (reference parity: PG executed the WHERE)
    df, _premap, bookmark = tap._prepare(spec)
    assert bookmark == 4
    plan = df._jdf.queryExecution().simpleString()
    assert '"id" > 4' in plan

    res = tap.sync_all()
    assert res[0].record_count == 5  # ids 5..9
    assert res[0].new_bookmark == 9
    ids = sorted(
        json.loads(line)["record"]["id"]
        for line in out.getvalue().splitlines()
        if json.loads(line)["type"] == "RECORD"
    )
    assert ids == [5, 6, 7, 8, 9]
    # state advanced → re-sync is an empty delta, bookmark holds at 9
    assert state.get_bookmark("derbydb-public-people_inc", "id") == 9
    res2 = tap.sync_all()
    assert res2[0].record_count == 0
    assert state.get_bookmark("derbydb-public-people_inc", "id") == 9


def test_incremental_delta_after_source_append(spark, derby_url):
    """New rows landing in the SOURCE between syncs: the next sync
    extracts exactly the delta past the bookmark — the core incremental-
    replication behavior the reference exists to provide."""
    spec = StreamSpec(
        name="people_delta",
        sql='SELECT "id", "score" FROM PEOPLE WHERE "id" > :rep_key_val',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=-1,
        database="derbydb",
    )
    state = StateStore()
    tap = _tap(spark, derby_url, spec, state=state, out=io.StringIO())
    assert tap.sync_all()[0].record_count == 10
    # append ids 10..12 source-side
    (
        spark.range(10, 13)
        .selectExpr(
            "id",
            "cast(id * 10 as int) as score",
            "concat('name-', id) as name",
            "timestampadd(DAY, cast(id as int), "
            "timestamp'2024-01-01 00:00:00') as ts",
        )
        .write.format("jdbc")
        .option("url", derby_url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "PEOPLE")
        .mode("append")
        .save()
    )
    res = tap.sync_all()
    assert res[0].record_count == 3
    assert res[0].new_bookmark == 12


def test_incremental_without_marker_pushes_filter(spark, derby_url):
    """INCREMENTAL with NO ``:rep_key_val`` marker (incremental.py path b):
    the replication predicate applies as a DataFrame filter — and Spark
    pushes it into the JDBC scan (PushedFilters), so the source still
    prunes server-side. Timestamp key: the typed pushdown crosses the
    JDBC boundary without any string-vs-timestamp comparison hazard."""
    spec = StreamSpec(
        name="people_ts",
        sql='SELECT "id", "ts" FROM PEOPLE',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("ts", "timestamp"),
        ],
        key_properties=["id"],
        replication_key="ts",
        replication_key_value_start="2024-01-06 00:00:00",
        database="derbydb",
    )
    tap = _tap(spark, derby_url, spec, out=io.StringIO())
    df, _premap, _bm = tap._prepare(spec)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in physical and "GreaterThan(ts" in physical
    res = tap.sync_all()
    # ts = 2024-01-01 + id days, so ids 6..max qualify; derive the
    # expectation from the live table (10 or 13 rows depending on whether
    # the append test ran first — must not hardcode)
    n_live = _live_count(spark, derby_url)
    assert res[0].record_count == n_live - 6
    last_day = n_live - 1  # max id
    assert res[0].new_bookmark == f"2024-01-{1 + last_day:02d} 00:00:00"


def test_live_record_stream_takes_persisted_path(spark, derby_url, monkeypatch):
    """A JDBC relation reports ``spark.sql.defaultSizeInBytes`` as its
    size estimate, which is over the RECORD collect budget: a live RECORD
    stream streams partition-at-a-time from a persisted snapshot, and its
    bookmark is aggregated over that same snapshot."""
    from youcruit_tap_rawpostgresql_spark import sink
    from youcruit_tap_rawpostgresql_spark import tap as tap_mod

    calls = []
    real = tap_mod.emit_record_messages

    def spy(df, spec, write, collect=None):
        calls.append(collect)
        return real(df, spec, write, collect=collect)

    monkeypatch.setattr(tap_mod, "emit_record_messages", spy)
    persisted = []
    frame_cls = type(spark.range(1))
    real_persist = frame_cls.persist

    def spy_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", spy_persist)
    spec = StreamSpec(
        name="people_live_rec",
        sql='SELECT "id", "ts" FROM PEOPLE WHERE "id" > :rep_key_val',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("ts", "timestamp"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=4,
        database="derbydb",
    )
    out = io.StringIO()
    tap = _tap(spark, derby_url, spec, out=out)
    df, _premap, _bm = tap._prepare(spec)
    assert not sink.fits_record_budget(df)
    res = tap.sync_all()
    assert calls == [False]
    assert len(persisted) == 1
    # 10 or 13 source rows depending on whether the append test ran first
    n_live = _live_count(spark, derby_url)
    assert res[0].record_count == n_live - 5
    assert res[0].new_bookmark == n_live - 1
    recs = [
        json.loads(ln)["record"]
        for ln in out.getvalue().splitlines()
        if json.loads(ln)["type"] == "RECORD"
    ]
    assert sorted(r["id"] for r in recs) == list(range(5, n_live))
    assert {"id": 5, "ts": "2024-01-06T00:00:00+00:00"} in recs


def test_partitioned_parallel_extract(spark, derby_url):
    """Parallel range-partitioned extraction: N executor-side connections
    each pull a bounded key slice (partitionColumn/bounds — the scale-out
    the reference's single-connection architecture cannot do), with no
    row lost or duplicated across slice boundaries."""
    spec = StreamSpec(
        name="people_par",
        sql='SELECT "id", "score" FROM PEOPLE',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
        ],
        key_properties=["id"],
        database="derbydb",
        jdbc_partition={
            "partition_column": "id",
            "num_partitions": 3,
            "lower_bound": 0,
            "upper_bound": 13,
        },
    )
    tap = _tap(spark, derby_url, spec, out=io.StringIO())
    df, _premap, _bm = tap._prepare(spec)
    assert df.rdd.getNumPartitions() == 3
    res = tap.sync_all()
    # exactly-once across slices (count from the live source: 10 or 13
    # depending on whether the append test ran first)
    assert res[0].record_count == _live_count(spark, derby_url)


def test_live_sync_through_batch_export(spark, derby_url, tmp_path):
    """The full production shape end-to-end: live Derby extract → conform
    → stream map (mask PII) → gzip-JSONL batch files → read back equals
    source. One pipeline, every stage real."""
    from youcruit_tap_rawpostgresql_spark.spec import BatchSinkConfig

    spec = StreamSpec(
        name="people_batch",
        sql='SELECT "id", "name" FROM PEOPLE',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        database="derbydb",
    )
    out = io.StringIO()
    config = TapConfig(
        streams=[spec],
        jdbc=_jdbc_cfg(derby_url),
        batch=BatchSinkConfig(root=f"file://{tmp_path}/batches", batch_size=100),
        stream_maps={"people_batch": {"mask": ["name"]}},
    )
    tap = SparkTap(config, spark, state=StateStore(), write=out.write)
    res = tap.sync_all(batch_mode=True)
    n_live = _live_count(spark, derby_url)
    assert res[0].record_count == n_live
    paths = [
        u[len("file://"):] for m in res[0].manifests for u in m.files
    ]
    assert paths
    back = spark.read.schema("id long, name string").json(paths)
    assert back.count() == n_live
    # the mask applied between extract and export: sha256 hex, not names
    a_name = back.select("name").first()["name"]
    assert len(a_name) == 64 and not a_name.startswith("name-")


def test_live_catalog_discovery(spark, derby_url):
    """S9 live-DB introspection, end-to-end: JDBC DatabaseMetaData over
    the embedded Derby connection discovers the seeded table, its columns
    with driver-reported types/nullability, and yields a Singer catalog
    whose generated stream SQL is directly runnable by the live-JDBC sync
    path — discovery output IS a working config."""
    from youcruit_tap_rawpostgresql_spark.catalog import discover_live_catalog

    cat = discover_live_catalog(
        spark, _jdbc_cfg(derby_url), schema_pattern="APP"
    )
    assert len(cat["streams"]) == 1
    entry = cat["streams"][0]
    assert entry["stream"].endswith("-APP-PEOPLE")
    props = entry["schema"]["properties"]
    assert set(props) == {"id", "score", "name", "ts"}
    # driver-reported types mapped into the tap's type vocabulary
    assert props["id"]["type"][-1] in ("integer",)
    assert props["name"]["type"][-1] == "string"
    # the generated SQL round-trips through the live sync path
    spec = StreamSpec(
        name="PEOPLE",
        sql='SELECT * FROM "APP"."PEOPLE"',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
            ColumnSpec("name", "text"),
            ColumnSpec("ts", "timestamp"),
        ],
        key_properties=[],
        database="derbydb",
    )
    tap = _tap(spark, derby_url, spec, out=io.StringIO())
    assert tap.sync_all()[0].record_count == _live_count(spark, derby_url)


def test_cli_discover_live(spark, derby_url, tmp_path, capsys):
    """--discover-live: the CLI introspects the configured live database
    and prints a Singer catalog of its tables — no streams declared in
    config, the source itself is the authority."""
    from youcruit_tap_rawpostgresql_spark.cli import main

    cfg = {"jdbc": _jdbc_cfg(derby_url), "streams": []}
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    assert main(["--config", str(cfg_path), "--discover-live", "APP"]) == 0
    cat = json.loads(capsys.readouterr().out)
    names = [s["stream"] for s in cat["streams"]]
    assert any(n.endswith("-APP-PEOPLE") for n in names)


def test_incremental_string_bookmark_with_quote(spark, derby_url):
    """A string bookmark containing a quote binds into the pushed-down
    query with SQL-STANDARD doubled-quote escaping — the source engine
    (not Spark) parses this text, so spark-style backslash escaping would
    be a syntax error there and an injection surface (code-review
    finding). Start value name-0'x sorts between name-0 and name-1."""
    spec = StreamSpec(
        name="people_str",
        # Spark's writer created "name" as CLOB, which Derby can't compare
        # directly — the cast is Derby's own documented workaround and
        # keeps the predicate (with the bound literal) on the source side
        sql='SELECT "id", "name" FROM PEOPLE '
        'WHERE CAST("name" AS VARCHAR(64)) > :rep_key_val',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        replication_key="name",
        replication_key_value_start="name-0'x",
        database="derbydb",
    )
    tap = _tap(spark, derby_url, spec, out=io.StringIO())
    df, _premap, _bm = tap._prepare(spec)
    plan = df._jdf.queryExecution().simpleString()
    assert "name-0''x" in plan  # standard escaping reached the source
    res = tap.sync_all()
    # everything except name-0 sorts above name-0'x
    assert res[0].record_count == _live_count(spark, derby_url) - 1


def test_explicit_predicate_partitions_live(spark, derby_url):
    """The explicit-predicate parallel read (range_predicates →
    spark.read.jdbc(predicates=...)): each predicate becomes one
    executor-side connection/partition, and the disjoint-complete
    contract means no row is lost or duplicated — including ids OUTSIDE
    [lower, upper), which stride partitioning would clamp into edge
    slices but predicates must catch explicitly."""
    from youcruit_tap_rawpostgresql_spark.sources.jdbc import range_predicates

    preds = [
        p.replace("id", '"id"') for p in range_predicates("id", 2, 8, 3)
    ]
    df = spark.read.jdbc(
        derby_url,
        "PEOPLE",
        predicates=preds,
        properties={"driver": DERBY_DRIVER},
    )
    assert df.rdd.getNumPartitions() == 3
    n_live = _live_count(spark, derby_url)
    rows = df.select("id").collect()
    assert len(rows) == n_live  # complete
    assert len({r["id"] for r in rows}) == n_live  # disjoint


def test_sync_to_jdbc_target_el_loop(spark, derby_url, tmp_path_factory):
    """The full EL loop over JDBC — extract from one live database, LOAD
    into another over DataFrame writes (the BASELINE north star's 'Spark
    JDBC source + DataFrame writes'): full refresh (overwrite), then an
    incremental slice appends only the delta past the bookmark, and the
    target equals the source at the end. Uses its OWN source table
    (PEOPLE_EL): other tests derive expectations from the shared PEOPLE
    table, so this test must not mutate it under any run ordering."""
    (
        spark.range(10)
        .selectExpr("id", "cast(id * 10 as int) as score")
        .write.format("jdbc")
        .option("url", derby_url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "PEOPLE_EL")
        .mode("overwrite")
        .save()
    )
    target_db = tmp_path_factory.mktemp("derby_tgt") / "db"
    target = {
        "jdbc_url": f"jdbc:derby:{target_db};create=true",
        "driver": DERBY_DRIVER,
        "table": "PEOPLE_SINK",
    }
    spec = StreamSpec(
        name="people_el",
        sql='SELECT "id", "score" FROM PEOPLE_EL WHERE "id" > :rep_key_val',
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("score", "int4"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=-1,
        database="derbydb",
    )
    state = StateStore()
    tap = _tap(spark, derby_url, spec, state=state, out=io.StringIO())
    n_live = 10  # this test's own seed — PEOPLE_EL is not shared

    r1 = tap.sync_stream_to_jdbc(spec, target, mode="overwrite")
    assert r1.record_count == n_live
    assert r1.new_bookmark == n_live - 1

    def read_target():
        return (
            spark.read.format("jdbc")
            .option("url", target["jdbc_url"])
            .option("driver", DERBY_DRIVER)
            .option("dbtable", "PEOPLE_SINK")
            .load()
        )

    assert read_target().count() == n_live
    # no new source rows → empty delta appends nothing
    r2 = tap.sync_stream_to_jdbc(spec, target, mode="append")
    assert r2.record_count == 0
    assert read_target().count() == n_live
    # new source rows → exactly the delta lands in the target
    (
        spark.range(100, 103)
        .selectExpr("id", "cast(id * 10 as int) as score")
        .write.format("jdbc")
        .option("url", derby_url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "PEOPLE_EL")
        .mode("append")
        .save()
    )
    r3 = tap.sync_stream_to_jdbc(spec, target, mode="append")
    assert r3.record_count == 3
    assert r3.new_bookmark == 102
    got = read_target()
    assert got.count() == n_live + 3
    assert got.select("id").distinct().count() == n_live + 3


def test_cli_jdbc_target_sync(spark, derby_url, tmp_path, tmp_path_factory):
    """--jdbc-target: the CLI runs the EL loop end-to-end from config —
    extract from the configured live source, load each stream into its
    own fully-qualified-name table in the warehouse, bookmark persisted
    to the state file after the write."""
    from youcruit_tap_rawpostgresql_spark.cli import main

    tgt_db = tmp_path_factory.mktemp("derby_cli_tgt") / "db"
    tgt_url = f"jdbc:derby:{tgt_db};create=true"
    cfg = {
        "database": "derbydb",
        "jdbc": _jdbc_cfg(derby_url),
        "jdbc_target": {"jdbc_url": tgt_url, "driver": DERBY_DRIVER},
        "streams": [
            {
                "name": "people_cli",
                "sql": 'SELECT "id", "score" FROM PEOPLE WHERE "id" > :rep_key_val',
                "columns": [
                    {"name": "id", "type": "int8", "nullable": False},
                    {"name": "score", "type": "int4"},
                ],
                "key_properties": ["id"],
                "replication_key": "id",
                "replication_key_value_start": -1,
            }
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    state_path = tmp_path / "state.json"
    assert (
        main(
            [
                "--config", str(cfg_path),
                "--state", str(state_path),
                "--jdbc-target", "overwrite",
            ]
        )
        == 0
    )
    n_live = _live_count(spark, derby_url)
    loaded = (
        spark.read.format("jdbc")
        .option("url", tgt_url)
        .option("driver", DERBY_DRIVER)
        .option("dbtable", "derbydb_public_people_cli")
        .load()
    )
    assert loaded.count() == n_live
    # the bookmark reached the state FILE (non-idempotent target → the
    # advance must survive a process exit)
    saved = json.loads(state_path.read_text())
    assert (
        saved["bookmarks"]["derbydb-public-people_cli"]["replication_key_value"]
        == n_live - 1
    )


def test_cli_jdbc_target_table_with_two_streams_is_an_error(
    spark, tmp_path, capsys
):
    """--jdbc-target with an explicit jdbc_target.table and two streams
    would load both into one table: the CLI exits with a usage error
    before any stream syncs, so no target database, table or state file
    exists afterwards."""
    from youcruit_tap_rawpostgresql_spark.cli import main

    tgt_db = tmp_path / "tgt"
    stream = {
        "sql": "SELECT id FROM range(3)",
        "columns": [{"name": "id", "type": "int8", "nullable": False}],
    }
    cfg = {
        "jdbc_target": {
            "jdbc_url": f"jdbc:derby:{tgt_db};create=true",
            "driver": DERBY_DRIVER,
            "table": "ONE_TABLE",
        },
        "streams": [{"name": "a", **stream}, {"name": "b", **stream}],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    state_path = tmp_path / "state.json"
    with pytest.raises(SystemExit) as exc:
        main(
            ["--config", str(cfg_path), "--state", str(state_path), "--jdbc-target"]
        )
    assert exc.value.code == 2
    assert "config.jdbc_target.table is set but multiple streams" in (
        capsys.readouterr().err
    )
    assert not tgt_db.exists()  # Derby creates the database on connect
    assert not state_path.exists()


def test_hash_predicate_partitions_live(spark, derby_url):
    """The hash-split parallel read executes LIVE (round-5 directive): the
    ANSI MOD form of hash_predicates runs on Derby and the N slices are
    disjoint-complete — every row lands in exactly one partition. The PG
    `hashtext` form shares the same double-mod bucket structure; its SQL
    text stays pinned by test_sink_tap's string assertion."""
    from youcruit_tap_rawpostgresql_spark.sources.jdbc import hash_predicates

    preds = [
        p.replace("id", '"id"')
        for p in hash_predicates("id", 3, dialect="ansi")
    ]
    df = spark.read.jdbc(
        derby_url,
        "PEOPLE",
        predicates=preds,
        properties={"driver": DERBY_DRIVER},
    )
    assert df.rdd.getNumPartitions() == 3
    n_live = _live_count(spark, derby_url)
    rows = df.select("id").collect()
    assert len(rows) == n_live  # complete
    assert len({r["id"] for r in rows}) == n_live  # disjoint
    # slices genuinely split the table (no empty-bucket degenerate pass)
    sizes = [len(p) for p in df.select("id").rdd.glom().collect()]
    assert sum(1 for s in sizes if s > 0) >= 2
