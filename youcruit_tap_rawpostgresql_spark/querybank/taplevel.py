"""Tap-level dataflow query cases: declared-schema conformance, incremental
replication, stream maps, flattening, catalog (SURVEY.md §2.1-2.3, §2.9).

These exercise the engine's own operators (the part of the reference that is
NOT delegated to PostgreSQL) end-to-end through the driver's oracle gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.functions.hashing import hash64
from youcruit_tap_rawpostgresql_spark.operators.conform import conform
from youcruit_tap_rawpostgresql_spark.operators.flatten import flatten_struct_columns
from youcruit_tap_rawpostgresql_spark.operators.incremental import (
    apply_replication_filter,
    resolve_starting_bookmark,
)
from youcruit_tap_rawpostgresql_spark.operators.maps import apply_stream_map
from youcruit_tap_rawpostgresql_spark.querybank.helpers import iso_ts, local_frame
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables
from youcruit_tap_rawpostgresql_spark.spec import ColumnSpec, StreamSpec
from youcruit_tap_rawpostgresql_spark.state import StateStore


@register(
    "tap_conform_schema",
    oracle="""
SELECT CAST(event_id AS BIGINT) AS event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
  event_type,
  CAST(value AS DOUBLE) AS value,
  CAST(NULL AS VARCHAR) AS missing_col
FROM events
""",
)
def tap_conform_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema conformance: cast to declared types, drop undeclared
    columns (props), NULL-fill declared-but-missing columns
    (reference ``client.py:144-161``)."""
    tables(spark, sf_dir)
    spec = StreamSpec(
        name="events_conformed",
        sql="SELECT * FROM events",
        columns=[
            ColumnSpec("event_id", "int", nullable=False),
            ColumnSpec("ts", "datetime"),
            ColumnSpec("event_type", "text", nullable=False),
            ColumnSpec("value", "double"),
            ColumnSpec("missing_col", "text"),
        ],
        key_properties=["event_id"],
    )
    raw = spark.sql(spec.sql)
    out = conform(raw, spec)
    return out.select(
        "event_id", iso_ts("ts", "ts"), "event_type", "value", "missing_col"
    )


@register(
    "tap_incremental_bookmark",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, user_id, value
FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
""",
)
def tap_incremental_bookmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL replication: bookmark resolved from Singer-style state,
    bound as ``:rep_key_val`` into the stream SQL (reference
    ``client.py:260-283``). The filter pushes into the parquet scan."""
    from youcruit_tap_rawpostgresql_spark.plans.executor import run_stream_sql

    tables(spark, sf_dir)
    spec = StreamSpec(
        name="events_inc",
        sql=(
            "SELECT event_id, ts, user_id, value FROM events "
            "WHERE ts > :rep_key_val"
        ),
        columns=[
            ColumnSpec("event_id", "int", nullable=False),
            ColumnSpec("ts", "datetime"),
            ColumnSpec("user_id", "int"),
            ColumnSpec("value", "double"),
        ],
        key_properties=["event_id"],
        replication_key="ts",
        replication_key_value_start="2024-01-01 00:00:00",
    )
    state = StateStore()
    state.set_bookmark(spec.fully_qualified_name, "ts", "2024-01-20 00:00:00")
    bookmark = resolve_starting_bookmark(spec, state)  # state wins over config
    import datetime as _dt

    df = run_stream_sql(
        spark, spec, params={"rep_key_val": _dt.datetime.fromisoformat(bookmark)}
    )
    return df.select("event_id", iso_ts("ts", "ts"), "user_id", "value")


@register(
    "tap_full_table_start",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type
FROM events WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
""",
)
def tap_full_table_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL_TABLE with a declared replication key: the config start value is
    required and applied (reference ``client.py:285-298``), here as a
    DataFrame-level pushed-down filter."""
    tables(spark, sf_dir)
    spec = StreamSpec(
        name="events_ft",
        sql="SELECT event_id, ts, event_type FROM events",
        columns=[
            ColumnSpec("event_id", "int", nullable=False),
            ColumnSpec("ts", "datetime"),
            ColumnSpec("event_type", "text"),
        ],
        key_properties=["event_id"],
        replication_key="ts",
        replication_key_value_start="2024-01-25 00:00:00",
        forced_replication_method="FULL_TABLE",
    )
    bookmark = resolve_starting_bookmark(spec, state=None)
    df = spark.sql(spec.sql)
    df = apply_replication_filter(df, spec, bookmark)
    return df.select("event_id", iso_ts("ts", "ts"), "event_type")


@register(
    "tap_stream_map",
    oracle="""
SELECT event_id AS id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
  sha256(event_type) AS event_type,
  value,
  round(value * 2, 6) AS value_x2
FROM events WHERE value > 50
""",
)
def tap_stream_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream maps (reference R1): derive, filter, mask (sha256), rename,
    drop — all config-driven, all codegen'd columnar expressions."""
    t = tables(spark, sf_dir)
    mapped = apply_stream_map(
        t["events"],
        {
            "derive": {"value_x2": "round(value * 2, 6)"},
            "filter": "value > 50",
            "mask": ["event_type"],
            "rename": {"event_id": "id"},
            "drop": ["props", "user_id"],
        },
    )
    return mapped.select("id", iso_ts("ts", "ts"), "event_type", "value", "value_x2")


@register(
    "tap_flatten",
    oracle="""
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS meta__k,
  user_id AS who__user_id,
  event_type AS who__event_type
FROM events
""",
)
def tap_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema flattening (reference R2): nested structs → ``a__b`` columns.
    Builds nested structs (JSON parse + struct()) then flattens them."""
    t = tables(spark, sf_dir)
    nested = t["events"].select(
        "event_id",
        F.from_json("props", "k bigint").alias("meta"),
        F.struct("user_id", "event_type").alias("who"),
    )
    return flatten_struct_columns(nested)


@register(
    "tap_catalog",
    oracle="""
SELECT * FROM (VALUES
  ('spark-public-events_inc', 'event_id', 'integer', FALSE, TRUE),
  ('spark-public-events_inc', 'ts', 'string', FALSE, FALSE),
  ('spark-public-events_inc', 'note', 'string', TRUE, FALSE),
  ('spark-public-t2', 'one', 'string', FALSE, TRUE),
  ('spark-public-t2', 'two', 'integer', TRUE, FALSE)
) AS t(stream_id, column_name, json_type, nullable, is_key)
""",
)
def tap_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog discovery (Q2): catalog entries derive purely from config —
    no source connection (reference ``tap.py:159-209``; verified by tests
    with an unreachable DB, ``tests/test_postgres.py:58-66``). Emitted here
    as one row per (stream, column) with the JSON-Schema type and the
    required/nullable resolution of ``tap.py:180-183``."""
    specs = [
        StreamSpec(
            name="events_inc",
            sql="SELECT 1",
            columns=[
                ColumnSpec("event_id", "int", nullable=False),
                ColumnSpec("ts", "datetime", nullable=True),
                ColumnSpec("note", "text", nullable=True),
            ],
            key_properties=["event_id"],
            replication_key="ts",  # replication key ⇒ required even if nullable
        ),
        StreamSpec(
            name="t2",
            sql="SELECT 1",
            columns=[
                ColumnSpec("one", "text"),  # key ⇒ required
                ColumnSpec("two", "int", nullable=True),
            ],
            key_properties=["one"],
        ),
    ]
    rows = []
    for s in specs:
        js = s.jsonschema()
        for c in s.columns:
            type_names = js["properties"][c.name]["type"]
            rows.append(
                (
                    s.fully_qualified_name,
                    c.name,
                    [n for n in type_names if n != "null"][0],
                    "null" in type_names,
                    c.name in s.key_properties,
                )
            )
    return local_frame(
        spark,
        rows,
        "stream_id string, column_name string, json_type string, nullable boolean, is_key boolean",
    )


_DERBY_SEEDED: set = set()


@register(
    "tap_jdbc_live_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM orders WHERE o_orderstatus = 'F' AND o_orderkey < 200000
""",
)
def tap_jdbc_live_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL architecture, oracle-gated: stream SQL runs
    INSIDE a live SQL database (embedded Derby — the JDBC engine PySpark
    ships) and rows come back over JDBC through the full tap path
    (``read_jdbc_stream`` → conform), reference ``client.py:300-304``.
    The source is seeded once per (session, SF) from the orders fixture,
    so the DuckDB oracle over the same parquet proves the WHOLE
    write→live-SQL→extract loop lost and invented nothing.

    Scale: the extraction side is Spark's parallel JDBC source
    (partitionable via jdbc_partition); the seed write is test scaffolding
    standing in for the customer's existing database."""
    import tempfile

    from youcruit_tap_rawpostgresql_spark.spec import TapConfig
    from youcruit_tap_rawpostgresql_spark.tap import SparkTap

    # the path is SESSION-scoped (applicationId): embedded Derby allows
    # exactly one JVM per database directory, so a path shared across
    # JVMs makes concurrently running harnesses (a sweep + pytest, two
    # sweeps at one SF) fail each other with lock errors — a real
    # collision hit in round 8. Seeding is per-session anyway
    # (_DERBY_SEEDED is keyed by applicationId), so nothing is lost.
    base = os.path.join(tempfile.gettempdir(), "spark_graft_derby")
    app_id = spark.sparkContext.applicationId
    # bound the accumulation: session dirs are never reused after their
    # JVM exits, so prune SIBLING app dirs past a grace period (mirrors
    # the batch-sink orphan sweep; grace covers any long-running
    # concurrent harness whose dir must not be yanked mid-query)
    import shutil
    import time as _time

    def _newest_mtime(root: str) -> float:
        """Liveness gauge for a sibling app dir: the newest mtime ANYWHERE
        under it. Derby writes land in nested db files (db.lck, log/*) and
        do NOT refresh the top-level dir's mtime — gauging on the top dir
        alone could rmtree a LIVE database out from under a >6h concurrent
        harness, reintroducing the lock-corruption class this prune fixed
        (round-8 advisory)."""
        newest = 0.0
        try:
            newest = os.path.getmtime(root)
        except OSError:
            pass
        for dirpath, _dirs, files in os.walk(root):
            for name in files + [""]:
                try:
                    m = os.path.getmtime(os.path.join(dirpath, name))
                except OSError:
                    continue
                if m > newest:
                    newest = m
        return newest

    try:
        for d in os.listdir(base):
            p = os.path.join(base, d)
            if d != app_id and _time.time() - _newest_mtime(p) > 6 * 3600:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    db = os.path.join(
        base,
        app_id,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
        "db",
    )
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    seed_key = (spark.sparkContext.applicationId, db)
    if seed_key not in _DERBY_SEEDED:
        o = tables(spark, sf_dir)["orders"]
        (
            # seed a BOUNDED slice (a no-op at the driver fixtures, whose
            # keys stay under 200k): the live-source stand-in's one-time
            # load is eval-environment setup, not the engine under test,
            # and an uncapped sf1 seed cost 40s of pure Derby inserts
            o.filter(F.col("o_orderkey") < 200_000)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.format("jdbc")
            .option("url", url)
            .option("driver", driver)
            .option("dbtable", "ORDERS_SRC")
            # Derby maps Spark STRING to CLOB by default, and CLOB = 'F'
            # isn't comparable there — declare a real varchar
            .option("createTableColumnTypes", "o_orderstatus VARCHAR(2)")
            .mode("overwrite")
            .save()
        )
        _DERBY_SEEDED.add(seed_key)
    spec = StreamSpec(
        name="orders_live",
        sql='SELECT "o_orderkey", "o_totalprice" FROM ORDERS_SRC '
        "WHERE \"o_orderstatus\" = 'F'",
        columns=[
            ColumnSpec("o_orderkey", "int8", nullable=False),
            ColumnSpec("o_totalprice", "float8"),
        ],
        key_properties=["o_orderkey"],
    )
    tap = SparkTap(
        TapConfig(streams=[spec], jdbc={"jdbc_url": url, "driver": driver}),
        spark,
        state=StateStore(),
    )
    df, _premap, _bm = tap._prepare(spec)
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_price"),
    )


def _scratch_export_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(kind, SF) scratch dir, WIPED before reuse — a
    uuid-per-run dir leaks a full gzip export copy on every registry/bench
    invocation; this bounds disk to one live export per kind+SF. Safe to
    wipe: the registry runs cases sequentially, so any prior DataFrame
    over these files has finished collecting."""
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        kind,
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root



@register(
    "tap_batch_export_roundtrip",
    headline=True,
    oracle="""
SELECT COUNT(*) AS n_records,
  COUNT(DISTINCT l_orderkey) AS n_orders,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM lineitem
""",
)
def tap_batch_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core job, measured end-to-end: export lineitem as
    rotated gzip-JSONL batch files (reference S5/S6, `client.py:185-245`),
    then RE-READ the produced files and aggregate — the oracle computes
    the same aggregate from the parquet source, so a record lost, duplicated,
    or corrupted anywhere in the write→manifest→read cycle fails the hash.

    Scale: the export is a straight parallel write (each task rotates at
    batch_size); no coalesce, no driver involvement — throughput is the
    gzip+JSON encode rate times task parallelism."""
    from youcruit_tap_rawpostgresql_spark.sink import write_batch_files
    from youcruit_tap_rawpostgresql_spark.spec import (
        BatchSinkConfig,
        ColumnSpec,
        StreamSpec,
    )

    li = tables(spark, sf_dir)["lineitem"]
    out_root = _scratch_export_dir("spark_graft_export", sf_dir)
    spec = StreamSpec(
        name="lineitem_export",
        sql="SELECT * FROM lineitem",
        columns=[ColumnSpec("l_orderkey", "int8"), ColumnSpec("l_quantity", "float8")],
    )
    manifests = write_batch_files(
        li.select("l_orderkey", "l_quantity"),
        spec,
        BatchSinkConfig(root=out_root, batch_size=100_000),
    )
    paths = [f.replace("file://", "") for m in manifests for f in m.files]
    # read back with the DECLARED schema (what a Singer consumer has from
    # the SCHEMA message) — schema inference would re-scan every gzip
    # file a second time, and measured ~0.7 s of the ~2 s r3 bench time
    back = spark.read.schema("l_orderkey long, l_quantity double").json(paths)
    agg = back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_qty"),
    )
    # materialize the 1-row aggregate, then delete the export tree —
    # repeated invocations (bench best-of-3, sweeps) would otherwise
    # accumulate a full lineitem export under /tmp per call
    import shutil

    rows = agg.collect()
    shutil.rmtree(out_root, ignore_errors=True)
    return local_frame(spark, rows, agg.schema)


@register(
    "tap_conform_quarantine",
    # try_cast has identical semantics in Spark and DuckDB: NULL on
    # failure, value on success — the dead-letter split is therefore
    # bit-deterministic. The fixture's props.k is ALWAYS numeric (a pure
    # try_cast would quarantine nothing — vacuous), so a deterministic 1/7
    # of rows carries the legacy non-numeric value instead
    oracle="""
WITH raw AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN event_type
         ELSE json_extract_string(props, '$.k') END AS raw_k
  FROM events
)
SELECT
  COUNT(*) FILTER (WHERE TRY_CAST(raw_k AS INTEGER) IS NOT NULL) AS n_good,
  COUNT(*) FILTER (WHERE TRY_CAST(raw_k AS INTEGER) IS NULL)
    AS n_quarantined,
  CAST(SUM(TRY_CAST(raw_k AS INTEGER)) AS BIGINT) AS sum_good_k
FROM raw
""",
)
def tap_conform_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter conformance: instead of failing the sync on a bad value
    (the reference raises on unconformable records), `try_cast` routes
    failures to a quarantine count while good rows flow on — the
    production-ELT split the raw tap cannot express.

    Scale: map-only conditional aggregation in one pass; the quarantine
    branch in a real sink is the same predicate writing to a second path."""
    e = tables(spark, sf_dir)["events"]
    raw_k = F.when(
        F.col("event_id") % 7 == 0, F.col("event_type")
    ).otherwise(F.expr("get_json_object(props, '$.k')"))
    k_int = F.expr("try_cast(raw_k AS int)")
    return (
        e.select("event_id", raw_k.alias("raw_k"))
        .agg(
            F.count(F.when(k_int.isNotNull(), 1)).alias("n_good"),
            F.count(F.when(k_int.isNull(), 1)).alias("n_quarantined"),
            F.sum(k_int).cast("bigint").alias("sum_good_k"),
        )
    )


@register(
    "tap_backfill_chunks",
    # chunk boundaries from integer epoch arithmetic: chunk = (epoch(d) -
    # epoch(min)) * N // (epoch(max) - epoch(min) + 1) — all BIGINT, so
    # the pagination plan is identical in any engine
    oracle="""
WITH b AS (
  SELECT CAST(floor(epoch(MIN(o_orderdate))) AS BIGINT) AS lo,
         CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT) AS hi
  FROM orders
)
SELECT ((CAST(floor(epoch(o_orderdate)) AS BIGINT) - b.lo) * 8)
         // (b.hi - b.lo + 1) AS chunk,
  COUNT(*) AS n_rows,
  strftime(MIN(o_orderdate), '%Y-%m-%d') AS from_date,
  strftime(MAX(o_orderdate), '%Y-%m-%d') AS to_date
FROM orders, b GROUP BY 1
""",
)
def tap_backfill_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill pagination plan: split the full bookmark range into 8 even
    time slices and report each chunk's row count + actual bounds — the
    bounded-batch extraction plan a reference user runs when a full-table
    sync is too big for one transaction (generalizes the JDBC range
    partitioning in sources/jdbc.py to the time domain).

    Scale: one scan + an 8-group aggregate; the min/max bounds are a
    single-row broadcast. Chunk skew here is data skew — the follow-up is
    range-partitioning on the observed quantiles (agg_percentiles)."""
    o = tables(spark, sf_dir)["orders"]
    b = o.agg(
        F.min(F.unix_timestamp("o_orderdate")).alias("lo"),
        F.max(F.unix_timestamp("o_orderdate")).alias("hi"),
    )
    return (
        o.crossJoin(F.broadcast(b))
        .select(
            F.expr(
                "((unix_timestamp(o_orderdate) - lo) * 8) div (hi - lo + 1)"
            ).alias("chunk"),
            "o_orderdate",
        )
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("from_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("to_date"),
        )
    )


@register(
    "tap_table_checksum",
    # order-insensitive replica fingerprint: XOR of per-row portable
    # hashes over a canonical row rendering (decimals as fixed-scale
    # strings, timestamps as ISO) — commutative, overflow-free, identical
    # in any engine and under any row order or partitioning
    oracle="""
SELECT COUNT(*) AS n_rows,
  bit_xor(CAST('0x' || substr(md5(
    concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
      o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
      strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)
  ), 1, 15) AS BIGINT)) AS checksum
FROM orders
""",
)
def tap_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-validation checksum: XOR-fold of a portable per-row hash
    over a canonical rendering of every column — the post-sync "does the
    target match the source" check the reference's users run by hand.
    Commutative fold ⇒ no ordering, no shuffle beyond the final 1-row
    reduce; computable independently on source and target engines.

    Scale: map-side partial XOR makes this scan-bound; per-partition
    checksums also localize WHICH partition diverged."""
    o = tables(spark, sf_dir)["orders"]
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        "o_orderpriority",
    )
    return o.select(hash64(row_repr).alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(h)").alias("checksum"),
    )


@register(
    "tap_integrity_audit",
    # the fixture is referentially consistent (an audit on it would pass
    # vacuously), so the header side simulates a partial sync — every 7th
    # order hasn't arrived yet — and the audit must count its orphans
    oracle="""
WITH synced_orders AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT
  (SELECT COUNT(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM synced_orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_lines,
  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM synced_orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS n_missing_headers,
  (SELECT COUNT(*) FROM synced_orders o
   WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey)) AS n_headers_no_lines
""",
)
def tap_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-detail referential audit under partial sync: line items whose
    order header hasn't arrived (orphans), distinct missing headers, and
    headers with no lines — the consistency check between incremental
    syncs of parent/child streams.

    Scale: two anti-joins co-partitioned on the order key; counts are
    map-side-combinable. At 100 TB the missing-header set feeds the next
    sync's targeted backfill predicate."""
    t = tables(spark, sf_dir)
    li, o = t["lineitem"], t["orders"]
    synced = o.filter(F.col("o_orderkey") % 7 != 0)
    orphans = li.join(
        synced, li["l_orderkey"] == synced["o_orderkey"], "left_anti"
    )
    no_lines = synced.join(
        li, synced["o_orderkey"] == li["l_orderkey"], "left_anti"
    )
    return (
        orphans.agg(
            F.count(F.lit(1)).alias("n_orphan_lines"),
            F.countDistinct("l_orderkey").alias("n_missing_headers"),
        )
        .crossJoin(
            F.broadcast(no_lines.agg(F.count(F.lit(1)).alias("n_headers_no_lines")))
        )
    )


@register(
    "tap_batch_reingest_source",
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_total
FROM events
GROUP BY event_type
""",
)
def tap_batch_reingest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full export→re-ingest loop through the CUSTOM PYTHON DATASOURCE
    (Spark 4 ``pyspark.sql.datasource``): events are written as rotated
    gzip-JSONL batch files (reference S5/S6), the Singer BATCH manifest is
    materialized, and ``spark.read.format("singer_batch")`` consumes that
    manifest — one input partition per batch file — under the declared
    schema. The oracle aggregates the parquet source directly, so any
    record lost/duplicated/mis-typed across write→manifest→custom-source
    read fails the hash (timestamps included: the sink's ISO-8601 output
    re-parses in the reader).

    Scale: a manifest-driven source re-ingests exactly the files a sync
    produced (never a directory glob that could pick up a failed sync's
    orphans), with file-level parallelism — batch_size bounds per-task
    work uniformly."""
    import json as _json

    from youcruit_tap_rawpostgresql_spark.sink import write_batch_files
    from youcruit_tap_rawpostgresql_spark.sources import singer_batch
    from youcruit_tap_rawpostgresql_spark.spec import (
        BatchSinkConfig,
        ColumnSpec,
        StreamSpec,
    )

    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    out_root = _scratch_export_dir("spark_graft_reingest", sf_dir)
    spec = StreamSpec(
        name="events_reingest",
        sql="SELECT 1",
        columns=[
            ColumnSpec("event_id", "int8"),
            ColumnSpec("ts", "datetime"),
            ColumnSpec("event_type", "text"),
            ColumnSpec("value", "float8"),
        ],
    )
    batch = BatchSinkConfig(root=f"file://{out_root}", batch_size=2500)
    manifests = write_batch_files(ev, spec, batch)
    manifest_path = os.path.join(out_root, "manifest.json")
    with open(manifest_path, "w") as fh:
        _json.dump(manifests[0].to_message("spark-public-events_reingest"), fh)
    singer_batch.register(spark)
    back = (
        spark.read.format("singer_batch")
        .schema("event_id long, ts timestamp, event_type string, value double")
        .load(manifest_path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_total"),
    )


@register(
    "versioned_time_travel",
    oracle="""
SELECT 0 AS version, COUNT(*) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 1, COUNT(*),
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 2, COUNT(*),
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
           + CASE WHEN o_orderkey % 30 = 0
                  THEN CAST(1000 AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table end to end (sources/versioned.py — the
    open-table-format core): commit an initial load, an append, and a
    copy-on-write upsert (+1000 on every 30th order), then TIME-TRAVEL
    READ all three versions and aggregate each. The oracle recomputes
    every version's expected state straight from the source — a commit
    that leaked rows across snapshots, an upsert that dropped or
    duplicated keys, or a manifest listing the wrong files all
    hash-mismatch.

    Scale: commits are O(1) manifest renames regardless of data size;
    snapshot reads list ONE manifest. The table records no statistics,
    so the pruned upsert counts every file as overlapping and rewrites
    them all."""
    from pyspark.sql import functions as F2

    from youcruit_tap_rawpostgresql_spark.sources import versioned

    o = tables(spark, sf_dir)["orders"]
    root = _scratch_export_dir("spark_graft_versioned", sf_dir)
    versioned.commit_snapshot(
        o.filter(F2.col("o_orderkey") % 3 == 0), root, mode="overwrite", op="load"
    )
    versioned.commit_snapshot(
        o.filter(F2.col("o_orderkey") % 3 == 1), root, mode="append", op="incr"
    )
    upd = o.filter(F2.col("o_orderkey") % 30 == 0).withColumn(
        "o_totalprice",
        (
            F2.col("o_totalprice").cast("decimal(12,2)")
            + F2.lit(1000).cast("decimal(12,2)")
        ).cast("double"),
    )
    versioned.upsert_snapshot_pruned(spark, upd, root, "o_orderkey")
    frames = []
    for v in (0, 1, 2):
        frames.append(
            versioned.read_version(spark, root, v).agg(
                F2.lit(v).alias("version"),
                F2.count(F2.lit(1)).alias("n_rows"),
                F2.sum(F2.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("total"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@register(
    "dq_expectations",
    oracle="""
WITH m AS (
  SELECT
    COUNT(*) AS n_rows,
    COUNT(DISTINCT o_orderkey) AS n_keys,
    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_dated,
    CAST(SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
      AS BIGINT) AS n_status_ok
  FROM orders
)
SELECT 'unique_key' AS rule,
  ROUND(CAST(n_keys AS DOUBLE) / n_rows, 6) AS metric,
  1.0 AS threshold, (n_keys = n_rows) AS pass FROM m
UNION ALL
SELECT 'price_positive', ROUND(CAST(n_pos AS DOUBLE) / n_rows, 6),
  1.0, (n_pos = n_rows) FROM m
UNION ALL
SELECT 'orderdate_not_null', ROUND(CAST(n_dated AS DOUBLE) / n_rows, 6),
  1.0, (n_dated = n_rows) FROM m
UNION ALL
SELECT 'status_in_domain', ROUND(CAST(n_status_ok AS DOUBLE) / n_rows, 6),
  0.99, (CAST(n_status_ok AS DOUBLE) / n_rows >= 0.99) FROM m
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Great-Expectations /
    dbt-test pattern) evaluated in ONE aggregate pass over the synced
    table: key uniqueness, value positivity, null rate, domain
    membership — each reported as (rule, metric, threshold, pass). The
    audit a sync pipeline runs before publishing a snapshot; pair with
    the versioned target to gate commits on `pass`.

    Scale: every expectation is a conditional partial aggregate in the
    same scan — adding rules adds expressions, never passes. The
    exception is exact uniqueness (a distinct shuffle); at 100 TB swap
    in approx_count_distinct's sketch unless exactness is the point."""
    o = tables(spark, sf_dir)["orders"]
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(F.when(F.col("o_totalprice") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("o_orderdate").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dated"),
        F.sum(F.when(F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_status_ok"),
    )

    # ONE aggregate row fans out to rule rows via explode — a union of
    # per-rule selects would replan (and rescan) the aggregate per branch
    def rule(name, num, thresh, strict_all):
        metric = F.round(F.col(num).cast("double") / F.col("n_rows"), 6)
        ok = (
            (F.col(num) == F.col("n_rows"))
            if strict_all
            else (F.col(num).cast("double") / F.col("n_rows") >= thresh)
        )
        return F.struct(
            F.lit(name).alias("rule"),
            metric.alias("metric"),
            F.lit(thresh).alias("threshold"),
            ok.alias("pass"),
        )

    rules = F.array(
        rule("unique_key", "n_keys", 1.0, True),
        rule("price_positive", "n_pos", 1.0, True),
        rule("orderdate_not_null", "n_dated", 1.0, True),
        rule("status_in_domain", "n_status_ok", 0.99, False),
    )
    return m.select(F.explode(rules).alias("r")).select(
        F.col("r.rule").alias("rule"),
        F.col("r.metric").alias("metric"),
        F.col("r.threshold").alias("threshold"),
        F.col("r.pass").alias("pass"),
    )


@register(
    "tap_schema_evolution_read",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT
  (SELECT COUNT(*) FROM v1) + (SELECT COUNT(*) FROM v2) AS n_rows,
  (SELECT COUNT(*) FROM v1) AS n_missing_priority,
  (SELECT COUNT(*) FROM v2) AS n_with_priority,
  (SELECT COUNT(DISTINCT o_orderpriority) FROM v2) AS n_priorities
""",
)
def tap_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across extract generations, executed: generation 1
    writes (o_orderkey, o_totalprice), generation 2 adds o_orderpriority;
    a ``mergeSchema`` read unifies them — gen-1 rows surface NULL for the
    added column, nothing is dropped or mistyped. This is the data-lake
    behavior every long-running tap hits when the source table gains a
    column mid-history.

    Scale: mergeSchema pays one footer read per file at planning time
    (not a data scan); production pins the unified schema in a catalog
    and reads with an explicit schema — same result, zero planning cost.
    The report is three 1-row aggregates over the unified frame."""
    import shutil

    o = tables(spark, sf_dir)["orders"]
    out_root = _scratch_export_dir("spark_graft_schema_evo", sf_dir)
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(out_root, "gen=1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(out_root, "gen=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out_root, "gen=1"), os.path.join(out_root, "gen=2")
    )
    agg = merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
        ).alias("n_missing_priority"),
        F.sum(
            F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
        ).alias("n_with_priority"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )
    rows = agg.collect()
    shutil.rmtree(out_root, ignore_errors=True)
    return local_frame(spark, rows, agg.schema)


@register(
    "tap_corrupt_record_ingest",
    oracle="""
WITH lines AS (
  SELECT event_id,
    CASE WHEN event_id % 11 = 0 THEN '{"event_id": ' || event_id || ', "broken'
         ELSE '{"event_id": ' || event_id || ', "value": '
              || CAST(event_id % 97 AS VARCHAR) || '}'
    END AS line
  FROM events WHERE event_id % 5 = 0
)
SELECT
  COUNT(*) FILTER (WHERE event_id % 11 <> 0) AS n_good,
  COUNT(*) FILTER (WHERE event_id % 11 = 0) AS n_corrupt,
  CAST(SUM(event_id % 97) FILTER (WHERE event_id % 11 <> 0) AS BIGINT)
    AS sum_value
FROM lines
""",
)
def tap_corrupt_record_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record-tolerant ingest (PERMISSIVE mode): a JSONL batch
    where a deterministic 1/11 of lines is truncated mid-object parses
    with ``columnNameOfCorruptRecord`` capturing the bad lines instead of
    failing the job — the dead-letter pattern for re-ingesting batch
    files of unknown provenance (the flip side of the sink's gzip-JSONL
    contract). Good rows aggregate; corrupt rows are counted, not lost.

    Scale: PERMISSIVE parsing is per-row map work; the corrupt split
    costs one boolean per row. The quarantine write (not exercised here)
    is a partitionBy(is_corrupt) on the same frame."""
    ev = tables(spark, sf_dir)["events"]
    lines = ev.filter(F.col("event_id") % 5 == 0).select(
        F.when(
            F.col("event_id") % 11 == 0,
            F.concat(F.lit('{"event_id": '), F.col("event_id"), F.lit(', "broken')),
        )
        .otherwise(
            F.concat(
                F.lit('{"event_id": '),
                F.col("event_id"),
                F.lit(', "value": '),
                (F.col("event_id") % 97).cast("string"),
                F.lit("}"),
            )
        )
        .alias("line")
    )
    parsed = lines.select(
        F.from_json(
            "line",
            "event_id long, value long, _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    ).select("r.*")
    return parsed.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("value"))).alias(
            "sum_value"
        ),
    )


@register(
    "tap_orc_export_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_records,
  COUNT(DISTINCT o_custkey) AS n_customers,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM orders
""",
)
def tap_orc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar export contract beside the reference's gzip-JSONL: orders
    written as ORC (Spark-native columnar, the common warehouse handoff
    when the target is Hive/Trino rather than a Singer consumer), then
    re-read and aggregated — the oracle computes the same aggregate from
    the parquet source, so any row lost or value mangled in the
    write→read cycle hash-mismatches.

    Scale: straight parallel columnar write; the read-back aggregate
    pushes column pruning into the ORC scan (3 of 6 columns read)."""
    import shutil

    o = tables(spark, sf_dir)["orders"]
    out_root = _scratch_export_dir("spark_graft_orc", sf_dir)
    o.write.mode("overwrite").orc(out_root)
    back = spark.read.orc(out_root)
    agg = back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_price"),
    )
    rows = agg.collect()
    shutil.rmtree(out_root, ignore_errors=True)
    return local_frame(spark, rows, agg.schema)
