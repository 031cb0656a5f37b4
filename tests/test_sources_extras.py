"""JDBC option construction, multimodal plumbing, file formats, the
singer_batch DataSource readers, and the versioned table."""

from youcruit_tap_rawpostgresql_spark.sources.jdbc import jdbc_options, jdbc_url


def test_jdbc_url_from_reference_config():
    # reference client.py:33-49 URL construction
    cfg = {"host": "db.example", "port": 5433, "database": "prod"}
    assert jdbc_url(cfg) == "jdbc:postgresql://db.example:5433/prod"


def test_jdbc_whole_query_pushdown_options():
    cfg = {"host": "h", "database": "d", "user": "u", "password": "p"}
    opts = jdbc_options(cfg, "SELECT * FROM t WHERE x > 1")
    assert opts["query"] == "SELECT * FROM t WHERE x > 1"
    assert "dbtable" not in opts
    assert opts["driver"] == "org.postgresql.Driver"


def test_jdbc_partitioned_read_options():
    cfg = {"host": "h", "database": "d"}
    opts = jdbc_options(
        cfg,
        "SELECT * FROM big",
        partition_column="id",
        num_partitions=16,
        lower_bound=0,
        upper_bound=1_000_000,
    )
    assert opts["dbtable"] == "(SELECT * FROM big) AS src"
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert "query" not in opts


def test_multimodal_stub_batch_shape(spark, sf_dir):
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        decode_payloads,
    )
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10)
    binary = attach_binary_payload(docs)
    assert dict(binary.dtypes)["payload"] == "binary"
    out = decode_payloads(binary)
    rows = out.collect()
    assert len(rows) == 10
    r = rows[0]
    assert r["n_bytes"] > 0
    assert r["fake_width"] == r["n_bytes"] % 640
    assert len(r["checksum"]) == 32


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    """CSV export/import parity: write with header, read back with the
    EXPLICIT schema (inference off — the conformance stance: declared
    types, not guessed ones); values and timestamp formatting survive."""
    import pyspark.sql.functions as F

    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    out = str(tmp_path / "region_csv")
    src.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema(src.schema)
        .option("header", True)
        .csv(out)
    )
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_roundtrip_parity(spark, tmp_path):
    """ORC export/import parity (Spark-native columnar alternative to
    parquet — same writer API, predicate pushdown, and column pruning).
    Orders (ints, strings, timestamps) must survive bit-exact."""
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_predicate_pushdown(spark, tmp_path):
    """Filters reach the ORC scan just like parquet (PushedFilters in the
    formatted plan) — format choice must not cost pushdown."""
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(out)
    df = spark.read.orc(out).filter("o_custkey = 42").select("o_orderkey")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    p = buf.getvalue()
    assert "PushedFilters" in p and "o_custkey" in p.split("PushedFilters", 1)[1], p


def test_avro_roundtrip_if_available(spark, tmp_path):
    """Avro (row-oriented interchange format common in Kafka pipelines):
    exercised only when the spark-avro package is on the classpath — the
    container ships without it, so the test gates on availability instead
    of failing (same stance as the stubbed multimodal decoders)."""
    import pytest

    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    out = str(tmp_path / "region_avro")
    try:
        src.write.mode("overwrite").format("avro").save(out)
    except Exception as exc:  # noqa: BLE001
        if "AVRO" in str(exc).upper() or "avro" in str(exc):
            pytest.skip("spark-avro not on classpath")
        raise
    back = spark.read.format("avro").load(out)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


def test_singer_batch_datasource_roundtrip(spark, sf_dir, tmp_path):
    """Custom Python DataSource (Spark 4): export events as gzip-JSONL
    batch files, then read the manifest back via
    spark.read.format('singer_batch') — full record parity including
    timestamp re-parse; batch files pack into size-bounded input
    partitions (r13 opt round: tiny rotated files no longer cost one
    Python worker task each)."""
    import glob
    import json as _json

    from pyspark.sql import functions as F

    from youcruit_tap_rawpostgresql_spark.sink import write_batch_files
    from youcruit_tap_rawpostgresql_spark.sources import singer_batch
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table
    from youcruit_tap_rawpostgresql_spark.spec import (
        BatchSinkConfig,
        ColumnSpec,
        StreamSpec,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    spec = StreamSpec(
        name="events_export",
        sql="SELECT 1",
        columns=[
            ColumnSpec("event_id", "int8"),
            ColumnSpec("ts", "datetime"),
            ColumnSpec("event_type", "text"),
        ],
    )
    batch = BatchSinkConfig(root=f"file://{tmp_path}", batch_size=400)
    manifests = write_batch_files(ev, spec, batch)
    manifest_path = str(tmp_path / "manifest.json")
    with open(manifest_path, "w") as fh:
        _json.dump(manifests[0].to_message("spark-public-events_export"), fh)

    singer_batch.register(spark)
    back = (
        spark.read.format("singer_batch")
        .schema("event_id long, ts timestamp, event_type string")
        .load(manifest_path)
    )
    # size-bounded file packing: tiny files share partitions (every file
    # still read exactly once — the parity fingerprint below is the
    # proof), and the partition count matches the packer's own plan
    from youcruit_tap_rawpostgresql_spark.sources.singer_batch import (
        _pack_files,
    )

    n_files = len(manifests[0].files)
    assert n_files > 1
    packed = _pack_files(manifests[0].files)
    assert sum(len(p.urls) for p in packed) == n_files
    assert back.rdd.getNumPartitions() == len(packed) < n_files
    # exact parity: counts and a content fingerprint
    assert back.count() == ev.count()
    fp = lambda df: df.select(
        F.expr(
            "bit_xor(xxhash64(event_id, "
            "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'), event_type))"
        ).alias("h")
    ).first()["h"]
    assert fp(back) == fp(ev)
    # directory form also resolves
    out_dir = manifests[0].files[0].rsplit("/", 1)[0]
    back_dir = (
        spark.read.format("singer_batch")
        .schema("event_id long, ts timestamp, event_type string")
        .load(out_dir)
    )
    assert back_dir.count() == ev.count()


def test_singer_batch_datasource_edges(spark, tmp_path):
    """Reader edges: (a) an empty manifest (what an empty incremental
    slice's BATCH message carries) yields an empty DataFrame, not a
    crash; (b) decimal and binary fields re-ingest as typed values
    (JSON under-types them as number / base64 text)."""
    import base64
    import gzip as _gzip
    import json as _json
    from decimal import Decimal

    from youcruit_tap_rawpostgresql_spark.sources import singer_batch

    singer_batch.register(spark)
    # (a) empty manifest
    empty = str(tmp_path / "empty_manifest.json")
    with open(empty, "w") as fh:
        _json.dump({"type": "BATCH", "manifest": []}, fh)
    df = (
        spark.read.format("singer_batch")
        .schema("a long, b string")
        .load(empty)
    )
    assert df.count() == 0 and df.columns == ["a", "b"]
    # (b) decimal + binary payloads
    part = tmp_path / "p-0.json.gz"
    with _gzip.open(part, "wt") as fh:
        fh.write(_json.dumps({
            "a": 1,
            "dec": 12.34,
            "bin": base64.b64encode(b"\x00\xffhi").decode(),
        }) + "\n")
    man = str(tmp_path / "typed_manifest.json")
    with open(man, "w") as fh:
        _json.dump({"manifest": [f"file://{part}"]}, fh)
    row = (
        spark.read.format("singer_batch")
        .schema("a long, dec decimal(10,2), bin binary")
        .load(man)
        .first()
    )
    assert row["dec"] == Decimal("12.34")
    assert bytes(row["bin"]) == b"\x00\xffhi"


def test_singer_batch_stream_reader_incremental(spark, sf_dir, tmp_path):
    """Streaming custom DataSource: a directory of BATCH manifests is a
    log — Trigger.AvailableNow ingests every existing manifest; dropping
    a new manifest and restarting from the SAME checkpoint ingests only
    the delta (exactly-once over manifests, offsets in the checkpoint)."""
    import json as _json

    from youcruit_tap_rawpostgresql_spark.sink import write_batch_files
    from youcruit_tap_rawpostgresql_spark.sources import singer_batch
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table
    from youcruit_tap_rawpostgresql_spark.spec import (
        BatchSinkConfig,
        ColumnSpec,
        StreamSpec,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    spec = StreamSpec(
        name="ev_stream",
        sql="SELECT 1",
        columns=[ColumnSpec("event_id", "int8"), ColumnSpec("event_type", "text")],
    )
    man_dir = tmp_path / "manifests"
    man_dir.mkdir()
    sink_root = tmp_path / "files"

    def export_slice(i, frac_mod):
        sl = ev.filter((ev["event_id"] % 3) == frac_mod)
        batch = BatchSinkConfig(root=f"file://{sink_root}_{i}", batch_size=100000)
        m = write_batch_files(sl, spec, batch)[0]
        with open(man_dir / f"sync-{i:04d}.json", "w") as fh:
            _json.dump(m.to_message("s"), fh)
        return sl.count()

    n0 = export_slice(0, 0)
    n1 = export_slice(1, 1)
    singer_batch.register(spark)
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        got = []

        def sink(bdf, _bid):
            got.append(bdf.count())

        q = (
            spark.readStream.format("singer_batch")
            .schema("event_id long, event_type string")
            .load(str(man_dir))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(got)

    assert run_stream() == n0 + n1
    # new sync lands → only the delta is read on restart from the ckpt
    n2 = export_slice(2, 2)
    assert run_stream() == n2
    assert n0 + n1 + n2 == ev.count()


def test_singer_batch_stream_offset_prefilter(tmp_path, monkeypatch):
    """Driver-side manifest scanning is incremental: manifests at or
    below the returned offset are name-filtered BEFORE json parsing, so
    per-tick work tracks NEW manifests, not the accumulated log (the
    round-3 advice finding on latestOffset/partitions driver cost)."""
    import json as _json

    from youcruit_tap_rawpostgresql_spark.sources import singer_batch

    man_dir = tmp_path / "m"
    man_dir.mkdir()
    for i in range(3):
        (man_dir / f"sync-{i:04d}.json").write_text(
            _json.dumps({"files": [], "record_count": 0})
        )

    parses = []
    real_load = _json.load

    def counting_load(fh):
        parses.append(fh.name)
        return real_load(fh)

    monkeypatch.setattr(singer_batch.json, "load", counting_load)
    rdr = singer_batch.SingerBatchStreamReader(None, {"path": str(man_dir)})

    off = rdr.latestOffset()
    assert off == {"last": "sync-0002.json"}
    assert len(parses) == 3  # first sweep validates everything once
    parses.clear()
    assert rdr.latestOffset() == off
    assert parses == []  # steady state: zero file opens, name compares only
    (man_dir / "sync-0003.json").write_text(
        _json.dumps({"files": [], "record_count": 0})
    )
    assert rdr.latestOffset() == {"last": "sync-0003.json"}
    assert len(parses) == 1  # only the new manifest was parsed
    parses.clear()
    # partitions opens only manifests inside (start, end] (validate +
    # _resolve_files both read the one in-range manifest; the three
    # out-of-range ones are never opened)
    rdr.partitions({"last": "sync-0001.json"}, {"last": "sync-0002.json"})
    assert set(parses) == {str(man_dir / "sync-0002.json")}


def test_singer_batch_directory_union_and_inflight_manifest(spark, sf_dir, tmp_path):
    """On the sink's own files: (a) a directory read returns the union of
    every batch file present, across syncs; (b) the stream reader skips
    a half-written manifest instead of crashing, then picks it up once
    complete."""
    import json as _json
    import shutil

    from youcruit_tap_rawpostgresql_spark.sink import write_batch_files
    from youcruit_tap_rawpostgresql_spark.sources import singer_batch
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table
    from youcruit_tap_rawpostgresql_spark.spec import (
        BatchSinkConfig,
        ColumnSpec,
        StreamSpec,
    )

    singer_batch.register(spark)
    src = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    spec = StreamSpec(
        name="r",
        sql="SELECT 1",
        columns=[ColumnSpec("r_regionkey", "int8"), ColumnSpec("r_name", "text")],
    )
    slices = [src.filter("r_regionkey < 2"), src.filter("r_regionkey >= 2")]
    messages = [
        write_batch_files(
            sl, spec, BatchSinkConfig(root=f"file://{tmp_path}/files_{i}")
        )[0].to_message("r")
        for i, sl in enumerate(slices)
    ]
    schema = "r_regionkey long, r_name string"

    # (a) both syncs' files land in one directory
    landing = tmp_path / "landing"
    landing.mkdir()
    for msg in messages:
        for url in msg["manifest"]:
            shutil.copy(url[len("file://"):], landing)
    back_dir = spark.read.format("singer_batch").schema(schema).load(str(landing))
    assert sorted(back_dir.collect()) == sorted(src.collect())

    # (b) stream reader vs in-flight manifest
    man_dir = tmp_path / "mans"
    man_dir.mkdir()
    (man_dir / "sync-0001.json").write_text(_json.dumps(messages[0]))
    (man_dir / "sync-0002.json").write_text('{"manifest": ["file:///nope')

    def run():
        got = []
        q = (
            spark.readStream.format("singer_batch")
            .schema(schema)
            .load(str(man_dir))
            .writeStream.foreachBatch(lambda b, _i: got.append(b.count()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(got)

    assert run() == slices[0].count()  # in-flight sync-0002 skipped
    (man_dir / "sync-0002.json").write_text(_json.dumps(messages[1]))
    assert run() == slices[1].count()  # only the newly completed manifest


def test_singer_batch_stream_rejects_remote_manifest_dir():
    """The manifest directory is listed with a local glob: a remote URL
    would list nothing and leave the stream empty forever, so it raises."""
    import pytest

    from youcruit_tap_rawpostgresql_spark.sources import singer_batch

    with pytest.raises(ValueError, match="must be local"):
        singer_batch.SingerBatchStreamReader(None, {"path": "s3a://bucket/mans"})
    singer_batch.SingerBatchStreamReader(None, {"path": "file:///tmp/mans"})


def test_versioned_table_time_travel_and_conflict(spark, sf_dir, tmp_path):
    """Versioned parquet table: overwrite/append/upsert commits produce a
    version history; every old version stays readable byte-identical
    (time travel); a commit derived from a stale base raises
    CommitConflict instead of clobbering."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from youcruit_tap_rawpostgresql_spark.sources import versioned
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    root = str(tmp_path / "vt")
    nation = load_table(spark, sf_dir, "nation")
    v0 = versioned.commit_snapshot(
        nation.filter("n_regionkey < 2"), root, mode="overwrite", op="initial"
    )
    v1 = versioned.commit_snapshot(
        nation.filter("n_regionkey >= 2"), root, mode="append", op="backfill"
    )
    assert (v0, v1) == (0, 1)
    n0 = versioned.read_version(spark, root, 0).count()
    assert versioned.read_version(spark, root, 1).count() == nation.count()
    # upsert: rename one nation
    upd = nation.filter("n_nationkey = 3").withColumn("n_name", F.lit("RENAMED"))
    v2 = versioned.upsert_snapshot_pruned(spark, upd, root, "n_nationkey")[0]
    assert v2 == 2
    cur = versioned.read_version(spark, root)
    assert cur.count() == nation.count()
    assert cur.filter("n_nationkey = 3").first()["n_name"] == "RENAMED"
    # time travel: v1 still has the original name, v0 its original count
    assert (
        versioned.read_version(spark, root, 1)
        .filter("n_nationkey = 3")
        .first()["n_name"]
        != "RENAMED"
    )
    assert versioned.read_version(spark, root, 0).count() == n0
    # stale-base commit conflicts
    with _pytest.raises(versioned.CommitConflict):
        versioned.commit_snapshot(
            nation, root, mode="overwrite", op="stale", expected_base=0
        )


def test_versioned_vacuum_reclaims_only_dead_files(spark, sf_dir, tmp_path):
    """VACUUM deletes files exclusive to expired versions and their
    manifests; the kept version still reads completely (shared files
    survive), and expired versions are gone."""
    import pytest as _pytest

    from youcruit_tap_rawpostgresql_spark.sources import versioned
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    root = str(tmp_path / "vt")
    nation = load_table(spark, sf_dir, "nation")
    versioned.commit_snapshot(nation.filter("n_regionkey = 0"), root)
    versioned.commit_snapshot(
        nation.filter("n_regionkey = 1"), root, mode="append"
    )
    versioned.commit_snapshot(
        nation.filter("n_regionkey >= 2"), root, mode="append"
    )
    n_v2 = versioned.read_version(spark, root, 2).count()
    deleted = versioned.vacuum(root, keep_last=1)
    # appends share files: v0/v1's files are all referenced by v2 → only
    # manifests died, no data deleted
    assert deleted == []
    assert versioned.list_versions(root) == [2]
    assert versioned.read_version(spark, root, 2).count() == n_v2
    with _pytest.raises(FileNotFoundError):
        versioned.read_version(spark, root, 0)
    # an overwrite makes old files exclusive → vacuum reclaims them
    versioned.commit_snapshot(nation, root, mode="overwrite", op="rebuild")
    deleted = versioned.vacuum(root, keep_last=1)
    assert deleted, "overwritten files should be reclaimed"
    assert versioned.read_version(spark, root).count() == nation.count()


def test_versioned_stats_pruning_and_pruned_upsert(spark, sf_dir, tmp_path):
    """File statistics in the manifest drive data skipping: a key-ranged
    read opens only overlapping files, and the pruned upsert rewrites
    only touched files while disjoint files (and their stats) carry over
    — with full result parity against the naive path."""
    from pyspark.sql import functions as F

    from youcruit_tap_rawpostgresql_spark.sources import versioned
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    root = str(tmp_path / "vt")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    # range-partitioned layout → each file holds a narrow o_orderkey span
    versioned.commit_snapshot(
        orders.repartitionByRange(4, "o_orderkey"),
        root,
        stats_columns=["o_orderkey"],
    )
    man = versioned._read_manifest(root, 0)
    assert len(man["files"]) == 4
    assert all(man["stats"][f]["o_orderkey"] for f in man["files"])
    # pruned read touches fewer files than the full set
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    hit, miss = versioned.prune_files(root, 0, "o_orderkey", 0, max_key // 8)
    assert len(hit) < 4 and len(hit) >= 1 and len(hit) + len(miss) == 4
    pruned = versioned.read_version_pruned(
        spark, root, "o_orderkey", 0, max_key // 8
    )
    full = versioned.read_version(spark, root, 0).filter(
        F.col("o_orderkey").between(0, max_key // 8)
    )
    assert pruned.count() == full.count()
    # pruned upsert: touch only the low key range
    upd = orders.filter(F.col("o_orderkey") <= max_key // 8).withColumn(
        "o_orderstatus", F.lit("X")
    )
    v, n_new, n_carried = versioned.upsert_snapshot_pruned(
        spark, upd, root, "o_orderkey"
    )
    assert v == 1
    assert n_carried == len(miss), "disjoint files must carry over untouched"
    cur = versioned.read_version(spark, root)
    assert cur.count() == orders.count()
    assert (
        cur.filter("o_orderstatus = 'X'").count() == upd.count()
    )
    # carried stats still prune at the new version
    hit2, miss2 = versioned.prune_files(
        root, 1, "o_orderkey", max_key - 10, max_key
    )
    assert len(hit2) < len(versioned._read_manifest(root, 1)["files"])


def test_versioned_schema_evolution_added_column(spark, tmp_path):
    """Schema evolution across snapshots: a later commit adds a column;
    reading the current version merges schemas (old files null-fill), and
    time travel to the pre-evolution version shows the original schema."""
    from youcruit_tap_rawpostgresql_spark.sources import versioned

    root = str(tmp_path / "vt")
    v0_df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    versioned.commit_snapshot(v0_df, root)
    v1_df = spark.createDataFrame(
        [(3, "c", 1.5)], "k long, v string, score double"
    )
    versioned.commit_snapshot(v1_df, root, mode="append")
    cur = versioned.read_version(spark, root)
    assert set(cur.columns) == {"k", "v", "score"}
    rows = {r["k"]: r for r in cur.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 1.5
    old = versioned.read_version(spark, root, 0)
    assert set(old.columns) == {"k", "v"}


def test_versioned_compaction(spark, sf_dir, tmp_path):
    """Compaction rewrites a many-small-files snapshot into few files as
    a NEW version with identical rows; the pre-compaction version still
    time-travels to its original layout."""
    from youcruit_tap_rawpostgresql_spark.sources import versioned
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    root = str(tmp_path / "vt")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # simulate micro-batch accretion: 5 append commits → many files
    for i in range(5):
        versioned.commit_snapshot(
            orders.filter((orders["o_orderkey"] % 5) == i).repartition(3),
            root,
            mode="append" if i else "overwrite",
            stats_columns=["o_orderkey"],
        )
    before = len(versioned._read_manifest(root, 4)["files"])
    assert before >= 15
    v, n_before, n_after = versioned.compact_version(
        spark, root, target_file_bytes=10**9, stats_columns=["o_orderkey"]
    )
    assert (v, n_before) == (5, before)
    assert n_after < before
    assert versioned.read_version(spark, root, v).count() == orders.count()
    # pre-compaction snapshot unchanged
    assert len(versioned._read_manifest(root, 4)["files"]) == before
    assert versioned.read_version(spark, root, 4).count() == orders.count()
    # compacted files carry fresh stats for pruning
    man = versioned._read_manifest(root, v)
    assert all(man["stats"][f]["o_orderkey"] for f in man["files"])


def test_versioned_delete_keys_and_erasure(spark, sf_dir, tmp_path):
    """Row-level delete: the keyed deletion rewrites only overlapping
    files; deleted rows are gone from the current version, still
    time-travelable at the old version, and VACUUM completes the erasure
    (old files physically removed)."""


    from pyspark.sql import functions as F

    from youcruit_tap_rawpostgresql_spark.sources import versioned
    from youcruit_tap_rawpostgresql_spark.sources.registry import load_table

    root = str(tmp_path / "vt")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    versioned.commit_snapshot(
        cust.repartitionByRange(4, "c_custkey"), root, stats_columns=["c_custkey"]
    )
    # forget a contiguous low-key cohort (clustered → few files touched)
    max_key = cust.agg(F.max("c_custkey")).first()[0]
    doomed = cust.filter(F.col("c_custkey") <= max_key // 8).select("c_custkey")
    n_doomed = doomed.count()
    assert n_doomed > 0
    v, n_rewritten = versioned.delete_keys(spark, root, "c_custkey", doomed)
    assert v == 1 and 1 <= n_rewritten < 4
    cur = versioned.read_version(spark, root)
    assert cur.count() == cust.count() - n_doomed
    assert cur.join(doomed, "c_custkey").count() == 0
    # time travel still sees them (erasure incomplete by design)...
    assert versioned.read_version(spark, root, 0).count() == cust.count()
    # ...until VACUUM expires the old snapshot
    deleted = versioned.vacuum(root, keep_last=1)
    assert deleted, "pre-delete files should be reclaimed"
    assert versioned.read_version(spark, root).count() == cust.count() - n_doomed


def test_versioned_upsert_rejects_null_keys(spark, tmp_path):
    """Round-8 self-review: NULL key values never match the anti-join, so
    a NULL-key row would re-append on every re-sync (idempotence break),
    and an all-NULL span would defeat pruning — both rejected loudly
    before any commit, for single and composite keys."""
    import pytest

    from youcruit_tap_rawpostgresql_spark.sources import versioned

    root = str(tmp_path / "vt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    versioned.commit_snapshot(base, root, mode="overwrite", stats_columns=["k"])

    bad = spark.createDataFrame([(None, "x")], "k long, v string")
    with pytest.raises(ValueError, match="NULL in a key column"):
        versioned.upsert_snapshot_pruned(spark, bad, root, "k")
    # composite: NULL in ONE of the key columns is just as fatal
    base2 = spark.createDataFrame(
        [(1, "a", "v")], "k1 long, k2 string, v string"
    )
    root2 = str(tmp_path / "vt2")
    versioned.commit_snapshot(
        base2, root2, mode="overwrite", stats_columns=["k1", "k2"]
    )
    bad2 = spark.createDataFrame(
        [(2, None, "w")], "k1 long, k2 string, v string"
    )
    with pytest.raises(ValueError, match="NULL in a key column"):
        versioned.upsert_snapshot_pruned(spark, bad2, root2, ["k1", "k2"])
    # the table is untouched: still exactly the base version
    assert versioned.current_version(root) == 0
    assert versioned.current_version(root2) == 0


def test_versioned_delete_all_null_keys_is_noop(spark, tmp_path):
    """delete_keys with an all-NULL key set: NULL matches nothing, so the
    correct commit is a carry-all no-op — NOT a full-table rewrite (the
    vacuous-all() hazard the round-8 self-review caught)."""
    from youcruit_tap_rawpostgresql_spark.sources import versioned

    root = str(tmp_path / "vt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    versioned.commit_snapshot(base, root, mode="overwrite", stats_columns=["k"])
    nulls = spark.createDataFrame([(None,)], "k long")
    version, n_rewritten = versioned.delete_keys(spark, root, "k", nulls)
    assert n_rewritten == 0  # no file was rewritten
    assert versioned.read_version(spark, root, version).count() == 2


def test_singer_batch_arrow_fast_path_parity(tmp_path):
    """The r13 Arrow fast path in the singer_batch reader (pyarrow JSON
    parse yielding RecordBatches instead of per-row json.loads tuples)
    must (a) engage only for schemas it parses faithfully, (b) produce
    exactly the per-row path's values on a conformant file, and (c) fall
    back — returning None — on files it cannot prove conformant, so the
    reader's observable behaviour never depends on which path ran."""
    import datetime as _dt
    import gzip as _gzip
    import json as _json

    from pyspark.sql import types as T

    from youcruit_tap_rawpostgresql_spark.sources.singer_batch import (
        _arrow_fast_schema,
        _read_batch_file,
        _try_read_arrow,
    )

    def st(*fields):
        return T.StructType([T.StructField(n, t) for n, t in fields])

    eligible = st(
        ("id", T.LongType()), ("ts", T.TimestampType()), ("name", T.StringType()),
        ("score", T.DoubleType()), ("ok", T.BooleanType()),
    )
    # decimals/dates/binary/NTZ/nested must keep the per-row cast path
    for dtype in (
        T.DecimalType(10, 2),
        T.DateType(),
        T.BinaryType(),
        T.TimestampNTZType(),
        T.ArrayType(T.IntegerType()),
    ):
        assert _arrow_fast_schema(st(("id", T.LongType()), ("x", dtype))) is None
    pa_schema = _arrow_fast_schema(eligible)
    assert pa_schema is not None

    # conformant file: offsets on every timestamp, nulls, a missing field,
    # an extra undeclared field, fields out of declared order
    rows = [
        {"id": 1, "ts": "2026-03-01T12:34:56.789012+00:00", "name": "a",
         "score": 1.5, "ok": True, "extra": "ignored"},
        {"name": None, "id": 2, "ts": None, "score": None, "ok": None},
        {"id": 3, "ts": "2026-03-02T00:00:00+00:00", "name": "b", "score": -0.25},
    ]
    part = tmp_path / "fast-0.json.gz"
    with _gzip.open(part, "wt") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    url = f"file://{part}"

    batches = _try_read_arrow(url, pa_schema)
    assert batches is not None
    got = [tuple(r.values()) for b in batches for r in b.to_pylist()]
    want = []
    for t in _read_batch_file(url, eligible):
        want.append(tuple(
            v.replace(tzinfo=_dt.timezone.utc) if isinstance(v, _dt.datetime) else v
            for v in t
        ))
    assert got == want

    # non-conformant (a string in a long field): fall back, never a wrong row
    bad = tmp_path / "bad-0.json.gz"
    with _gzip.open(bad, "wt") as fh:
        fh.write(_json.dumps({"id": "not-a-number", "ts": None, "name": "x",
                              "score": 0.0, "ok": False}) + "\n")
    assert _try_read_arrow(f"file://{bad}", pa_schema) is None
