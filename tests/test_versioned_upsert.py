"""Versioned-table upserts: the key checks the one-aggregate key profile
carries, the recorded read schema (and the inference fallback for
manifests written without it), and the Spark jobs a sync step runs.
"""

from __future__ import annotations

import contextlib
import io
import json
import uuid

import pyarrow.parquet as pq
import pytest

from youcruit_tap_rawpostgresql_spark.sources import versioned
from youcruit_tap_rawpostgresql_spark.spec import ColumnSpec, StreamSpec, TapConfig
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

# Spark jobs one keyed sync_stream_to_versioned step runs in
# test_keyed_sync_step_job_budget, as measured: the extract's cache build
# and its count+bookmark aggregate, the two-level key profile, and the
# rewrite.
SYNC_STEP_JOBS = 8


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex[:8]}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture
def table(spark, tmp_path):
    """A two-file table keyed on ``k`` (1..4 and 11..14) with stats."""
    root = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in (1, 2, 3, 4, 11, 12, 13, 14)], "k long, v string"
    )
    versioned.commit_snapshot(
        base.repartitionByRange(2, "k"), root, stats_columns=["k"]
    )
    return root


def test_upsert_rejects_duplicate_keys(spark, table, tmp_path):
    fn = versioned.upsert_snapshot_pruned
    dup = spark.createDataFrame([(2, "x"), (3, "y"), (2, "z")], "k long, v string")
    with pytest.raises(ValueError, match="rows for key") as err:
        fn(spark, dup, table, "k")
    assert "carry 2 rows for key (k=2)" in str(err.value)
    assert versioned.current_version(table) == 0

    root2 = str(tmp_path / "vt2")
    versioned.commit_snapshot(
        spark.createDataFrame([(1, "a", "v")], "k1 long, k2 string, v string"),
        root2,
        stats_columns=["k1", "k2"],
    )
    # (1, 'a') repeats; (1, 'b') shares only k1 and is not a duplicate
    dup2 = spark.createDataFrame(
        [(1, "a", "x"), (1, "b", "y"), (1, "a", "z")],
        "k1 long, k2 string, v string",
    )
    with pytest.raises(ValueError, match="rows for key"):
        fn(spark, dup2, root2, ["k1", "k2"])
    assert versioned.current_version(root2) == 0
    assert versioned.read_version(spark, root2).count() == 1


def test_empty_upsert_commits_noop_version(spark, table):
    empty = spark.createDataFrame([], "k long, v string")
    v, n_rewritten, n_carried = versioned.upsert_snapshot_pruned(
        spark, empty, table, "k"
    )
    assert (v, n_rewritten, n_carried) == (1, 0, 2)
    assert versioned._read_manifest(table, 1)["op"] == "upsert-pruned-noop"
    assert _rows(versioned.read_version(spark, table), "k", "v") == _rows(
        versioned.read_version(spark, table, 0), "k", "v"
    )


def test_delete_keys_with_repeated_keys(spark, table):
    doomed = spark.createDataFrame([(2,), (2,), (3,), (3,), (3,)], "k long")
    v, n_rewritten = versioned.delete_keys(spark, table, "k", doomed)
    assert v == 1 and n_rewritten >= 1
    assert len(versioned._read_manifest(table, 1)["files"]) == 1 + n_rewritten
    assert _rows(versioned.read_version(spark, table), "k", "v") == [
        (k, f"v{k}") for k in (1, 4, 11, 12, 13, 14)
    ]


# ---------------------------------------------------------------------------
# keyed syncs into a versioned table
# ---------------------------------------------------------------------------


def _write_source(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, "id long, rev long, name string").write.mode(
        "overwrite"
    ).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("vsrc")


def _sync_spec() -> StreamSpec:
    return StreamSpec(
        name="vsrc",
        sql="SELECT id, rev, name FROM vsrc WHERE rev > :rep_key_val",
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("rev", "int8"),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        replication_key="rev",
        replication_key_value_start=-1,
    )


@pytest.fixture
def synced(spark, tmp_path):
    """A parquet source synced once into a versioned table."""
    src = str(tmp_path / "src")
    _write_source(spark, src, [(i, 0, f"n{i}") for i in range(1, 41)])
    spec = _sync_spec()
    state = StateStore()
    tap = SparkTap(TapConfig(streams=[spec]), spark, state=state, write=io.StringIO().write)
    root = str(tmp_path / "vt")
    tap.sync_stream_to_versioned(spec, root)
    yield tap, spec, state, src, root
    spark.catalog.dropTempView("vsrc")


def test_duplicate_key_slice_keeps_bookmark(spark, synced):
    """A slice with a repeated key is rejected before the commit, so the
    table and the stored bookmark stay where they were."""
    tap, spec, state, src, root = synced
    assert state.get_bookmark(spec.fully_qualified_name, "rev") == 0
    _write_source(
        spark, src + "2", [(i, 0, f"n{i}") for i in range(1, 41)] + [(7, 1, "a"), (7, 2, "b")]
    )
    with pytest.raises(ValueError, match="rows for key"):
        tap.sync_stream_to_versioned(spec, root)
    assert state.get_bookmark(spec.fully_qualified_name, "rev") == 0
    assert versioned.current_version(root) == 0


def test_first_keyed_sync_rejects_duplicate_keys(spark, tmp_path):
    """The first keyed sync checks its keys as every later one does: a
    repeated key raises before anything is committed, and no bookmark is
    set."""
    _write_source(spark, str(tmp_path / "src"), [(1, 0, "a"), (2, 0, "b"), (2, 1, "c")])
    spec = _sync_spec()
    state = StateStore()
    tap = SparkTap(TapConfig(streams=[spec]), spark, state=state, write=io.StringIO().write)
    root = str(tmp_path / "vt")
    try:
        with pytest.raises(ValueError, match="rows for key"):
            tap.sync_stream_to_versioned(spec, root)
    finally:
        spark.catalog.dropTempView("vsrc")
    assert versioned.current_version(root) is None
    assert state.get_bookmark(spec.fully_qualified_name) is None


def test_keyed_sync_step_job_budget(spark, synced):
    """One keyed sync step: the extract is cached and profiled by one
    aggregate each, the upsert's keys by one two-level aggregate, and no
    read of the table infers a schema."""
    tap, spec, state, src, root = synced
    _write_source(
        spark, src + "2",
        [(i, 0, f"n{i}") for i in range(1, 41) if i not in (3, 5)]
        + [(3, 1, "u3"), (5, 1, "u5"), (41, 1, "n41")],
    )
    with spark_jobs(spark) as jobs:
        res = tap.sync_stream_to_versioned(spec, root)
    assert res.record_count == 3 and res.new_bookmark == 1
    assert len(jobs) <= SYNC_STEP_JOBS
    cur = versioned.read_version(spark, root)
    assert cur.count() == 41
    assert cur.filter("id IN (3, 5, 41)").count() == 3
    assert {r["name"] for r in cur.filter("rev = 1").collect()} == {"u3", "u5", "n41"}


# ---------------------------------------------------------------------------
# recorded read schema
# ---------------------------------------------------------------------------


def test_reads_run_no_job_before_action(spark, table):
    man = versioned._read_manifest(table, 0)
    assert man[versioned._READ_SCHEMA] is True
    with spark_jobs(spark) as jobs:
        full = versioned.read_version(spark, table)
        pruned = versioned.read_version_pruned(spark, table, "k", 2, 3)
    assert jobs == []
    assert full.schema == pruned.schema
    assert _rows(pruned, "k") == [(2,), (3,)]


def _strip_marker(root: str, version: int) -> None:
    path = versioned._manifest_path(root, version)
    with open(path) as fh:
        man = json.load(fh)
    del man[versioned._READ_SCHEMA]
    with open(path, "w") as fh:
        json.dump(man, fh)


def test_unmarked_manifest_reads_by_inference(spark, tmp_path):
    """A manifest written without the marker reads by footer inference,
    and returns every column, even when its files disagree on the
    schema."""
    root = str(tmp_path / "vt")
    versioned.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), root
    )
    versioned.commit_snapshot(
        spark.createDataFrame([(3, "c", 1.5)], "k long, v string, score double"),
        root,
        mode="append",
    )
    for v in (0, 1):
        _strip_marker(root, v)
    got = versioned.read_version(spark, root)
    assert set(got.columns) == {"k", "v", "score"}
    assert _rows(got, "k", "v", "score") == [(1, "a", None), (2, "b", None), (3, "c", 1.5)]
    # a commit on top of an unmarked base that carries files stays unmarked
    versioned.commit_snapshot(
        spark.createDataFrame([(4, "d")], "k long, v string"), root, mode="append"
    )
    assert versioned._READ_SCHEMA not in versioned._read_manifest(root, 2)


def test_unmarked_table_keeps_every_column(spark, tmp_path):
    """Manifests without the marker, whose first file holds a column the
    second lacks: the full and the pruned read return that column, also
    when the pruned read touches only the file without it or no file,
    and compaction keeps its values."""
    root = str(tmp_path / "vt")
    versioned.commit_snapshot(
        spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, score double")
        .coalesce(1),
        root,
        stats_columns=["k"],
    )
    appended = spark.createDataFrame([(3, "c")], "k long, v string")
    versioned.commit_snapshot(appended, root, mode="append", stats_columns=["k"])
    for v in (0, 1):
        _strip_marker(root, v)
    # as manifests recorded before the marker existed: the slice's schema
    path = versioned._manifest_path(root, 1)
    with open(path) as fh:
        man = json.load(fh)
    man["schema"] = appended.schema.json()
    with open(path, "w") as fh:
        json.dump(man, fh)
    want = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)]
    assert _rows(versioned.read_version(spark, root), "k", "v", "score") == want
    pruned = versioned.read_version_pruned(spark, root, "k", 3, 3)
    assert _rows(pruned, "k", "v", "score") == [(3, "c", None)]
    assert set(versioned.read_version_pruned(spark, root, "k", 7, 9).columns) == {"k", "v", "score"}
    cv, _, _ = versioned.compact_version(spark, root)
    assert _rows(versioned.read_version(spark, root, cv), "k", "v", "score") == want


def test_read_schema_on_type_changes(spark, tmp_path):
    """Nullability and field metadata may differ between the files of a
    snapshot; a column whose type changes leaves the manifest unmarked."""
    root = str(tmp_path / "vt")
    versioned.commit_snapshot(
        spark.sql("SELECT 1L AS k, 'a' AS v, array(1) AS a"), root
    )
    versioned.commit_snapshot(
        spark.sql("SELECT 2L AS k, 'b' AS v, array(2, NULL) AS a"), root, mode="append"
    )
    assert versioned._read_manifest(root, 1)[versioned._READ_SCHEMA] is True
    assert _rows(versioned.read_version(spark, root), "k", "a") == [(1, [1]), (2, [2, None])]

    versioned.commit_snapshot(
        spark.sql("SELECT 3L AS k, 7 AS v, array(3) AS a"), root, mode="append"
    )
    man = versioned._read_manifest(root, 2)
    assert versioned._READ_SCHEMA not in man
    # the slice's schema, as manifests recorded before the marker existed
    assert man["schema"] == spark.sql("SELECT 3L AS k, 7 AS v, array(3) AS a").schema.json()


def test_evolved_schema_survives_pruned_rewrite(spark, tmp_path):
    """An append adds a column; a pruned upsert that touches only files
    written before it keeps the column in the files it rewrites, and the
    reads show it."""
    root = str(tmp_path / "vt")
    versioned.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        root,
        stats_columns=["k"],
    )
    versioned.commit_snapshot(
        spark.createDataFrame([(10, "c", 1.5)], "k long, v string, score double"),
        root,
        mode="append",
        stats_columns=["k"],
    )
    upd = spark.createDataFrame([(2, "B")], "k long, v string")
    v, _n_rewritten, n_carried = versioned.upsert_snapshot_pruned(spark, upd, root, "k")
    assert n_carried == 1
    man = versioned._read_manifest(root, v)
    assert man[versioned._READ_SCHEMA] is True
    new_files = [f for f in man["files"] if f not in versioned._read_manifest(root, 1)["files"]]
    assert new_files
    for f in new_files:
        assert "score" in pq.read_schema(f).names
    cur = versioned.read_version(spark, root)
    assert cur.columns == ["k", "v", "score"]
    assert _rows(cur, "k", "v", "score") == [(1, "a", None), (2, "B", None), (10, "c", 1.5)]
    pruned = versioned.read_version_pruned(spark, root, "k", 0, 5)
    assert pruned.columns == ["k", "v", "score"]
    # compaction keeps the evolved column too
    cv, _, _ = versioned.compact_version(spark, root)
    assert versioned.read_version(spark, root, cv).columns == ["k", "v", "score"]
