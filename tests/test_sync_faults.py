"""Injected delivery failures against the one extract → deliver → bookmark
scaffold (``SparkTap._sync``).

Each target's delivery is made to raise: RECORD messages on the Arrow path
and on the persisted path, BATCH files, the versioned table's commit and
the JDBC writer. After the failure the sync must have left no trace in
state: the stored bookmark is the one it started from, no STATE line
followed, the state file was not rewritten, and no persisted snapshot was
left cached. A re-run then delivers the slice and advances the bookmark.

Faults in the extract (on a ``sync_all`` worker thread), in
``StateStore.set_bookmark`` and inside ``StateStore.flush``'s write must
leave a state file that parses and never holds a bookmark past the rows
emitted or committed; a restart from that file converges.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import threading
import types

import pytest

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark import state as state_mod
from youcruit_tap_rawpostgresql_spark import tap as tap_mod
from youcruit_tap_rawpostgresql_spark.sources import versioned
from youcruit_tap_rawpostgresql_spark.spec import (
    BatchSinkConfig,
    ColumnSpec,
    StreamSpec,
    TapConfig,
)
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
FQN = "spark-public-faults"
SECOND = "spark-public-faults_b"
START = 1  # stored bookmark: the slice is ids 2..5


class Injected(RuntimeError):
    pass


@pytest.fixture
def fault_src(spark):
    spark.sql(
        "SELECT id, concat('n', id) AS name FROM range(1, 6)"
    ).createOrReplaceTempView("fault_src")
    yield
    spark.catalog.dropTempView("fault_src")


def _spec() -> StreamSpec:
    return StreamSpec(
        name="faults",
        sql="SELECT id, name FROM fault_src WHERE id > :rep_key_val",
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=0,
    )


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Run:
    """A tap over a state file that holds ``START`` for each stream, with
    its Singer output captured line by line."""

    def __init__(self, spark, tmp_path, streams=None, **cfg):
        self.state_path = tmp_path / "state.json"
        streams = streams or [_spec()]
        seed = StateStore(str(self.state_path))
        for s in streams:
            seed.set_bookmark(s.fully_qualified_name, "id", START)
        seed.flush()
        self.lines: list[str] = []
        self.config = TapConfig(streams=streams, **cfg)
        self.spark = spark
        self.restart()

    def restart(self) -> None:
        """A new tap over the state file, as a new process would start."""
        self.tap = SparkTap(
            self.config,
            self.spark,
            state=StateStore(str(self.state_path)),
            write=self.lines.append,
        )

    def types(self) -> list[str]:
        return [json.loads(ln)["type"] for ln in self.lines]

    def file_snapshot(self):
        st = os.stat(self.state_path)
        return self.state_path.read_bytes(), st.st_mtime_ns


def _raise(*_args, **_kwargs):
    raise Injected("delivery failed")


def _record(monkeypatch, budget):
    monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", budget)
    collects = []
    real = tap_mod.emit_record_messages

    def emit(df, spec, write, collect=None):
        collects.append(collect)

        def fail_after_first(line):
            write(line)
            raise Injected("write failed")

        return real(df, spec, fail_after_first, collect=collect)

    monkeypatch.setattr(tap_mod, "emit_record_messages", emit)
    return collects


TARGETS = ["record_arrow", "record_persisted", "batch", "versioned_initial",
           "versioned_upsert", "jdbc"]


@pytest.mark.parametrize("target", TARGETS)
def test_failed_delivery_leaves_state_untouched(
    spark, fault_src, tmp_path, monkeypatch, target
):
    cfg = {}
    if target == "batch":
        cfg["batch"] = BatchSinkConfig(root=f"file://{tmp_path}/batch")
    run = Run(spark, tmp_path, **cfg)
    spec = _spec()
    root = str(tmp_path / "table")
    jdbc_target = {
        "jdbc_url": f"jdbc:derby:{tmp_path / 'tgt'};create=true",
        "driver": DERBY_DRIVER,
    }

    if target == "versioned_upsert":
        # a first sync commits the table; the failing one is the upsert
        run.tap.sync_stream_to_versioned(spec, root)
        run.tap.state.set_bookmark(FQN, "id", START)
        run.tap.state.flush()

    collects = None
    if target == "record_arrow":
        collects = _record(monkeypatch, sink.RECORD_COLLECT_BUDGET)
    elif target == "record_persisted":
        collects = _record(monkeypatch, 0)
    elif target == "batch":
        # the fetch has written the files; the emit fails at the BATCH line
        def write(line):
            if json.loads(line)["type"] == "BATCH":
                raise Injected("delivery failed")
            run.lines.append(line)

        monkeypatch.setattr(run.tap, "write", write)
    elif target == "versioned_initial":
        monkeypatch.setattr(versioned, "commit_snapshot", _raise)
    elif target == "versioned_upsert":
        monkeypatch.setattr(versioned, "upsert_snapshot_pruned", _raise)
    else:
        from pyspark.sql.readwriter import DataFrameWriter

        monkeypatch.setattr(DataFrameWriter, "save", _raise)

    sync = {
        "batch": lambda: run.tap.sync_stream(spec, batch_mode=True),
        "versioned_initial": lambda: run.tap.sync_stream_to_versioned(spec, root),
        "versioned_upsert": lambda: run.tap.sync_stream_to_versioned(spec, root),
        "jdbc": lambda: run.tap.sync_stream_to_jdbc(spec, jdbc_target),
    }.get(target, lambda: run.tap.sync_stream(spec))

    before_file = run.file_snapshot()
    before_rdds = _persisted_rdds(spark)
    with pytest.raises(Injected):
        sync()

    if collects is not None:
        assert collects == [target == "record_arrow"]
    if target.startswith("record"):
        assert run.types() == ["SCHEMA", "RECORD"]
    elif target == "batch":
        assert run.types() == ["SCHEMA"]
    assert "STATE" not in run.types()
    assert run.tap.state.get_bookmark(FQN, "id") == START
    assert run.file_snapshot() == before_file
    assert not os.path.exists(f"{run.state_path}.tmp")
    assert _persisted_rdds(spark) == before_rdds

    # the fault cleared, the same slice is delivered and state advances
    monkeypatch.undo()
    if target == "record_persisted":
        monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)
    res = sync()
    assert res.record_count == 4
    assert res.new_bookmark == 5
    assert run.tap.state.get_bookmark(FQN, "id") == 5
    if target in ("record_arrow", "record_persisted", "batch"):
        assert run.types()[-1] == "STATE"
    else:
        assert json.loads(run.state_path.read_text())["bookmarks"][FQN] == {
            "replication_key": "id",
            "replication_key_value": 5,
        }
    if target.startswith("versioned"):
        # the upsert re-run is idempotent: the slice is in the table once
        got = versioned.read_version(spark, root).select("id").collect()
        assert sorted(r.id for r in got) == [2, 3, 4, 5]


@pytest.mark.parametrize("target", ["versioned", "jdbc"])
def test_snapshot_targets_log_metrics(spark, fault_src, tmp_path, caplog, target):
    """The versioned and JDBC targets log the same Singer SDK-style
    ``record_count`` and ``sync_duration`` METRIC lines as the Singer
    outputs, tagged with the stream's fully qualified name."""
    run = Run(spark, tmp_path)
    spec = _spec()
    caplog.set_level(logging.INFO, logger=tap_mod.__name__)
    if target == "versioned":
        res = run.tap.sync_stream_to_versioned(spec, str(tmp_path / "table"))
    else:
        res = run.tap.sync_stream_to_jdbc(
            spec,
            {
                "jdbc_url": f"jdbc:derby:{tmp_path / 'tgt'};create=true",
                "driver": DERBY_DRIVER,
            },
        )
    assert res.record_count == 4
    metrics = {
        m["metric"]: m
        for m in (
            json.loads(r.getMessage()[len("METRIC: "):])
            for r in caplog.records
            if r.name == tap_mod.__name__ and r.getMessage().startswith("METRIC: ")
        )
    }
    assert set(metrics) == {"record_count", "sync_duration"}
    assert metrics["record_count"]["type"] == "counter"
    assert metrics["record_count"]["value"] == 4
    assert metrics["sync_duration"]["type"] == "timer"
    assert metrics["sync_duration"]["value"] >= 0
    assert all(m["tags"] == {"stream": FQN} for m in metrics.values())


def _stored(run) -> dict:
    """The state file's bookmarks. Parsing it checks that it is not torn."""
    bookmarks = json.loads(run.state_path.read_text())["bookmarks"]
    return {fqn: bm["replication_key_value"] for fqn, bm in bookmarks.items()}


def _delivered(spark, run, base) -> dict[str, set]:
    """The ids each stream emitted as RECORD lines or committed to its
    versioned table under ``base``."""
    out: dict[str, set] = {}
    for ln in run.lines:
        msg = json.loads(ln)
        if msg["type"] == "RECORD":
            out.setdefault(msg["stream"], set()).add(msg["record"]["id"])
    for fqn in os.listdir(base) if os.path.isdir(base) else []:
        rows = versioned.read_version(spark, str(base / fqn)).collect()
        out[fqn] = {r.id for r in rows}
    return out


def _torn_dump(obj, fh, **kwargs):
    fh.write(json.dumps(obj, **kwargs)[:10])
    raise Injected("flush failed mid-write")


@pytest.mark.parametrize("target", ["record", "versioned"])
@pytest.mark.parametrize("fault", ["extract", "set_bookmark", "flush"])
def test_state_file_never_runs_ahead_of_delivery(
    spark, fault_src, tmp_path, monkeypatch, fault, target
):
    """Two streams synced by ``sync_all(parallel=2)``, so the second is
    planned on a worker while the first is emitted, and fetched there too
    unless it persists a snapshot equal to the first's. A fault in the
    second stream's extract (raised on that worker), in ``set_bookmark``
    or inside ``flush``'s write stops the sync. The state file still
    parses, no temp file is left beside it, every bookmark in it is
    covered by rows emitted or committed, no snapshot stays cached, and a
    restart from the file delivers both slices (the keyed upsert exactly
    once)."""
    streams = [_spec(), dataclasses.replace(_spec(), name="faults_b")]
    run = Run(spark, tmp_path, streams=streams)
    base = tmp_path / "vt"

    def sync():
        commit = run.tap.versioned_commits(str(base)) if target == "versioned" else None
        return run.tap.sync_all(parallel=2, commit=commit)

    threads = []
    if fault == "extract":
        real_extract = SparkTap._extract

        def extract(self, spec):
            if spec.name == "faults_b":
                threads.append(threading.current_thread())
                raise Injected("extract failed")
            return real_extract(self, spec)

        monkeypatch.setattr(SparkTap, "_extract", extract)
    elif fault == "set_bookmark":
        monkeypatch.setattr(StateStore, "set_bookmark", _raise)
    else:
        monkeypatch.setattr(
            state_mod, "json", types.SimpleNamespace(dump=_torn_dump, load=json.load)
        )

    rdds = _persisted_rdds(spark)
    with pytest.raises(Injected):
        sync()

    if fault == "extract":
        assert threads and threads[0] is not threading.current_thread()
    stored = _stored(run)
    assert not os.path.exists(f"{run.state_path}.tmp")
    # a commit target flushes each stream's bookmark after its commit
    flushed = fault == "extract" and target == "versioned"
    assert stored == {FQN: 5 if flushed else START, SECOND: START}
    delivered = _delivered(spark, run, base)
    for fqn, bm in stored.items():
        assert set(range(START + 1, bm + 1)) <= delivered.get(fqn, set())
    if fault != "flush" or target == "versioned":
        assert SECOND not in delivered  # no stream after the failure
    assert _persisted_rdds(spark) == rdds

    monkeypatch.undo()
    run.restart()
    res = sync()
    assert [r.stream for r in res] == [FQN, SECOND]
    assert _stored(run) == {FQN: 5, SECOND: 5}
    delivered = _delivered(spark, run, base)
    assert delivered[FQN] >= {2, 3, 4, 5} and delivered[SECOND] >= {2, 3, 4, 5}
    if target == "versioned":
        assert delivered == {FQN: {2, 3, 4, 5}, SECOND: {2, 3, 4, 5}}
