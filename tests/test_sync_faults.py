"""Injected delivery failures against the one extract → deliver → bookmark
scaffold (``SparkTap._sync``).

Each target's delivery is made to raise: RECORD messages on the Arrow path
and on the persisted path, BATCH files, the versioned table's commit and
the JDBC writer. After the failure the sync must have left no trace in
state: the stored bookmark is the one it started from, no STATE line
followed, the state file was not rewritten, and no persisted snapshot was
left cached. A re-run then delivers the slice and advances the bookmark.
"""

from __future__ import annotations

import json
import logging
import os

import pytest

from youcruit_tap_rawpostgresql_spark import sink
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
    """A tap over a state file that holds ``START`` for the stream, with
    its Singer output captured line by line."""

    def __init__(self, spark, tmp_path, **cfg):
        self.state_path = tmp_path / "state.json"
        seed = StateStore(str(self.state_path))
        seed.set_bookmark(FQN, "id", START)
        seed.flush()
        self.lines: list[str] = []
        self.tap = SparkTap(
            TapConfig(streams=[_spec()], **cfg),
            spark,
            state=StateStore(str(self.state_path)),
            write=self.lines.append,
        )

    def types(self) -> list[str]:
        return [json.loads(ln)["type"] for ln in self.lines]

    def file_snapshot(self):
        st = os.stat(self.state_path)
        return self.state_path.read_bytes(), st.st_mtime_ns


def _raise_after(real):
    """``real``, run to completion, then an injected failure: the
    delivery's Spark work (and any Observation) finished, but the
    delivery as a whole did not."""

    def fail(*args, **kwargs):
        real(*args, **kwargs)
        raise Injected("delivery failed")

    return fail


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
        monkeypatch.setattr(
            tap_mod, "write_batch_files", _raise_after(tap_mod.write_batch_files)
        )
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
