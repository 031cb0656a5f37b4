"""Whole-stage codegen and the RECORD delivery (``SparkTap._sync``).

A RECORD sync (``sync_stream``, or ``sync_all`` with neither BATCH mode nor
a commit) plans and runs with ``spark.sql.codegen.wholeStage`` off: each
sync binds a new bookmark literal into the stage source, so a fused stage
would compile anew on every sync. BATCH writes and table commits keep
whole-stage codegen, and the session's own setting is back after every
sync, also after a failed one and at ``parallel`` > 1.
"""

from __future__ import annotations

import json

import pytest

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark.spec import (
    BatchSinkConfig,
    ColumnSpec,
    StreamSpec,
    TapConfig,
)
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

KEY = "spark.sql.codegen.wholeStage"


class Injected(RuntimeError):
    pass


@pytest.fixture
def codegen_src(spark):
    spark.sql(
        "SELECT id, concat('n', id) AS name, id * 2 AS twice FROM range(1, 60)"
    ).createOrReplaceTempView("codegen_src")
    yield
    spark.catalog.dropTempView("codegen_src")


def _spec(name: str = "cg") -> StreamSpec:
    return StreamSpec(
        name=name,
        sql="SELECT id, name, twice FROM codegen_src "
        "WHERE twice % 3 <> 1 AND id > :rep_key_val",
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("name", "text"),
            ColumnSpec("twice", "int8"),
        ],
        key_properties=["id"],
        replication_key="id",
        replication_key_value_start=0,
    )


def _tap(spark, tmp_path, streams=None, **cfg) -> SparkTap:
    config = TapConfig(streams=streams or [_spec()], **cfg)
    tmp_path.mkdir(exist_ok=True)
    state = StateStore(str(tmp_path / "state.json"))
    return SparkTap(config, spark, state=state, write=lambda _line: None)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _wholestage(spark):
    return spark.conf.get(KEY, None)


def _set(spark, value):
    if value is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, value)


def test_record_sync_with_new_bookmark_compiles_once(spark, codegen_src, tmp_path):
    """A RECORD sync whose bookmark moved compiles one class, the filter
    predicate that holds the new literal, and reuses the rest. With
    whole-stage codegen the new literal in the fused stage's source
    compiled that stage twice, on the driver and in the task (the codegen
    cache is keyed per classloader)."""
    _set(spark, None)
    fqn = _spec().fully_qualified_name
    counts = []
    for bookmark in (0, 7, 13):
        tap = _tap(spark, tmp_path)
        tap.state.set_bookmark(fqn, "id", bookmark)
        before = _compiles(spark)
        tap.sync_all()
        counts.append(_compiles(spark) - before)
    assert max(counts[1:]) <= 1, counts


@pytest.mark.parametrize("before", [None, "true", "false"])
@pytest.mark.parametrize("how", ["ok", "collect_fails", "emit_fails"])
def test_record_sync_restores_the_session_setting(
    spark, codegen_src, tmp_path, monkeypatch, before, how
):
    """At k = 2 the second stream is fetched on a worker while the first
    is emitted. Whole-stage codegen is off while RECORD lines are written,
    and after the sync, or a fault in the Arrow collect or in the emit
    (both inside the delivery), the setting reads as it did before."""
    streams = [_spec(), _spec("cg_b")]
    seen = []  # the setting as each RECORD line is written
    fail_on_record = how == "emit_fails"

    def write(line):
        if json.loads(line)["type"] == "RECORD":
            seen.append(_wholestage(spark))
            if fail_on_record:
                raise Injected("write failed")

    tap = _tap(spark, tmp_path, streams=streams)
    tap.write = write
    if how == "collect_fails":
        frame = type(spark.range(1))  # the classic DataFrame class
        real = frame._collect_as_arrow
        calls = []

        def collect(self, *args, **kwargs):
            calls.append(1)
            if len(calls) == 2:
                raise Injected("collect failed")
            return real(self, *args, **kwargs)

        monkeypatch.setattr(frame, "_collect_as_arrow", collect)
    elif how == "emit_fails":
        monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)  # persist mode
    _set(spark, before)
    try:
        if how == "ok":
            tap.sync_all(parallel=2)
        else:
            with pytest.raises(Injected):
                tap.sync_all(parallel=2)
        assert _wholestage(spark) == before
    finally:
        _set(spark, None)
    assert seen and set(seen) == {"false"}


def _codegen_ids(spark, fn) -> list[bool]:
    """For each SQL execution ``fn()`` starts: whether its physical plan
    has a whole-stage codegen stage."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last(n: int) -> list:
        bus.waitUntilEmpty()
        tail = store.executionsList(max(0, store.executionsCount() - n), n)
        return [tail.apply(i) for i in range(tail.size())]

    seen = max((e.executionId() for e in last(1)), default=-1)
    fn()
    return [
        "codegen id" in e.physicalPlanDescription()
        for e in last(50)
        if e.executionId() > seen
    ]


def test_only_record_deliveries_turn_wholestage_off(spark, codegen_src, tmp_path):
    """A RECORD sync's executions plan no whole-stage codegen stage; a
    BATCH sync and a versioned commit still do."""
    _set(spark, None)
    record = _codegen_ids(spark, _tap(spark, tmp_path / "r").sync_all)
    assert record and not any(record)
    one = _tap(spark, tmp_path / "s")
    record = _codegen_ids(spark, lambda: one.sync_stream(_spec()))
    assert record and not any(record)
    assert _wholestage(spark) is None
    batch_cfg = BatchSinkConfig(root=f"file://{tmp_path}/batches")
    batch_tap = _tap(spark, tmp_path / "b", batch=batch_cfg)
    assert any(_codegen_ids(spark, lambda: batch_tap.sync_all(batch_mode=True)))
    vtap = _tap(spark, tmp_path / "v")
    versioned = _codegen_ids(
        spark, lambda: vtap.sync_all(commit=vtap.versioned_commits(str(tmp_path / "vt")))
    )
    assert any(versioned)
    assert _wholestage(spark) is None
