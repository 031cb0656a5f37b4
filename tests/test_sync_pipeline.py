"""The pipelined sequential ``SparkTap.sync_all``: a worker thread plans
stream i+1 while the calling thread delivers stream i.

The output must not show the pipeline: the lines, the final state and the
results equal per-stream ``sync_stream`` calls, on the Arrow, persisted and
streamed RECORD paths, with maps and a ``__source__`` alias; the versioned
tables equal per-stream ``sync_stream_to_versioned`` calls. Planning runs
no Spark job and caches nothing. A failed delivery or commit stops the
sync with no trace of the streams after it; a failed plan surfaces only
once the stream before it is fully out. The planner runs under the
caller's job group.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import pytest

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark import tap as tap_mod
from youcruit_tap_rawpostgresql_spark.spec import ColumnSpec, StreamSpec, TapConfig
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

TS_START = "2023-11-14 00:00:00"


class Injected(RuntimeError):
    pass


@pytest.fixture
def pipe_src(spark):
    for view, n in (("pipe_small", 5), ("pipe_big", 3000)):
        spark.sql(
            f"SELECT id, concat('n', id) AS name, id % 3 AS grp, "
            f"timestamp_seconds(1700000000 + id * 61) AS ts "
            f"FROM range(1, {n + 1})"
        ).createOrReplaceTempView(view)
    yield
    for view in ("pipe_small", "pipe_big"):
        spark.catalog.dropTempView(view)


def _specs() -> list[StreamSpec]:
    return [
        # in the RECORD budget: one observed Arrow action
        StreamSpec(
            name="small",
            sql="SELECT id, name, ts FROM pipe_small WHERE ts > :rep_key_val",
            columns=[
                ColumnSpec("id", "int8", nullable=False),
                ColumnSpec("name", "text"),
                ColumnSpec("ts", "datetime"),
            ],
            key_properties=["id"],
            replication_key="ts",
            replication_key_value_start=TS_START,
        ),
        # over the budget, keyed: persisted snapshot + one aggregate
        StreamSpec(
            name="big",
            sql="SELECT id, name, grp FROM pipe_big WHERE id > :rep_key_val",
            columns=[
                ColumnSpec("id", "int8", nullable=False),
                ColumnSpec("name", "text"),
                ColumnSpec("grp", "int8"),
            ],
            key_properties=["id"],
            replication_key="id",
            replication_key_value_start=0,
        ),
        # over the budget, keyless: streamed, no bookmark
        StreamSpec(
            name="flat",
            sql="SELECT id, name FROM pipe_big WHERE grp = 1",
            columns=[
                ColumnSpec("id", "int8", nullable=False),
                ColumnSpec("name", "text"),
            ],
        ),
    ]


STREAM_MAPS = {
    "small": {"filter": "id <> 2", "derive": {"shout": "upper(name)"}},
    "big": {"filter": "grp <> 0"},
    "small_alias": {"__source__": "small", "filter": "id >= 3"},
}


def _config() -> TapConfig:
    return TapConfig(streams=_specs(), stream_maps=STREAM_MAPS)


def _split_budget(spark, monkeypatch) -> None:
    """Set the RECORD budget between the small and the big extract, so one
    config takes all three RECORD paths."""
    small = sink.estimated_size_bytes(spark.table("pipe_small"))
    big = sink.estimated_size_bytes(spark.table("pipe_big"))
    assert small is not None and big is not None and small < big
    monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", (small + big) // 2)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _tap(spark, path=None, lines=None, config=None) -> SparkTap:
    write = lines.append if lines is not None else (lambda _line: None)
    return SparkTap(
        config or _config(),
        spark,
        state=StateStore(path and str(path)),
        write=write,
    )


def _streams(lines: list[str]) -> list[tuple[str, str]]:
    out = []
    for ln in lines:
        msg = json.loads(ln)
        out.append((msg["type"], msg.get("stream", "")))
    return out


def test_pipelined_sync_all_equals_per_stream_syncs(
    spark, pipe_src, tmp_path, monkeypatch
):
    _split_budget(spark, monkeypatch)
    piped_lines: list[str] = []
    ref_lines: list[str] = []
    piped = _tap(spark, tmp_path / "piped.json", piped_lines)
    ref = _tap(spark, tmp_path / "ref.json", ref_lines)
    streams = piped._effective_streams()
    assert [s.name for s in streams] == ["small", "big", "flat", "small_alias"]
    assert [piped._plan(s).mode for s in streams] == [
        "observe", "persist", "stream", "observe",
    ]

    rdds = _persisted_rdds(spark)
    # twice: the second sync starts from the bookmarks the first stored
    for _ in range(2):
        got = piped.sync_all()
        want = [ref.sync_stream(s) for s in ref._effective_streams()]
        ref.state.flush()
        assert [(r.stream, r.record_count, r.new_bookmark) for r in got] == [
            (r.stream, r.record_count, r.new_bookmark) for r in want
        ]
        assert piped_lines == ref_lines
        assert (tmp_path / "piped.json").read_bytes() == (
            tmp_path / "ref.json"
        ).read_bytes()
    assert _persisted_rdds(spark) == rdds

    counts = [r.record_count for r in want]
    assert counts == [0, 0, 1000, 0]  # the keyless stream re-emits
    bookmarks = json.loads(piped_lines[-1])["value"]["bookmarks"]
    assert bookmarks["spark-public-big"]["replication_key_value"] == 3000
    assert bookmarks["spark-public-small"]["replication_key_value"] == (
        "2023-11-14 22:18:25"
    )


def test_stream_sharing_a_bookmark_is_planned_after_it(spark, pipe_src, tmp_path):
    """Two streams under one fully qualified name share a bookmark: the
    second reads the bookmark the first stored, as in per-stream syncs."""
    small = _specs()[0]
    config = TapConfig(streams=[small, small])
    piped_lines: list[str] = []
    ref_lines: list[str] = []
    piped = _tap(spark, tmp_path / "piped.json", piped_lines, config)
    ref = _tap(spark, tmp_path / "ref.json", ref_lines, config)
    got = piped.sync_all()
    want = [ref.sync_stream(s) for s in ref._effective_streams()]
    assert [r.record_count for r in got] == [r.record_count for r in want] == [5, 0]
    assert piped_lines == ref_lines


def test_plan_runs_no_job_and_caches_nothing(
    spark, pipe_src, monkeypatch, jobs_in
):
    _split_budget(spark, monkeypatch)
    tap = _tap(spark)
    rdds = _persisted_rdds(spark)
    plans = []

    def plan_all():
        specs = tap._effective_streams()
        plans.extend(tap._plan(s) for s in specs)
        plans.append(tap._plan(specs[0], batch=True))
        plans.append(tap._plan(specs[1], commit=True))

    assert jobs_in(plan_all) == 0
    assert [p.mode for p in plans] == [
        "observe", "persist", "stream", "observe", "observe", "persist",
    ]
    for p in plans:
        for frame in (p.premap, p.df):
            level = frame.storageLevel
            assert not (level.useMemory or level.useDisk or level.useOffHeap)
    assert _persisted_rdds(spark) == rdds


def test_maps_built_before_the_persist_read_the_snapshot(
    spark, pipe_src, monkeypatch
):
    """The plan maps the extract before the delivery persists it. The mapped
    frame must still read the persisted snapshot, so the delivery's
    aggregate (count, bookmark) and its output come from one execution."""
    _split_budget(spark, monkeypatch)
    plan = _tap(spark)._plan(_specs()[1])
    assert plan.mode == "persist" and plan.df is not plan.premap
    plan.premap.persist()
    try:
        optimized = plan.df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        plan.premap.unpersist()
    assert "InMemoryRelation" in optimized


def test_failed_delivery_stops_the_pipeline(
    spark, pipe_src, tmp_path, monkeypatch
):
    """The big stream's delivery raises after its first RECORD line while
    the flat stream is being planned: nothing of the flat stream or of the
    streams after it reaches the output or state, no state is flushed,
    and the big stream's snapshot is released."""
    _split_budget(spark, monkeypatch)
    path = tmp_path / "state.json"
    seed = StateStore(str(path))
    seed.set_bookmark("spark-public-big", "id", 7)
    seed.flush()
    before = (path.read_bytes(), os.stat(path).st_mtime_ns)
    lines: list[str] = []
    tap = _tap(spark, path, lines)

    planned = []
    real_plan = SparkTap._plan

    def plan(self, spec, *args, **kwargs):
        p = real_plan(self, spec, *args, **kwargs)
        planned.append(spec.name)
        return p

    real_emit = tap_mod.emit_record_messages

    def emit(df, spec, write, collect=None):
        if spec.name != "big":
            return real_emit(df, spec, write, collect=collect)

        def fail_after_first(line):
            write(line)
            raise Injected("delivery failed")

        return real_emit(df, spec, fail_after_first, collect=collect)

    monkeypatch.setattr(SparkTap, "_plan", plan)
    monkeypatch.setattr(tap_mod, "emit_record_messages", emit)
    rdds = _persisted_rdds(spark)
    with pytest.raises(Injected):
        tap.sync_all()

    assert planned == ["small", "big", "flat"]  # flat's plan was in flight
    out = _streams(lines)
    small = [("SCHEMA", "spark-public-small")] + [("RECORD", "spark-public-small")] * 4
    assert out == small + [
        ("STATE", ""),
        ("SCHEMA", "spark-public-big"),
        ("RECORD", "spark-public-big"),
    ]
    assert tap.state.get_bookmark("spark-public-big", "id") == 7
    assert tap.state.get_bookmark("spark-public-flat") is None
    assert tap.state.get_bookmark("spark-public-small_alias") is None
    assert (path.read_bytes(), os.stat(path).st_mtime_ns) == before
    assert _persisted_rdds(spark) == rdds


def test_failed_plan_surfaces_after_the_stream_before_it(
    spark, pipe_src, tmp_path, monkeypatch
):
    """The big stream's plan raises on the planner thread while the small
    stream delivers. The error reaches the caller only after the small
    stream's lines and STATE are out; nothing of the big stream is."""
    path = tmp_path / "state.json"
    lines: list[str] = []
    tap = _tap(spark, path, lines)
    real_extract = SparkTap._extract
    planner_threads = []

    def extract(self, spec):
        if spec.name == "big":
            planner_threads.append(threading.current_thread())
            raise Injected("plan failed")
        return real_extract(self, spec)

    monkeypatch.setattr(SparkTap, "_extract", extract)
    with pytest.raises(Injected):
        tap.sync_all()

    assert planner_threads and planner_threads[0] is not threading.current_thread()
    out = _streams(lines)
    assert out[0] == ("SCHEMA", "spark-public-small")
    assert out[-1] == ("STATE", "")
    assert {s for _t, s in out} == {"spark-public-small", ""}
    state = json.loads(lines[-1])["value"]["bookmarks"]
    assert list(state) == ["spark-public-small"]
    assert not path.exists()  # sync_all's final flush never ran


def test_planner_inherits_the_callers_job_group(spark, pipe_src, monkeypatch):
    tap = _tap(spark)
    sc = spark.sparkContext
    group = f"sync-{uuid.uuid4().hex}"
    seen = []
    real_plan = SparkTap._plan

    def plan(self, spec, *args, **kwargs):
        seen.append(
            (
                threading.current_thread() is main,
                sc.getLocalProperty("spark.jobGroup.id"),
            )
        )
        return real_plan(self, spec, *args, **kwargs)

    main = threading.current_thread()
    monkeypatch.setattr(SparkTap, "_plan", plan)
    sc.setJobGroup(group, "pipelined sync")
    try:
        tap.sync_all()
    finally:
        sc._jsc.clearJobGroup()
    # the first stream is planned on the calling thread, the rest ahead
    assert seen == [(True, group)] + [(False, group)] * 3


def test_pipeline_runs_outside_pinned_thread_mode(
    spark, pipe_src, tmp_path, monkeypatch
):
    import pyspark

    # with PYSPARK_PIN_THREAD=false pyspark returns its argument unchanged
    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    piped_lines: list[str] = []
    ref_lines: list[str] = []
    piped = _tap(spark, tmp_path / "piped.json", piped_lines)
    ref = _tap(spark, tmp_path / "ref.json", ref_lines)
    got = piped.sync_all()
    want = [ref.sync_stream(s) for s in ref._effective_streams()]
    ref.state.flush()
    assert [(r.stream, r.record_count) for r in got] == [
        (r.stream, r.record_count) for r in want
    ]
    assert piped_lines == ref_lines


def _versioned_specs() -> list[StreamSpec]:
    cols = [ColumnSpec("id", "int8", nullable=False), ColumnSpec("grp", "int8")]
    return [
        # keyed: a snapshot, then a pruned upsert of the new ids
        StreamSpec(
            name="keyed",
            sql="SELECT id, grp FROM vsync_src WHERE id > :rep_key_val",
            columns=cols,
            key_properties=["id"],
            replication_key="id",
            replication_key_value_start=0,
        ),
        # keyless: a snapshot, then an append of the new ids
        StreamSpec(
            name="appended",
            sql="SELECT id, grp FROM vsync_src WHERE grp = 1",
            columns=cols,
            replication_key="id",
            replication_key_value_start=0,
        ),
    ]


def _versioned_tables(spark, base) -> dict:
    """Every version of every table under ``base``: its sorted rows."""
    from youcruit_tap_rawpostgresql_spark.sources import versioned

    return {
        name: [
            sorted(tuple(r) for r in versioned.read_version(spark, root, v).collect())
            for v in versioned.list_versions(root)
        ]
        for name in sorted(os.listdir(base))
        for root in [os.path.join(base, name)]
    }


def test_versioned_sync_all_equals_per_stream_syncs(spark, tmp_path):
    """``sync_all`` with versioned commits, pipelined and with two workers,
    commits the same versions, rows and state as per-stream
    ``sync_stream_to_versioned`` calls, over a snapshot sync and an
    upsert (keyed) or append (keyless) sync."""
    runs = ("ref", "piped", "parallel")
    taps = {
        run: SparkTap(
            TapConfig(streams=_versioned_specs()),
            spark,
            state=StateStore(str(tmp_path / f"{run}.json")),
        )
        for run in runs
    }
    try:
        for n in (5, 8):
            src = spark.range(1, n + 1).selectExpr("id", "id % 2 AS grp")
            src.createOrReplaceTempView("vsync_src")
            ref = taps["ref"]
            want = [
                ref.sync_stream_to_versioned(
                    s, str(tmp_path / "ref" / s.fully_qualified_name)
                )
                for s in ref._effective_streams()
            ]
            for run, parallel in (("piped", 1), ("parallel", 2)):
                tap = taps[run]
                got = tap.sync_all(
                    parallel=parallel,
                    commit=tap.versioned_commits(str(tmp_path / run)),
                )
                assert [(r.stream, r.record_count, r.new_bookmark) for r in got] == [
                    (r.stream, r.record_count, r.new_bookmark) for r in want
                ]
    finally:
        spark.catalog.dropTempView("vsync_src")

    odd = [(1, 1), (3, 1), (5, 1)]
    tables = _versioned_tables(spark, tmp_path / "ref")
    assert tables == {
        "spark-public-appended": [odd, odd + [(7, 1)]],
        "spark-public-keyed": [
            [(i, i % 2) for i in range(1, 6)],
            [(i, i % 2) for i in range(1, 9)],
        ],
    }
    for run in runs[1:]:
        assert _versioned_tables(spark, tmp_path / run) == tables
        assert (tmp_path / f"{run}.json").read_bytes() == (
            tmp_path / "ref.json"
        ).read_bytes()


def test_failed_commit_stops_the_versioned_pipeline(spark, tmp_path):
    """The first stream's commit raises while the second is being planned:
    the second stream commits nothing and its bookmark stays put."""
    from youcruit_tap_rawpostgresql_spark.sources import versioned

    path = tmp_path / "state.json"
    seed = StateStore(str(path))
    seed.set_bookmark("spark-public-appended", "id", 2)
    seed.flush()
    before = path.read_bytes()
    tap = SparkTap(
        TapConfig(streams=_versioned_specs()), spark, state=StateStore(str(path))
    )
    commits = tap.versioned_commits(str(tmp_path / "vt"))

    def commit(spec):
        if spec.name != "keyed":
            return commits(spec)

        def fail(df):
            raise Injected("commit failed")

        return fail

    spark.range(1, 6).selectExpr("id", "id % 2 AS grp").createOrReplaceTempView(
        "vsync_src"
    )
    try:
        with pytest.raises(Injected):
            tap.sync_all(parallel=1, commit=commit)
    finally:
        spark.catalog.dropTempView("vsync_src")
    appended = tmp_path / "vt" / "spark-public-appended"
    assert versioned.current_version(str(appended)) is None
    assert tap.state.get_bookmark("spark-public-appended", "id") == 2
    assert tap.state.get_bookmark("spark-public-keyed") is None
    assert path.read_bytes() == before
