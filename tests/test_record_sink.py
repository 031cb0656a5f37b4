"""RECORD sink: golden lines, bookmark consistency, the over-budget path,
the size probe, and bookmarks and lines that must not depend on the
driver's zone.

The expected RECORD lines are written out literally: they are the Singer
wire format targets parse, so a serialization change must show up here as
a diff of bytes, not as a re-derived expectation.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import json
import logging
import time

import pytest

from youcruit_tap_rawpostgresql_spark import sink
from youcruit_tap_rawpostgresql_spark import tap as tap_mod
from youcruit_tap_rawpostgresql_spark.operators.incremental import bookmark_max
from youcruit_tap_rawpostgresql_spark.spec import (
    BatchSinkConfig,
    ColumnSpec,
    StreamSpec,
    TapConfig,
)
from youcruit_tap_rawpostgresql_spark.state import StateStore
from youcruit_tap_rawpostgresql_spark.tap import SparkTap

GOLDEN_SQL = """
SELECT * FROM VALUES
  (1,
   timestamp'2021-11-22 11:45:11.062824', timestamp'2021-11-22 11:45:11',
   timestamp_ntz'2021-11-22 11:45:11.5', timestamp_ntz'2021-11-22 11:45:11',
   date'2024-01-02', CAST(12.34 AS DECIMAL(12,2)), CAST('abc' AS BINARY),
   named_struct('k', 7, 'at', timestamp'2020-01-01 00:00:00'),
   array(CAST(1.5 AS DECIMAL(4,1)), CAST(2.0 AS DECIMAL(4,1))),
   map('a', 1, 'b', 2),
   named_struct('m', map(3, date'2024-02-29')),
   array(map('x', CAST('hi' AS BINARY)), map('y', CAST('' AS BINARY))),
   CAST(0.25 AS FLOAT), 'text "quoted"', true),
  (2,
   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
   NULL, NULL, NULL)
AS t(id, ts, ts0, ntz, ntz0, d, amount, blob, st, amts, m, sm, am, f, s, b)
"""

GOLDEN_LINES = [
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 1, "ts": "2021-11-22T11:45:11.062824+00:00", '
    '"ts0": "2021-11-22T11:45:11+00:00", '
    '"ntz": "2021-11-22T11:45:11.500000+00:00", '
    '"ntz0": "2021-11-22T11:45:11+00:00", "d": "2024-01-02", '
    '"amount": 12.34, "blob": "YWJj", '
    '"st": {"k": 7, "at": "2020-01-01T00:00:00+00:00"}, '
    '"amts": [1.5, 2.0], "m": {"a": 1, "b": 2}, '
    '"sm": {"m": {"3": "2024-02-29"}}, '
    '"am": [{"x": "aGk="}, {"y": ""}], "f": 0.25, '
    '"s": "text \\"quoted\\"", "b": true}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 2, "ts": null, "ts0": null, "ntz": null, "ntz0": null, '
    '"d": null, "amount": null, "blob": null, "st": null, "amts": null, '
    '"m": null, "sm": null, "am": null, "f": null, "s": null, "b": null}}\n',
]


# three partitions of two rows each: the lines must keep partition order
PARTITIONED_SQL = """
SELECT id,
       timestampadd(HOUR, CAST(id AS INT), timestamp'2021-11-22 11:45:11.062824') AS ts,
       named_struct('k', id, 'd', date_add(date'2024-02-28', CAST(id AS INT))) AS st,
       map('n', id * 10) AS m
FROM range(0, 6, 1, 3)
"""

PARTITIONED_LINES = [
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 0, "ts": "2021-11-22T11:45:11.062824+00:00", '
    '"st": {"k": 0, "d": "2024-02-28"}, "m": {"n": 0}}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 1, "ts": "2021-11-22T12:45:11.062824+00:00", '
    '"st": {"k": 1, "d": "2024-02-29"}, "m": {"n": 10}}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 2, "ts": "2021-11-22T13:45:11.062824+00:00", '
    '"st": {"k": 2, "d": "2024-03-01"}, "m": {"n": 20}}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 3, "ts": "2021-11-22T14:45:11.062824+00:00", '
    '"st": {"k": 3, "d": "2024-03-02"}, "m": {"n": 30}}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 4, "ts": "2021-11-22T15:45:11.062824+00:00", '
    '"st": {"k": 4, "d": "2024-03-03"}, "m": {"n": 40}}}\n',
    '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
    '"id": 5, "ts": "2021-11-22T16:45:11.062824+00:00", '
    '"st": {"k": 5, "d": "2024-03-04"}, "m": {"n": 50}}}\n',
]


def _spec(name: str, **kw) -> StreamSpec:
    return StreamSpec(
        name=name, sql="x", columns=[ColumnSpec("id", "int8")],
        key_properties=["id"], **kw,
    )


@pytest.fixture
def utc_driver(monkeypatch):
    """Pin the driver process's zone to UTC; ``driver_tz`` sets others."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture
def driver_tz(monkeypatch):
    def set_tz(name: str) -> None:
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize(
    "collect, sql, lines",
    [
        pytest.param(True, GOLDEN_SQL, GOLDEN_LINES, id="arrow"),
        pytest.param(False, GOLDEN_SQL, GOLDEN_LINES, id="streaming"),
        pytest.param(True, PARTITIONED_SQL, PARTITIONED_LINES, id="arrow-partitioned"),
        pytest.param(False, PARTITIONED_SQL, PARTITIONED_LINES, id="streaming-partitioned"),
    ],
)
def test_record_lines_golden_bytes(spark, utc_driver, collect, sql, lines):
    """Every type the serializer (``sink.records``) handles, on both
    RECORD paths: aware/naive timestamps (with and without microseconds),
    date, Decimal, binary, struct, array, MapType at the top level and
    nested in a struct and an array (Arrow returns maps as key/value
    pairs), and a row of nulls. A frame of several partitions keeps its
    row order on both paths."""
    df = spark.sql(sql)
    if sql is PARTITIONED_SQL:
        assert df.rdd.getNumPartitions() == 3
    out = io.StringIO()
    n = sink.emit_record_messages(df, _spec("golden"), out.write, collect=collect)
    assert n == len(lines)
    assert out.getvalue() == "".join(lines)


def test_record_line_body_loads_without_the_package(tmp_path):
    """The over-budget path's ``mapInArrow`` body runs in Python workers
    that need not import this package: pickled as Spark ships it, it
    loads and writes RECORD lines in a process whose cwd and
    ``sys.path`` both exclude the repo. No JVM is involved."""
    import functools
    import os
    import subprocess
    import sys

    import pyarrow as pa
    from pyspark import cloudpickle

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the instant 2021-11-22 11:45:11.062824 UTC, as a Tokyo-zoned column
    utc_ts = pa.array([dt.datetime(2021, 11, 22, 11, 45, 11, 62824), None])
    batch = pa.RecordBatch.from_pydict({
        "id": [1, 2],
        "ts": utc_ts.cast(pa.timestamp("us", tz="Asia/Tokyo")),
        "m": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int64())),
    })
    body = functools.partial(sink._line_batches, "spark-public-golden")
    script = (
        "import pickle, sys\n"
        "body, batches = pickle.loads(sys.stdin.buffer.read())\n"
        "assert not any(p.startswith(sys.argv[1]) for p in sys.path), sys.path\n"
        "assert 'youcruit_tap_rawpostgresql_spark' not in sys.modules\n"
        "for out in body(batches):\n"
        "    sys.stdout.write(''.join(out.column(0).to_pylist()))\n"
    )
    res = subprocess.run(
        [sys.executable, "-I", "-c", script, root],
        input=cloudpickle.dumps((body, [batch])),
        capture_output=True,
        cwd=tmp_path,
        check=False,
    )
    assert res.returncode == 0, res.stderr.decode()
    assert res.stdout.decode() == (
        '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
        '"id": 1, "ts": "2021-11-22T11:45:11.062824+00:00", "m": {"a": 1}}}\n'
        '{"type": "RECORD", "stream": "spark-public-golden", "record": {'
        '"id": 2, "ts": null, "m": null}}\n'
    )


@pytest.mark.parametrize("collect", [True, False], ids=["arrow", "streaming"])
def test_record_lines_empty_result(spark, collect):
    out = io.StringIO()
    df = spark.sql(GOLDEN_SQL).where("id < 0")
    assert sink.emit_record_messages(df, _spec("golden"), out.write, collect=collect) == 0
    assert out.getvalue() == ""


def test_arrow_records_ignore_driver_zone(spark, driver_tz):
    """Arrow hands TIMESTAMP values over as UTC-aware datetimes, so the
    collected lines read the same instant whatever the driver's zone."""
    driver_tz("America/New_York")
    out = io.StringIO()
    sink.emit_record_messages(
        spark.sql(GOLDEN_SQL), _spec("golden"), out.write, collect=True
    )
    assert out.getvalue() == "".join(GOLDEN_LINES)


@pytest.mark.parametrize("zone", ["Asia/Tokyo", "America/New_York"])
def test_streamed_records_ignore_driver_zone(spark, driver_tz, monkeypatch, zone):
    """The partition-at-a-time path serializes on the Python workers and
    streams the lines to the driver; whatever the driver's zone, they
    must equal the Arrow path's."""
    monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)
    driver_tz(zone)
    out = io.StringIO()
    sink.emit_record_messages(spark.sql(GOLDEN_SQL), _spec("golden"), out.write)
    assert out.getvalue() == "".join(GOLDEN_LINES)


@pytest.mark.parametrize("zone", ["Asia/Tokyo", "America/New_York"])
def test_streamed_nested_timestamps_ignore_driver_zone(spark, driver_tz, monkeypatch, zone):
    """TIMESTAMP values nested in arrays, map values and structs inside
    arrays; TIMESTAMP_NTZ beside them stays unshifted."""
    monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)
    driver_tz(zone)
    df = spark.sql(
        "SELECT array(timestamp'2021-11-22 11:45:11.062824', NULL) AS a, "
        "map('x', timestamp'2021-03-28 01:30:00') AS m, "
        "array(named_struct('t', timestamp'2020-01-01 00:00:00', "
        "'n', timestamp_ntz'2020-01-01 00:00:00')) AS s"
    )
    want = (
        '{"type": "RECORD", "stream": "spark-public-nested", "record": {'
        '"a": ["2021-11-22T11:45:11.062824+00:00", null], '
        '"m": {"x": "2021-03-28T01:30:00+00:00"}, '
        '"s": [{"t": "2020-01-01T00:00:00+00:00", "n": "2020-01-01T00:00:00+00:00"}]}}\n'
    )
    streamed, arrow = io.StringIO(), io.StringIO()
    sink.emit_record_messages(df, _spec("nested"), streamed.write)
    sink.emit_record_messages(df, _spec("nested"), arrow.write, collect=True)
    assert streamed.getvalue() == arrow.getvalue() == want


@pytest.fixture
def rec_src(spark):
    """Five rows, id 1..5, ts one hour apart from 2021-11-22 07:45:11.062824
    UTC; the max ts is 2021-11-22 11:45:11.062824."""
    spark.sql(
        "SELECT id, timestampadd(HOUR, CAST(id AS INT), "
        "timestamp'2021-11-22 06:45:11.062824') AS ts, "
        "concat('n', id) AS name FROM range(1, 6)"
    ).createOrReplaceTempView("rec_src")
    yield "rec_src"
    spark.catalog.dropTempView("rec_src")


def _stream(rk: str, start, name: str = "rec") -> StreamSpec:
    return StreamSpec(
        name=name,
        sql=f"SELECT id, ts, name FROM rec_src WHERE {rk} > :rep_key_val",
        columns=[
            ColumnSpec("id", "int8", nullable=False),
            ColumnSpec("ts", "timestamptz"),
            ColumnSpec("name", "text"),
        ],
        key_properties=["id"],
        replication_key=rk,
        replication_key_value_start=start,
    )


def _sync(spark, spec, batch_mode=False, **cfg):
    out = io.StringIO()
    state = StateStore()
    tap = SparkTap(TapConfig(streams=[spec], **cfg), spark, state=state, write=out.write)
    res = tap.sync_stream(spec, batch_mode=batch_mode)
    records = [
        json.loads(ln)["record"]
        for ln in out.getvalue().splitlines()
        if json.loads(ln)["type"] == "RECORD"
    ]
    return res, records, out.getvalue(), state


@pytest.fixture(params=["arrow", "persisted"])
def record_path(request, monkeypatch):
    """Run the RECORD branch on the one-action Arrow path or, with the
    budget forced to 0, on the persisted partition-at-a-time path; yields
    the list of ``collect`` flags the sink was called with."""
    if request.param == "persisted":
        monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)
    calls = []
    real = tap_mod.emit_record_messages

    def spy(df, spec, write, collect=None):
        calls.append(collect)
        return real(df, spec, write, collect=collect)

    monkeypatch.setattr(tap_mod, "emit_record_messages", spy)
    yield request.param, calls


@pytest.mark.parametrize(
    "stream_map, n_records",
    [
        ({"mask": ["id"]}, 5),
        ({"rename": {"id": "ident"}}, 5),
        # drops the row holding the max key: the bookmark still advances
        # past it (Singer parity: state comes from the unmapped record)
        ({"filter": "id < 5"}, 4),
        ({"mask": ["id"], "rename": {"name": "nm"}, "filter": "id <> 5"}, 4),
    ],
    ids=["mask", "rename", "filter", "all"],
)
def test_bookmark_under_stream_maps(spark, rec_src, record_path, stream_map, n_records):
    path, calls = record_path
    spec = _stream("id", 0)
    res, records, _, state = _sync(spark, spec, stream_maps={"rec": stream_map})
    assert calls == [path == "arrow"]
    assert res.record_count == len(records) == n_records
    assert res.new_bookmark == 5
    assert state.get_bookmark("spark-public-rec", "id") == 5


def test_persisted_path_matches_arrow_path(spark, rec_src, utc_driver, monkeypatch):
    """Forcing the budget to 0 takes the persisted streaming path; it
    must emit the same bytes and store the same bookmark."""
    spec = _stream("ts", "2021-11-22 08:00:00")
    res_a, _, lines_a, _ = _sync(spark, spec)
    monkeypatch.setattr(sink, "RECORD_COLLECT_BUDGET", 0)
    persisted = []
    frame_cls = type(spark.range(1))
    real_persist = frame_cls.persist

    def spy_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", spy_persist)
    res_p, _, lines_p, _ = _sync(spark, spec)
    assert len(persisted) == 1
    assert lines_p == lines_a
    assert res_a.record_count == res_p.record_count == 4
    assert res_a.new_bookmark == res_p.new_bookmark == "2021-11-22 11:45:11.062824"
    assert '"ts": "2021-11-22T11:45:11.062824+00:00"' in lines_a


@pytest.mark.parametrize("zone", ["Asia/Tokyo", "America/New_York"])
def test_bookmark_is_driver_zone_independent(spark, rec_src, driver_tz, tmp_path, zone):
    """A TIMESTAMP bookmark is the session's (UTC) wall clock whatever the
    driver process's ``TZ``: read back in local time, the next sync would
    bind a shifted literal and skip (or re-read) hours of rows. Covers the
    RECORD paths, the batch path and the snapshot-target path."""
    driver_tz(zone)
    want = "2021-11-22 11:45:11.062824"
    spec = _stream("ts", "2021-11-22 08:00:00")

    res, _, lines, _ = _sync(spark, spec)
    assert res.new_bookmark == want
    assert '"ts": "2021-11-22T11:45:11.062824+00:00"' in lines

    res, _, _, _ = _sync(
        spark, spec, batch_mode=True,
        batch=BatchSinkConfig(root=f"file://{tmp_path}/batch", batch_size=100),
    )
    assert res.new_bookmark == want

    state = StateStore()
    tap = SparkTap(TapConfig(streams=[spec]), spark, state=state, write=io.StringIO().write)
    res = tap.sync_stream_to_versioned(spec, str(tmp_path / "table"))
    assert res.record_count == 4
    assert res.new_bookmark == want

    # the stored bookmark resumes exactly after the last row
    res, _, _, _ = _sync(spark, _stream("ts", want))
    assert res.record_count == 0


def test_batch_lines_match_records_under_session_zone(spark, utc_driver, tmp_path):
    """Under a non-UTC session zone, a BATCH file line carries every
    declared key, nulls included, and writes its TIMESTAMP in UTC: the
    same record the RECORD path emits for the row."""
    spark.sql(
        "SELECT * FROM VALUES (1, timestamp'2024-01-01 00:00:00+00:00', "
        "CAST(NULL AS STRING), 1.5D) AS t(id, ts, s, d)"
    ).createOrReplaceTempView("batch_src")
    zone_key = "spark.sql.session.timeZone"
    old_zone = spark.conf.get(zone_key)
    spark.conf.set(zone_key, "Asia/Tokyo")
    try:
        spec = StreamSpec(
            name="nulls", sql="SELECT id, ts, s, d FROM batch_src",
            columns=[
                ColumnSpec("id", "int8"), ColumnSpec("ts", "timestamptz"),
                ColumnSpec("s", "text"), ColumnSpec("d", "float8"),
            ],
        )
        _, records, _, _ = _sync(spark, spec)
        _, _, out, _ = _sync(
            spark, spec, batch_mode=True,
            batch=BatchSinkConfig(root=f"file://{tmp_path}/batch"),
        )
    finally:
        spark.conf.set(zone_key, old_zone)
        spark.catalog.dropTempView("batch_src")
    files = [
        url[len("file://"):]
        for ln in out.splitlines()
        if json.loads(ln)["type"] == "BATCH"
        for url in json.loads(ln)["manifest"]
    ]
    lines = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            lines += [json.loads(ln) for ln in fh]
    assert records == [
        {"id": 1, "ts": "2024-01-01T00:00:00+00:00", "s": None, "d": 1.5}
    ]
    assert lines == [
        {"id": 1, "ts": "2024-01-01T00:00:00.000000+00:00", "s": None, "d": 1.5}
    ]
    assert dt.datetime.fromisoformat(lines[0]["ts"]) == dt.datetime.fromisoformat(
        records[0]["ts"]
    )


def test_bookmark_max_keeps_ntz_unshifted(spark, driver_tz):
    driver_tz("Asia/Tokyo")
    df = spark.sql(
        "SELECT timestamp_ntz'2021-11-22 11:45:11.062824' AS k, "
        "timestamp'2021-11-22 11:45:11.062824' AS t"
    )
    want = dt.datetime(2021, 11, 22, 11, 45, 11, 62824)
    assert df.agg(bookmark_max(df, "k")).first()["mx"] == want
    assert df.agg(bookmark_max(df, "t")).first()["mx"] == want


def test_size_probe_failure_warns_once(spark, tmp_path, monkeypatch, caplog):
    """When the optimizer size probe raises, both sinks treat the size as
    unbounded and one warning says so; the output stays correct."""

    def broken(df):
        raise RuntimeError("stats moved")

    monkeypatch.setattr(sink, "_optimizer_size_bytes", broken)
    monkeypatch.setattr(sink, "_size_probe_warned", False)
    caplog.set_level(logging.WARNING, logger=sink.__name__)
    df = spark.range(7).selectExpr("id")

    files = []
    for i in range(2):
        batch = BatchSinkConfig(root=f"file://{tmp_path}/b{i}", batch_size=100)
        files += [f for m in sink.write_batch_files(df, _spec("p"), batch) for f in m.files]
    ids = []
    for f in files:
        with gzip.open(f.replace("file://", ""), "rt") as fh:
            ids += [json.loads(ln)["id"] for ln in fh]
    assert sorted(ids) == sorted(list(range(7)) * 2)

    assert sink.fits_record_budget(df) is False
    out = io.StringIO()
    assert sink.emit_record_messages(df, _spec("p"), out.write) == 7
    assert [json.loads(ln)["record"]["id"] for ln in out.getvalue().splitlines()] == list(range(7))

    warnings = [r for r in caplog.records if "size estimate unavailable" in r.getMessage()]
    assert len(warnings) == 1
    assert "stats moved" in warnings[0].getMessage()
