"""Table registration and local result frames.

``register_testdata`` reads TIMESTAMP(NANOS) columns in single-file and
directory tables alike, loads a table once per file snapshot and re-points
its view on every call; ``querybank.registry.tables()`` reuses the last
registration for the same scale factor. ``querybank.helpers.local_frame`` builds a small
driver-side result as an Arrow local relation with the values
``spark.createDataFrame`` gives, under any driver zone.
"""

from __future__ import annotations

import datetime as dt
import decimal
import logging
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from youcruit_tap_rawpostgresql_spark.querybank.helpers import local_frame
from youcruit_tap_rawpostgresql_spark.sources import registry
from youcruit_tap_rawpostgresql_spark.sources.registry import (
    load_table,
    register_testdata,
)


def _nanos_table(ids) -> pa.Table:
    ns = [1_700_000_000_123_456_789 + i * 1_000 for i in ids]
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }
    )


def _write_nanos(path, ids) -> None:
    pq.write_table(_nanos_table(ids), str(path), version="2.6")
    assert pq.read_schema(str(path)).field("ts").type == pa.timestamp("ns")


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_nanos_timestamps_read_in_files_and_directories(spark, tmp_path, layout):
    path = tmp_path / "ev.parquet"
    if layout == "file":
        _write_nanos(path, [1, 2])
    else:
        path.mkdir()
        _write_nanos(path / "part-00000.parquet", [1])
        _write_nanos(path / "part-00001.parquet", [2])
        (path / "_SUCCESS").write_bytes(b"")
        (path / ".staging").write_bytes(b"not a footer")
    df = load_table(spark, str(tmp_path), "ev")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r.id, r.ts)
        for r in df.selectExpr(
            "id", "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts"
        ).collect()
    )
    # floored to microseconds, read in the session zone (UTC)
    assert got == [
        (1, "2023-11-14 22:13:20.123457"),
        (2, "2023-11-14 22:13:20.123458"),
    ]


def test_unreadable_footer_is_warned_once(spark, tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(registry, "_footer_warned", False)
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"this is not parquet")
    caplog.set_level(logging.WARNING, logger=registry.__name__)
    assert registry._nanos_timestamp_cols(str(bad)) == []
    assert registry._nanos_timestamp_cols(str(bad)) == []
    warned = [r for r in caplog.records if r.name == registry.__name__]
    assert len(warned) == 1
    assert "bad.parquet" in warned[0].getMessage()
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    assert registry._nanos_timestamp_cols(str(empty)) == []


def test_register_testdata_loads_once_per_file_snapshot(
    spark, sf_dir, tmp_path, jobs_in
):
    table = tmp_path / "events.parquet"
    table.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", table / "part-00000.parquet")
    base = pq.read_table(table / "part-00000.parquet")

    first = register_testdata(spark, str(tmp_path), tables=("events",))
    assert first["events"].count() == base.num_rows
    # unchanged files: the frame is reused and no footer job runs
    assert jobs_in(
        lambda: register_testdata(spark, str(tmp_path), tables=("events",))
    ) == 0

    # another frame under the view's name is re-pointed by the next call
    spark.range(3).createOrReplaceTempView("events")
    register_testdata(spark, str(tmp_path), tables=("events",))
    assert spark.table("events").count() == base.num_rows

    # an appended delta file reloads the table
    pq.write_table(base.slice(0, 7), table / "delta-00001.parquet")
    again = register_testdata(spark, str(tmp_path), tables=("events",))
    assert again["events"].count() == base.num_rows + 7
    assert spark.table("events").count() == base.num_rows + 7
    spark.catalog.dropTempView("events")


SCHEMA = (
    "id int, ts timestamp, ntz timestamp_ntz, d date, amount decimal(12,2), "
    "s string, blob binary, f double, ok boolean"
)


def _rows():
    t = dt.datetime(2021, 11, 22, 11, 45, 11, 62824)
    return [
        (
            1, t, dt.datetime(2021, 11, 22, 11, 45, 11, 500000), dt.date(2024, 1, 2),
            decimal.Decimal("12.34"), 'text "q"', b"abc", 0.25, True,
        ),
        (2, None, None, None, None, None, None, None, None),
    ]


@pytest.fixture
def driver_tz(monkeypatch):
    def set_tz(name: str) -> None:
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("tz", ["UTC", "Asia/Tokyo", "America/New_York"])
def test_local_frame_equals_create_dataframe(spark, driver_tz, tz):
    driver_tz(tz)
    got = local_frame(spark, _rows(), SCHEMA)
    want = spark.createDataFrame(_rows(), SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalRelation" in got._jdf.queryExecution().analyzed().toString()
    # the instant a naive driver-local datetime stands for, in the session
    # zone (UTC): the same on both sides
    fmt = "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts"
    assert got.selectExpr(fmt).collect() == want.selectExpr(fmt).collect()
    # an aware value keeps its instant; an empty result keeps its schema
    aware = dt.datetime(2021, 11, 22, 11, 45, 11, tzinfo=dt.timezone.utc)
    one = local_frame(spark, [(aware,)], "ts timestamp")
    assert one.selectExpr(fmt).first().ts == "2021-11-22 11:45:11.000000"
    empty = local_frame(spark, [], SCHEMA)
    assert empty.schema == want.schema and empty.count() == 0


def test_local_frame_refuses_nested_columns(spark):
    with pytest.raises(ValueError, match=r"nested columns \['m'\]"):
        local_frame(spark, [(1, None)], "id int, m map<string, timestamp>")


def test_tables_reuses_the_last_registration(spark, sf_dir, tmp_path, monkeypatch):
    from youcruit_tap_rawpostgresql_spark.querybank import registry as qreg

    calls = []

    def counted(*args, **kwargs):
        calls.append(args[1])
        return register_testdata(*args, **kwargs)

    monkeypatch.setattr(qreg, "register_testdata", counted)
    first = qreg.tables(spark, sf_dir)
    n_region = first["region"].count()
    calls.clear()
    # a repeat call for the same scale factor registers nothing again
    again = qreg.tables(spark, sf_dir)
    assert calls == []
    assert again.keys() == first.keys()
    assert again["region"].count() == n_region

    # another registration on the session moves the views; the next call
    # points them back
    pq.write_table(pa.table({"r_regionkey": [0]}), tmp_path / "region.parquet")
    register_testdata(spark, str(tmp_path), tables=("region",))
    assert spark.table("region").count() == 1
    qreg.tables(spark, sf_dir)
    assert calls == [sf_dir]
    assert spark.table("region").count() == n_region


def test_naive_timestamp_columns_are_named_once(spark, tmp_path, caplog):
    """A naive parquet timestamp (``isAdjustedToUTC=false``) gets no
    row-group filter in Spark, so ``load_table`` names such columns in one
    warning per table path, also when the table is reloaded after a file
    is added; a UTC-adjusted table gets none."""
    caplog.set_level(logging.WARNING, logger=registry.__name__)
    ts = pa.array([1_700_000_000_000_000], type=pa.int64())
    for name, typ in (("naive_ts", pa.timestamp("us")),
                      ("utc_ts", pa.timestamp("us", tz="UTC"))):
        table = pa.table({"id": [1], "ts": ts.cast(typ)})
        (tmp_path / f"{name}.parquet").mkdir()
        pq.write_table(table, tmp_path / f"{name}.parquet" / "part-0.parquet")
    tables = ("naive_ts", "utc_ts")
    register_testdata(spark, str(tmp_path), tables=tables)
    for name in tables:  # a new file: both tables load again
        pq.write_table(
            pq.read_table(tmp_path / f"{name}.parquet" / "part-0.parquet"),
            tmp_path / f"{name}.parquet" / "part-1.parquet",
        )
    frames = register_testdata(spark, str(tmp_path), tables=tables)
    assert frames["naive_ts"].count() == 2  # reloaded
    noticed = [r.getMessage() for r in caplog.records if r.name == registry.__name__]
    assert len(noticed) == 1
    assert "naive_ts.parquet" in noticed[0] and "columns ts " in noticed[0]
    for name in tables:
        spark.catalog.dropTempView(name)
