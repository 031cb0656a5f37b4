"""bench.py's contract: one JSON result line, printed last on stdout."""

from __future__ import annotations

import json
import threading
import time
import types

import bench
from youcruit_tap_rawpostgresql_spark import querybank, session


class _StopFails:
    """The test session, except that ``stop()`` raises."""

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self):
        raise RuntimeError("gateway gone")


def test_result_line_survives_failed_stop(spark, monkeypatch, capsys):
    case = types.SimpleNamespace(headline=True, fn=lambda s, sf_dir: s.range(3))
    monkeypatch.setattr(querybank, "REGISTRY", {"tiny": case})
    monkeypatch.setattr(session, "get_session", lambda **kw: _StopFails(spark))
    bench.main()
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert list(result["queries"]) == ["tiny"]
    assert "spark.stop() failed" in err
    assert "RuntimeError: gateway gone" in err


class _StopHangs(_StopFails):
    """The test session, except that ``stop()`` blocks until released."""

    def __init__(self, spark):
        super().__init__(spark)
        self.release = threading.Event()

    def stop(self):
        self.release.wait()


def test_result_line_survives_hung_stop(spark, monkeypatch, capsys):
    case = types.SimpleNamespace(headline=True, fn=lambda s, sf_dir: s.range(3))
    hung = _StopHangs(spark)
    monkeypatch.setattr(querybank, "REGISTRY", {"tiny": case})
    monkeypatch.setattr(session, "get_session", lambda **kw: hung)
    monkeypatch.setattr(bench, "STOP_TIMEOUT_S", 0.5)
    t0 = time.monotonic()
    try:
        bench.main()
    finally:
        hung.release.set()
    assert time.monotonic() - t0 < 60
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert list(result["queries"]) == ["tiny"]
    assert "spark.stop() still running after 0.5s" in err
