"""The same seed must give byte-identical benchmark inputs.

    python3 -m pytest perfbench/test_datagen.py -q
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

import datagen
import workloads


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict:
    """Every input the workloads build from ``seed``: base tables, three
    incremental deltas, three upsert steps with their read ranges and the
    first two analytics orders."""
    src = os.path.join(root, "src")
    datagen.generate_base(src, seed)
    datagen.as_table_dirs(src)
    feed = datagen.DeltaFeed(src, seed)
    for _ in range(3):
        feed.append()
    upserts = datagen.UpsertFeed(
        seed, pq.read_table(os.path.join(src, "orders.parquet", "part-00000.parquet"))
    )
    steps = [(upserts.step(), upserts.key_range()) for _ in range(3)]
    orders = [datagen.shuffled(workloads.ANALYTICS_CASES, seed + k) for k in (1, 2)]
    return {"files": _digests(src), "upserts": steps, "orders": orders}


def test_same_seed_same_bytes(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert len(a["files"]) == len(datagen.TABLES) + 2 * 3
    assert a == b


def test_other_seed_other_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 8)
    assert a["files"]["lineitem.parquet"] != b["files"]["lineitem.parquet"]
    assert a["upserts"] != b["upserts"]
    assert a["orders"] != b["orders"]
