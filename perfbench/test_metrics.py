"""BENCHMARK.json must list exactly the metrics the runs report.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os

import layers
import run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def test_end_to_end_metrics_match():
    listed = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert listed == run.END_TO_END_UNITS


def test_per_layer_metrics_match():
    listed = [(m["name"], m["unit"]) for m in BENCH["per_layer"]]
    assert listed == layers.METRICS


def test_workloads_exist():
    import workloads

    for w in BENCH["workloads"]:
        assert w["name"] in workloads.WORKLOADS
