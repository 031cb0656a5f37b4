"""The program's layers as the traced run sees them.

``install`` wraps the public function(s) each layer exposes; ``metrics``
turns the recorded spans into the per-layer metrics named in
BENCHMARK.json. Every ``.ms`` / ``.self_ms`` metric is the layer's self time
(span time minus its traced children) per op, averaged over the run's ops;
counts are per op too. Layers a workload bypasses read 0. LAYERS.md maps
each metric to the end-to-end metric and workload it should move.

Functions that only build a lazy DataFrame do their work in a later action.
The versioned-table reads are therefore timed around the read and the action
that runs it (the workload's ``warehouse.*_read`` spans). The JDBC extract
runs when ``tap.sync_stream_to_versioned`` persists and counts the slice, so
it is charged to that span's self time; ``sources.jdbc.read_jdbc_stream.ms``
is the read's planning (its schema probe of the source) only.
"""

from __future__ import annotations

import gzip
import importlib
import json
import os

import pyarrow.parquet as pq

QUERYBANK_MODULES = (
    "core", "tpch_more", "llm", "ann", "text_stats", "sql_surface", "etl",
    "graph", "modern", "pipeline_ops", "extras", "corpus", "taplevel",
)

# (metric name, unit) in report order; BENCHMARK.json lists the same names
METRICS: list[tuple[str, str]] = [
    ("session.get_session.ms", "ms"),
    ("sources.registry.register_testdata.ms", "ms"),
    ("plans.dialect.translate_pg_sql.calls", "count"),
    ("plans.dialect.translate_pg_sql.ms", "ms"),
    ("plans.executor.run_sql.ms", "ms"),
    ("operators.conform.ms", "ms"),
    ("operators.maps.apply_stream_map.ms", "ms"),
    ("operators.flatten.flatten_struct_columns.ms", "ms"),
    ("operators.incremental.apply_replication_filter.ms", "ms"),
    ("sink.write_batch_files.ms", "ms"),
    ("sink.write_batch_files.rows", "count"),
    ("sink.write_batch_files.files", "count"),
    ("sink.write_batch_files.bytes", "B"),
    ("sink.emit_record_messages.ms", "ms"),
    ("sink.emit_record_messages.records", "count"),
    ("sink.emit_record_messages.bytes", "B"),
    ("state.flush.ms", "ms"),
    ("state.flush.calls", "count"),
    ("tap.sync_stream.self_ms", "ms"),
    ("tap.sync_stream_to_versioned.self_ms", "ms"),
    ("sources.jdbc.read_jdbc_stream.ms", "ms"),
    ("sources.jdbc.read_jdbc_stream.rows", "count"),
    ("sources.versioned.upsert_snapshot_pruned.ms", "ms"),
    ("sources.versioned.upsert_snapshot_pruned.files_rewritten", "count"),
    ("sources.versioned.upsert_snapshot_pruned.rewrite_frac", "ratio"),
    ("sources.versioned.upsert_snapshot_pruned.write_amp", "ratio"),
    ("sources.versioned.read_version_pruned.ms", "ms"),
    ("sources.versioned.read_version_pruned.files_read_frac", "ratio"),
    ("sources.versioned.read_version_pruned.rows", "count"),
    ("sources.versioned.read_version.ms", "ms"),
    ("sources.versioned.files_live", "count"),
    ("sources.versioned.table_bytes_per_row", "B"),
    ("sources.versioned.compact_version.ms", "ms"),
    ("sources.versioned.compact_version.bytes_rewritten", "B"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
] + [
    (f"querybank.{m}.{k}", "ms") for m in QUERYBANK_MODULES for k in ("build_ms", "exec_ms")
] + [
    ("trace.op_p50_ms", "ms"),
]


def _manifest_files(root: str) -> list[str]:
    from youcruit_tap_rawpostgresql_spark.sources import versioned

    v = versioned.current_version(root)
    if v is None:
        return []
    with open(os.path.join(root, f"v{v:012d}.json")) as fh:
        return json.load(fh)["files"]


def _rows(files) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def install(tracer) -> None:
    """Wrap every traced function. Must run before the session starts."""
    from youcruit_tap_rawpostgresql_spark import querybank, session, sink, state, tap  # noqa: F401
    from youcruit_tap_rawpostgresql_spark.plans import dialect, executor
    from youcruit_tap_rawpostgresql_spark.sources import jdbc, registry, versioned

    # the operators package re-exports functions under its modules' names
    conform, flatten, incremental, maps = (
        importlib.import_module(f"youcruit_tap_rawpostgresql_spark.operators.{m}")
        for m in ("conform", "flatten", "incremental", "maps")
    )

    w = tracer.wrap
    w(session, "get_session", "session.get_session")
    w(registry, "register_testdata", "sources.registry.register_testdata")
    w(dialect, "translate_pg_sql", "plans.dialect.translate_pg_sql")
    w(executor, "run_sql", "plans.executor.run_sql")
    w(conform, "conform", "operators.conform")
    w(maps, "apply_stream_map", "operators.maps.apply_stream_map")
    w(flatten, "flatten_struct_columns", "operators.flatten.flatten_struct_columns")
    w(incremental, "apply_replication_filter", "operators.incremental.apply_replication_filter")

    def batch_files(idx, args, kwargs, manifests, ctx):
        files = [f.replace("file://", "") for m in manifests for f in m.files]
        rows = 0
        for f in files:
            with gzip.open(f, "rb") as fh:
                rows += sum(1 for _ in fh)
        tracer.add_counts(idx, files=len(files), rows=rows,
                          bytes=sum(os.path.getsize(f) for f in files))

    w(sink, "write_batch_files", "sink.write_batch_files", after=batch_files)

    def count_writes(args, kwargs):
        counter = {"bytes": 0}
        write = args[2]

        def counting(line):
            counter["bytes"] += len(line)
            write(line)

        return args[:2] + (counting,) + args[3:], kwargs, counter

    def records(idx, args, kwargs, n, counter):
        tracer.add_counts(idx, records=n, bytes=counter["bytes"])

    w(sink, "emit_record_messages", "sink.emit_record_messages",
      before=count_writes, after=records)
    w(state.StateStore, "flush", "state.flush")

    w(tap.SparkTap, "sync_stream", "tap.sync_stream")

    def slice_rows(idx, args, kwargs, res, ctx):
        tracer.add_counts(idx, slice_rows=res.record_count)

    w(tap.SparkTap, "sync_stream_to_versioned", "tap.sync_stream_to_versioned",
      after=slice_rows)
    w(jdbc, "read_jdbc_stream", "sources.jdbc.read_jdbc_stream")

    def base_files(args, kwargs):
        root = args[2] if len(args) > 2 else kwargs["root"]
        return args, kwargs, set(_manifest_files(root))

    def upserted(idx, args, kwargs, res, base):
        root = args[2] if len(args) > 2 else kwargs["root"]
        _version, _n_new, n_carried = res
        new = [f for f in _manifest_files(root) if f not in base]
        tracer.add_counts(idx, base_files=len(base), rewritten=len(base) - n_carried,
                          new_rows=_rows(new))

    w(versioned, "upsert_snapshot_pruned", "sources.versioned.upsert_snapshot_pruned",
      before=base_files, after=upserted)

    def pruned_read(idx, args, kwargs, df, ctx):
        read = df.inputFiles()
        tracer.add_counts(idx, files_read=len(read), files_total=len(_manifest_files(args[1])),
                          rows=_rows(f.replace("file://", "") for f in read))

    w(versioned, "read_version_pruned", "sources.versioned.read_version_pruned",
      after=pruned_read)
    w(versioned, "read_version", "sources.versioned.read_version")

    def compact_bytes(args, kwargs):
        files = _manifest_files(args[1])
        return args, kwargs, sum(os.path.getsize(f) for f in files)

    def compacted(idx, args, kwargs, res, nbytes):
        tracer.add_counts(idx, bytes_rewritten=nbytes)

    w(versioned, "compact_version", "sources.versioned.compact_version",
      before=compact_bytes, after=compacted)


def metrics(tracer, n_ops: int, jobs, workload, op_p50_ms: float) -> dict[str, float]:
    per = tracer.per_op(n_ops)

    def g(span: str, key: str = "self_ms") -> float:
        return per.get(span, {}).get(key, 0.0)

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    up = "sources.versioned.upsert_snapshot_pruned"
    rd = "sources.versioned.read_version_pruned"
    out = {
        "session.get_session.ms": tracer.mean_call_ms("session.get_session"),
        "sources.registry.register_testdata.ms":
            tracer.mean_call_ms("sources.registry.register_testdata"),
        "plans.dialect.translate_pg_sql.calls": g("plans.dialect.translate_pg_sql", "calls"),
        "sink.write_batch_files.rows": g("sink.write_batch_files", "rows"),
        "sink.write_batch_files.files": g("sink.write_batch_files", "files"),
        "sink.write_batch_files.bytes": g("sink.write_batch_files", "bytes"),
        "sink.emit_record_messages.records": g("sink.emit_record_messages", "records"),
        "sink.emit_record_messages.bytes": g("sink.emit_record_messages", "bytes"),
        "state.flush.calls": g("state.flush", "calls"),
        "sources.jdbc.read_jdbc_stream.rows": g("tap.sync_stream_to_versioned", "slice_rows"),
        f"{up}.files_rewritten": g(up, "rewritten"),
        f"{up}.rewrite_frac": ratio(g(up, "rewritten"), g(up, "base_files")),
        f"{up}.write_amp": ratio(g(up, "new_rows"), g("tap.sync_stream_to_versioned", "slice_rows")),
        f"{rd}.files_read_frac": ratio(g(rd, "files_read"), g(rd, "files_total")),
        f"{rd}.rows": g(rd, "rows"),
        f"{rd}.ms": g("warehouse.range_read", "ms"),
        "sources.versioned.read_version.ms": g("warehouse.time_travel_read", "ms"),
        "sources.versioned.compact_version.bytes_rewritten":
            g("sources.versioned.compact_version", "bytes_rewritten"),
        "trace.op_p50_ms": op_p50_ms,
    }
    for name, _unit in METRICS:
        if name in out:
            continue
        if name.endswith(".self_ms"):
            out[name] = g(name[: -len(".self_ms")])
        elif name.endswith(".ms"):
            out[name] = g(name[: -len(".ms")])
    for k, v in jobs.per_op().items():
        out[f"spark.{k}_per_op"] = v
    out.update(workload.layer_metrics())
    return {name: out.get(name, 0.0) for name, _unit in METRICS}
