"""Sinks: gzip-JSONL batch files + manifests (reference S5-S7) and the
Singer message protocol (S8).

Reference behavior (``client.py:185-245``): records stream into gzip JSONL
files rotated every ``batch_size`` rows, named
``{prefix}{tap}--{stream}-{uuid}-{i}.json.gz`` under ``storage.root``; each
batch yields a manifest ``(encoding, [file_url])``; timestamps serialize as
ISO-8601 with offset (``tests/test_postgres.py:200-203``).

Spark mapping: ``df.write.option("compression","gzip")
.option("maxRecordsPerFile", batch_size).json(...)`` — rotation happens
per-task (each task rolls a new file every batch_size rows), which is the
scale-out generalization of the reference's single-writer loop. Part files
are renamed to the reference convention for ``file://`` roots; remote
object stores keep Spark's part names inside the manifest (rename = copy on
S3 — not worth it).

Scale: the write parallelizes across partitions; there is no driver-side
row loop. ``coalesce`` is applied only when the caller asks for
reference-exact global rotation (small exports).

The JSON write keeps null fields (``ignoreNullFields=false``) and writes
every TIMESTAMP in UTC (``timeZone=UTC``), so a batch-file line carries
the same keys and the same instants as the RECORD message for its row,
whatever the session zone.

RECORD messages cross the driver. One function, ``records``, builds every
Python-side JSON record from an Arrow batch. A frame whose optimizer size
estimate fits ``RECORD_COLLECT_BUDGET`` is collected by ONE Arrow action
and serialized on the driver; a larger (or unsized) frame is serialized
on the Python workers (``mapInArrow``) and its lines stream one partition
at a time through ``toLocalIterator``. Both write the same bytes for the
same values, whatever the local zone of the process.
"""

from __future__ import annotations

import base64
import datetime
import functools
import glob
import json
import logging
import os
import sys
import uuid as _uuid
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark import cloudpickle
from pyspark.sql import DataFrame

from youcruit_tap_rawpostgresql_spark.spec import BatchSinkConfig, StreamSpec

# ISO-8601 with microseconds and numeric offset: 2021-11-22T11:45:11.062824+00:00
ISO_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"

# leads every batch file name: {prefix}{TAP_NAME}--{stream}-{uuid}-{i}
TAP_NAME = "tap-rawpostgresql-spark"

# Largest optimizer size estimate (bytes) of a frame whose RECORD messages
# are collected to the driver in one Arrow action; above it, records stream
# one partition at a time.
RECORD_COLLECT_BUDGET = 64 << 20

logger = logging.getLogger(__name__)
_size_probe_warned = False

# ``records`` also runs in Python workers (``_line_batches``), which need
# not be able to import this package
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _optimizer_size_bytes(df: DataFrame) -> int:
    # private API: the optimizer's size estimate has no public pyspark
    # surface
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def estimated_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or ``None`` when
    the probe fails (warned once per process; callers treat an unknown
    size as unbounded). The estimate ignores filter selectivity, and a
    JDBC relation reports ``spark.sql.defaultSizeInBytes``."""
    global _size_probe_warned
    try:
        return _optimizer_size_bytes(df)
    except Exception as exc:  # noqa: BLE001 — any py4j/API drift
        if not _size_probe_warned:
            _size_probe_warned = True
            logger.warning(
                "optimizer size estimate unavailable (%s: %s); treating "
                "frame sizes as unbounded",
                type(exc).__name__,
                exc,
            )
        return None


def fits_record_budget(df: DataFrame) -> bool:
    """Whether ``df``'s RECORD messages may be collected in one action."""
    est = estimated_size_bytes(df)
    return est is not None and est <= RECORD_COLLECT_BUDGET


@dataclass(frozen=True)
class BatchManifest:
    """One emitted batch: encoding descriptor + file URLs (reference
    ``get_batches`` yield shape, ``client.py:243-245``)."""

    format: str
    compression: str
    files: list[str]

    def to_message(self, stream_name: str) -> dict:
        """Singer BATCH message payload."""
        return {
            "type": "BATCH",
            "stream": stream_name,
            "encoding": {"format": self.format, "compression": self.compression},
            "manifest": self.files,
        }


def write_batch_files(
    df: DataFrame, spec: StreamSpec, batch: BatchSinkConfig
) -> list[BatchManifest]:
    """Write ``df`` as gzip JSONL batch files; return manifests.

    ``batch.exact_rotation`` coalesces to one partition so file rotation
    is globally exact every ``batch_size`` rows (reference-equivalent; use
    for small exports only). Otherwise task parallelism stays: each task
    rotates at ``batch_size``, so files are ≤ batch_size rows (acceptable
    drift documented in SURVEY.md §3 Q3).
    """
    parsed = urlparse(batch.root if "://" in batch.root else f"file://{batch.root}")
    sync_id = f"{TAP_NAME}--{spec.name}-{_uuid.uuid4()}"
    out_dir = os.path.join(batch.root, sync_id)

    # reference contract is gzip (client.py:185-245); the config may opt
    # into any Spark-supported text codec (zstd measured ~2x faster to
    # encode at equal-or-better ratio — see VERIFICATION.md, round 5)
    codec = batch.encoding_compression or "gzip"
    ext = {"gzip": "gz", "zstd": "zst", "bzip2": "bz2", "none": ""}.get(
        codec, codec
    )
    if batch.exact_rotation:
        writer = df.coalesce(1)
    else:
        # a LARGE extract that arrives in few splits (single giant parquet
        # file, single JDBC partition) would serialize the whole JSON+gzip
        # encode into one task; spread it first — the encode is the cost
        # (measured 64% of export wall), the exchange is small. The spread
        # is SIZE-ADAPTIVE (guide §2.2/§6, r13 measurement): the encode
        # task count derives from the optimizer's size estimate (one task
        # per ~16 MiB of input, capped at the core count) instead of a
        # blanket repartition(cores) — for single-digit-MB extracts the
        # round-robin exchange costs more than the serial encode saves
        # (r13: 0.92 s single-task vs 1.15 s repartition(32) at sf0.1,
        # and far worse under ambient load), while a multi-GB extract
        # still fans out to every core. Skipping the repartition entirely
        # for small inputs also skips the df.rdd partition probe (a
        # measurable driver-side plan conversion).
        writer = df
        par = df.sparkSession.sparkContext.defaultParallelism
        # an unknown size fans out to the core count (the pre-r13 behavior)
        est = estimated_size_bytes(df)
        target = par if est is None else min(par, max(1, est >> 24))
        if target > 1 and df.rdd.getNumPartitions() < target:
            writer = df.repartition(target)
    (
        writer.write.mode("overwrite")
        .option("compression", codec)
        .option("maxRecordsPerFile", batch.batch_size)
        .option("timestampFormat", ISO_TS_FORMAT)
        .option("timeZone", "UTC")
        .option("ignoreNullFields", "false")
        .json(out_dir)
    )

    suffix = f".json.{ext}" if ext else ".json"
    if parsed.scheme == "file":
        local_dir = urlparse(out_dir).path
        parts = sorted(glob.glob(os.path.join(local_dir, f"part-*{suffix}")))
        files = []
        for i, part in enumerate(parts):
            new_name = os.path.join(
                local_dir, f"{batch.prefix}{sync_id}-{i}{suffix}"
            )
            os.rename(part, new_name)
            files.append(f"file://{new_name}")
    else:  # remote FS: list via Spark's own catalog of written files
        files = [
            f"{out_dir.rstrip('/')}/{os.path.basename(p)}"
            for p in sorted(_list_remote(df, out_dir))
        ]
    return [
        BatchManifest(
            format=batch.encoding_format,
            compression=batch.encoding_compression,
            files=files,
        )
    ]


def _list_remote(df: DataFrame, out_dir: str) -> list[str]:
    """List part files on a Hadoop FS (jvm gateway; local-free path)."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = path.getFileSystem(conf)
    return [
        str(s.getPath().toString())
        for s in fs.listStatus(path)
        if "part-" in str(s.getPath().getName())
    ]


# ---------------------------------------------------------------------------
# Singer message emission (S8)
# ---------------------------------------------------------------------------


def emit_schema_message(spec: StreamSpec, write) -> None:
    write(
        json.dumps(
            {
                "type": "SCHEMA",
                "stream": spec.fully_qualified_name,
                "schema": spec.jsonschema(),
                "key_properties": spec.key_properties,
                **(
                    {"bookmark_properties": [spec.replication_key]}
                    if spec.replication_key
                    else {}
                ),
            }
        )
        + "\n"
    )


def _arrow_converter(t):
    """Converter from an Arrow value of type ``t`` to its JSON form, or
    ``None`` when the type's Python values are JSON-native already
    (integers, floats, booleans, strings, nulls). TIMESTAMP arrives aware
    in the session zone and is written in UTC; TIMESTAMP_NTZ arrives naive
    and its wall clock is written as UTC. Both are ISO-8601 with
    ``+00:00``, so no process's local zone enters a line. Dates are ISO,
    decimals numbers, binary base64, and maps (Arrow gives them as
    key/value pairs) objects, at any depth of structs, lists and maps."""
    import pyarrow as pa

    pt = pa.types
    if pt.is_map(t):
        item = _arrow_converter(t.item_type) or (lambda x: x)
        return lambda v: None if v is None else {k: item(x) for k, x in v}
    if pt.is_struct(t):
        fields = [(f.name, _arrow_converter(f.type)) for f in t]
        if all(c is None for _, c in fields):
            return None
        return lambda v: None if v is None else {
            k: v[k] if c is None else c(v[k]) for k, c in fields
        }
    if pt.is_list(t) or pt.is_large_list(t):
        item = _arrow_converter(t.value_type)
        if item is None:
            return None
        return lambda v: None if v is None else [item(x) for x in v]
    if pt.is_timestamp(t):
        utc = datetime.timezone.utc
        return lambda v: None if v is None else (
            v.astimezone(utc).isoformat() if v.tzinfo else v.isoformat() + "+00:00"
        )
    if pt.is_date(t):
        return lambda v: None if v is None else v.isoformat()
    if pt.is_decimal(t):
        return lambda v: None if v is None else float(v)
    if pt.is_binary(t) or pt.is_large_binary(t):
        return lambda v: None if v is None else base64.b64encode(v).decode("ascii")
    return None


def records(batch):
    """The record dicts of one Arrow batch, ready for ``json.dumps``: the
    one Python-side record serializer. The in-budget RECORD collect runs
    it on the driver, the over-budget RECORD path on the Python workers
    (``_line_batches``)."""
    names = batch.schema.names
    cols = []
    for col, field in zip(batch.columns, batch.schema):
        conv = _arrow_converter(field.type)
        vals = col.to_pylist()
        cols.append(vals if conv is None else [conv(v) for v in vals])
    rows = zip(*cols) if cols else [()] * batch.num_rows
    return (dict(zip(names, values)) for values in rows)


def _record_lines(stream: str, batch) -> list[str]:
    """The RECORD lines of one Arrow batch."""
    return [
        json.dumps({"type": "RECORD", "stream": stream, "record": rec}) + "\n"
        for rec in records(batch)
    ]


def _line_batches(stream: str, batches):
    """``mapInArrow`` body (bound to ``stream`` by ``functools.partial``):
    each batch's RECORD lines as one ``line`` column. A worker runs it
    without importing this package: the module is pickled by value."""
    import pyarrow as pa

    for batch in batches:
        yield pa.RecordBatch.from_pydict({"line": _record_lines(stream, batch)})


def emit_record_messages(
    df: DataFrame, spec: StreamSpec, write, collect: bool | None = None
) -> int:
    """Emit one RECORD message per row of ``df``; returns the row count.
    Every line is serialized from Arrow batches by ``records``.

    ``collect=True`` runs ONE Arrow collect action, or takes ``df`` as the
    batches one returned, and serializes them on the driver. The batches
    are read as the JVM sends them: ``toArrow``'s final cast to the
    declared schema rejects a null struct whose fields are declared
    non-null. ``collect=False`` serializes on the Python workers
    (``mapInArrow``) and streams the lines one partition at a time
    through ``toLocalIterator``, so driver memory stays bounded for
    frames of any size. ``None`` chooses by ``fits_record_budget``.

    Observed metrics on ``df`` (``DataFrame.observe``) are reported by the
    Arrow collect; ``toLocalIterator`` never completes an ``Observation``.
    The scale path stays ``write_batch_files`` + BATCH messages, exactly
    why the Singer spec grew the BATCH capability.
    """
    if collect is None:
        collect = fits_record_budget(df)
    stream = spec.fully_qualified_name
    n = 0
    if not collect:
        body = functools.partial(_line_batches, stream)
        for row in df.mapInArrow(body, "line string").toLocalIterator():
            write(row.line)
            n += 1
        return n
    for batch in df if isinstance(df, list) else df._collect_as_arrow():
        for line in _record_lines(stream, batch):
            write(line)
        n += batch.num_rows
    return n


def emit_state_message(state_dict: dict, write) -> None:
    write(json.dumps({"type": "STATE", "value": state_dict}) + "\n")

