"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): read the
gzip-JSONL batch files this engine's sink produces (reference S5/S6,
``client.py:185-245``) back into a DataFrame —
``spark.read.format("singer_batch").schema(...).load(manifest_or_dir)``.

Closes the tap's own loop: a downstream Spark job consumes a Singer BATCH
manifest exactly as a Singer target would, but distributed — one input
partition per batch file, so a 100 TB export re-ingests with file-level
parallelism and no driver-side reading.

Why a custom source instead of ``spark.read.json``: the unit of work is the
*manifest* (the Singer message contract), not a directory glob — file lists
come from the BATCH message, may span filesystems, and re-ingestion must
process exactly the manifest's files (a half-written directory may contain
orphans from a failed earlier sync that the manifest correctly excludes).

The schema is declared by the caller (``.schema(...)``) — the same
config-declared-schema stance as the tap itself (reference tap.py:86-109):
no inference pass over 100 TB of gzip.
"""

from __future__ import annotations

import gzip
import io
import json
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

FORMAT_NAME = "singer_batch"


@dataclass
class _FilePartition(InputPartition):
    urls: list


def _local_path(url: str) -> str:
    if url.startswith("file://"):
        return url[len("file://"):]
    return url


# Mirror Spark's own scan packing knobs (spark.sql.files.maxPartitionBytes
# / openCostInBytes defaults): each file is charged its on-disk size plus
# a fixed open cost and files pack greedily up to the target — so tiny
# rotated batch files cap at ~32 per input partition instead of becoming
# one Python worker task EACH (guide §6 small-files: the r13 reingest
# profile measured the read of 40 × 2500-row files at 0.84 s steady, all
# per-task fixed cost), while a multi-GB extract still gets one task per
# ~128 MiB so executor-side parallelism tracks data volume.
_PACK_TARGET_BYTES = 128 << 20
_PACK_OPEN_COST = 4 << 20


def _pack_files(urls: list) -> list:
    """Pack batch-file URLs into input partitions, preserving file order
    within and across partitions (read order is not part of the source's
    contract — rows re-sort downstream — but determinism is free). Local
    files stat cheaply; remote URLs skip the stat and carry the open cost
    alone (per-file work is bounded by the sink's uniform batch_size
    rotation either way)."""
    import os

    parts: list = []
    cur: list = []
    acc = 0
    for u in urls:
        cost = _PACK_OPEN_COST
        if u.startswith("file://") or "://" not in u:
            try:
                cost += os.stat(_local_path(u)).st_size
            except OSError:
                pass
        if cur and acc + cost > _PACK_TARGET_BYTES:
            parts.append(_FilePartition(cur))
            cur, acc = [], 0
        cur.append(u)
        acc += cost
    if cur:
        parts.append(_FilePartition(cur))
    return parts


def _resolve_files(path: str) -> list[str]:
    """Accepts a manifest JSON file (Singer BATCH message or bare
    ``{"files": [...]}`` / ``[...]`` list) or a directory of
    ``*.json.gz`` parts. Semantics differ deliberately: a manifest reads
    exactly ONE job's committed files; a directory reads the union of
    every file present (all append jobs — plus any orphans, which is why
    manifests are the transactional path)."""
    import glob as _glob
    import os

    if "://" in path and not path.startswith("file://"):
        with _open_url(path) as fh:
            doc = json.loads(fh.read().decode("utf-8"))
    else:
        p = _local_path(path)
        if os.path.isdir(p):
            return sorted(
                f"file://{f}" for f in _glob.glob(os.path.join(p, "*.json.gz"))
            )
        with open(p) as fh:
            doc = json.load(fh)
    if isinstance(doc, list):
        return [str(u) for u in doc]
    for key in ("manifest", "files"):
        if key in doc:
            return [str(u) for u in doc[key]]
    raise ValueError(
        f"singer_batch: {path!r} is neither a directory nor a manifest "
        "(expected a BATCH message with 'manifest', a dict with 'files', "
        "or a JSON list of URLs)"
    )


def _read_partition(partition, schema, fast):
    """Both readers' ``read``: a partition's files as Arrow batches where
    the ``fast`` schema allows, else as parsed rows."""
    if partition is None:
        # empty manifest (e.g. an empty incremental slice's BATCH
        # message): partitions() returned [] and pyspark probes with
        # no partition — an empty stream, not a crash
        return
    for url in partition.urls:
        if fast is not None:
            batches = _try_read_arrow(url, fast)
            if batches is not None:
                yield from batches
                continue
        yield from _read_batch_file(url, schema)


class SingerBatchReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("singer_batch: .load(path) is required")
        self.files = _resolve_files(self.path)
        # eligibility is a property of the declared schema alone: decide
        # once on the driver (the reader is pickled to executors) instead
        # of re-deriving it in every partition's read()
        self._fast = _arrow_fast_schema(schema)

    def partitions(self):
        # batch files pack into size-bounded partitions (the sink rotates
        # at batch_size rows, so per-file work is uniformly bounded;
        # _pack_files keeps task count proportional to bytes, not files)
        return _pack_files(self.files)

    def read(self, partition):
        return _read_partition(partition, self.schema, self._fast)


def _parse_ts(v):
    import datetime as _dt

    if v is None:
        return None
    # the sink writes ISO-8601 with offset; fromisoformat handles both
    # offset and naive forms
    return _dt.datetime.fromisoformat(v)


def _json_cast(dtype):
    """JSON scalar → the Python value pyspark's Arrow conversion expects
    for ``dtype``. JSON under-types relative to the declared schema:
    timestamps/dates arrive as ISO strings, decimals as floats, binary as
    base64 text (Spark's JSON writer encoding)."""
    import base64
    import datetime as _dt
    import decimal as _decimal

    from pyspark.sql.types import (
        BinaryType,
        DateType,
        DecimalType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return _parse_ts
    if isinstance(dtype, DateType):
        return lambda v: _dt.date.fromisoformat(v) if v else None
    if isinstance(dtype, DecimalType):
        # str() first: Decimal(0.1) would embed the binary-float error the
        # JSON text never had
        return lambda v: _decimal.Decimal(str(v)) if v is not None else None
    if isinstance(dtype, BinaryType):
        return lambda v: base64.b64decode(v) if v is not None else None
    return lambda v: v


def _open_url(url: str):
    """Open a manifest file URL for reading: local paths directly, any
    other scheme (s3a://, hdfs://, ...) through pyarrow's filesystem
    layer — the sink's remote-FS branch (sink.py) emits such URLs."""
    if url.startswith("file://") or "://" not in url:
        return open(_local_path(url), "rb")
    from pyarrow import fs as _pafs

    filesystem, path = _pafs.FileSystem.from_uri(url)
    return filesystem.open_input_stream(path)


def _read_batch_file(url: str, schema):
    """Yield typed row tuples from one gzip-JSONL batch file — the single
    record path shared by the batch reader and the stream reader."""
    names = schema.fieldNames()
    casts = [_json_cast(f.dataType) for f in schema.fields]
    with _open_url(url) as raw:
        with gzip.open(io.BufferedReader(raw), "rt") as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                yield tuple(cast(rec.get(name)) for name, cast in zip(names, casts))


def _arrow_fast_schema(schema):
    """The pyarrow schema for declared Spark fields that pyarrow's native
    JSON parser handles faithfully, or None when any field needs the
    Python cast path (guide §4: the per-row ``json.loads`` + cast-closure
    + tuple yield made pyspark convert every row in Python; an eligible
    schema instead parses each batch file in Arrow C++ and crosses the
    boundary as RecordBatches — r13 measured the parse alone 2× faster
    and the per-row conversion gone entirely).

    Eligible: integer/float/string/boolean scalars, and TIMESTAMP — the
    sink writes ISO-8601 with an explicit offset (``sink.ISO_TS_FORMAT``
    in UTC), which Arrow parses into timestamp(us, UTC), bit-identical to
    the ``fromisoformat`` path (oracle-gated).
    NOT eligible (fall back per-row): decimals (JSON floats must become
    ``Decimal(str(v))``, not a binary-double cast), binary (base64
    text), dates, TIMESTAMP_NTZ, and nested types."""
    import pyarrow as pa
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampType,
    )

    if schema is None:
        # offset-only uses construct the stream reader without a schema
        return None
    mapping = [
        (LongType, pa.int64()),
        (IntegerType, pa.int32()),
        (ShortType, pa.int16()),
        (ByteType, pa.int8()),
        (DoubleType, pa.float64()),
        (FloatType, pa.float32()),
        (StringType, pa.string()),
        (BooleanType, pa.bool_()),
        (TimestampType, pa.timestamp("us", tz="UTC")),
    ]
    fields = []
    for f in schema.fields:
        for spark_t, pa_t in mapping:
            if type(f.dataType) is spark_t:
                fields.append(pa.field(f.name, pa_t))
                break
        else:
            return None
    return pa.schema(fields)


def _try_read_arrow(url: str, pa_schema):
    """Parse one gzip-JSONL batch file with pyarrow's JSON reader into
    RecordBatches matching ``pa_schema``, or None when the file doesn't
    conform (mixed/naive timestamp spellings, type surprises) — the
    caller then takes the per-row path, so behaviour is identical to it
    for every file the fast parse cannot prove conformant."""
    import pyarrow as pa
    import pyarrow.json as pajson

    try:
        with _open_url(url) as raw:
            with pa.input_stream(raw, compression="gzip") as stream:
                tbl = pajson.read_json(
                    stream,
                    parse_options=pajson.ParseOptions(
                        explicit_schema=pa_schema,
                        unexpected_field_behavior="ignore",
                    ),
                )
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return None
    if tbl.schema != pa_schema:
        # a column entirely absent from the file comes back null-typed;
        # cast pins the declared types (all-null casts are exact)
        try:
            tbl = tbl.cast(pa_schema)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
    return tbl.to_batches()


class SingerBatchDataSource(DataSource):
    """``spark.dataSource.register(SingerBatchDataSource)`` then
    ``spark.read.format("singer_batch").schema(s).load(manifest)``."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        raise ValueError(
            "singer_batch: declare the schema explicitly with .schema(...) "
            "(config-declared schemas, no inference — reference tap.py:86-109)"
        )

    def reader(self, schema):
        return SingerBatchReader(schema, self.options)

    def streamReader(self, schema):
        return SingerBatchStreamReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(SingerBatchDataSource)


class SingerBatchStreamReader(DataSourceStreamReader):
    """Streaming variant: ``spark.readStream.format("singer_batch")`` over
    a DIRECTORY of manifest JSON files — each completed sync drops one
    manifest; the stream ingests manifests exactly once, driven by the
    checkpoint.

    Offsets are ``{"last": "<manifest filename>"}`` — the greatest
    manifest name ingested so far (names compare lexicographically).
    REQUIREMENT: whoever saves the BATCH messages as manifest files must
    give them ascending names (zero-padded sync counters, or
    timestamp-prefixed names). Name-based offsets make re-ingestion
    impossible even if a late manifest sorts below the watermark — such
    a manifest is NOT picked up (it violates the append-only contract)
    rather than corrupting exactly-once. A manifest that fails to parse
    is treated as in-flight and skipped until it is complete (a producer
    that publishes by rename is never seen half-written).

    The manifest directory must be local (a path or ``file://``): the
    driver lists it with ``glob``, which would find nothing under a
    remote URL and leave the stream silently empty, so ``s3a://`` and
    other schemes raise up front. The batch files a manifest names may
    be remote.

    The driver only LISTS manifests; record reading happens on executors,
    one input partition per batch file — the same partition-per-file
    scaling as the batch reader, now per micro-batch."""

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("singer_batch stream: .load(manifest_dir) required")
        if "://" in self.path and not self.path.startswith("file://"):
            raise ValueError(
                "singer_batch stream: the manifest directory must be local "
                f"(a path or file://); got {self.path!r}"
            )
        # decided once on the driver, same as the batch reader
        self._fast = _arrow_fast_schema(schema)
        # highest offset this reader instance has returned — manifests at
        # or below it are NAME-filtered before any open/parse, so per-tick
        # driver work is proportional to NEW manifests, not to the whole
        # accumulated manifest log (the long-running append workload this
        # class exists for). Fresh instances (restart) start at "" and
        # pay one full validation sweep, then go incremental.
        self._watermark = ""

    def _valid_manifests(self, after: str = "", upto: str | None = None) -> list[str]:
        """Sorted manifest paths with ``after < basename [<= upto]`` that
        parse as complete JSON (in-flight writes are skipped — they'll be
        complete by a later tick). The name bounds are applied BEFORE any
        file is opened: names are the ordering contract, so already-seen
        manifests cost a string compare, not a json.load."""
        import glob as _glob
        import os

        p = _local_path(self.path)
        out = []
        for f in sorted(_glob.glob(os.path.join(p, "*.json"))):
            name = os.path.basename(f)
            if name <= after or (upto is not None and name > upto):
                continue
            try:
                with open(f) as fh:
                    json.load(fh)
            except (OSError, ValueError):
                continue
            out.append(f)
        return out

    def initialOffset(self):
        return {"last": ""}

    def latestOffset(self):
        import os

        names = [
            os.path.basename(f) for f in self._valid_manifests(after=self._watermark)
        ]
        if names:
            self._watermark = max(self._watermark, max(names))
        return {"last": self._watermark}

    def partitions(self, start: dict, end: dict):
        files: list[str] = []
        for f in self._valid_manifests(after=start["last"], upto=end["last"]):
            files.extend(_resolve_files(f))
        if not files:
            return []
        return _pack_files(files)

    def read(self, partition):
        return _read_partition(partition, self.schema, self._fast)

    def commit(self, end: dict):
        pass  # progress is the checkpoint's offset log; nothing to ack

