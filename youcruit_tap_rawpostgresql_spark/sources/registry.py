"""Parquet source registry: load testdata tables and register temp views.

In the reference, the "source" is a live PostgreSQL server and the whole SQL
string is shipped to it (``client.py:300-304``). Here the source is a set of
parquet tables registered as temp views; Spark SQL over those views replaces
the PostgreSQL planner/executor. Catalyst pushes filters/column pruning into
the parquet scan, which is the columnar analogue of whole-query pushdown.
Row-group skipping on a timestamp column needs it written UTC-adjusted
(``isAdjustedToUTC=true``): for a naive one, read as ``TIMESTAMP_NTZ``,
Spark 4.1 builds no parquet row-group filter, although ``PushedFilters``
lists the predicate, so a bookmark filter on it reads every row group.
``load_table`` names such columns once per table path.

Scale notes: parquet scans parallelize per file split
(``spark.sql.files.maxPartitionBytes``, default 128 MB); at 100 TB the same
``spark.read.parquet`` call fans out to thousands of tasks with no code
change. Views are plain metadata — registration cost is O(1) per table.
"""

from __future__ import annotations

import logging
import os
import weakref

from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)
_footer_warned = False
_naive_noticed: set[str] = set()  # table paths whose naive columns were named

# Tables the driver generates (TESTDATA.md); identical schema across SFs.
TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _data_file(path: str) -> str | None:
    """``path`` itself, or for a table directory its first data file in
    name order (Spark skips names that start with ``_`` or ``.``); None for
    a directory with no data file."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't map them
    natively; we read them as longs and convert. A table directory is
    judged by its first data file. A footer pyarrow cannot read is warned
    about once per process and counts as having no such column (Spark's own
    read then reports what is wrong with it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    global _footer_warned
    data_file = _data_file(path)
    if data_file is None:
        return []
    try:
        schema = pq.read_schema(data_file)
    except (OSError, pa.ArrowException) as exc:
        if not _footer_warned:
            _footer_warned = True
            logger.warning(
                "cannot read the parquet footer of %s (%s: %s); reading it "
                "with no TIMESTAMP(NANOS) conversion",
                data_file,
                type(exc).__name__,
                exc,
            )
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session-TZ).

    Parquet micros timestamps with isAdjustedToUTC=false surface as
    TIMESTAMP_NTZ in Spark 4; the engine (and its DuckDB oracles, and
    streaming watermarks, which reject NTZ event time) operate on plain
    TIMESTAMP with the session pinned to UTC — the cast is shift-free."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata parquet table as a DataFrame.

    Nanosecond-timestamp columns (pandas/arrow default) are read as raw
    nano longs (``nanosAsLong``) and truncated to microsecond timestamps —
    the same floor-to-micros DuckDB applies, so oracles agree. The
    conversion is a per-row expression inside codegen; predicate pushdown
    on the converted column is lost, which is acceptable for the synthetic
    fixtures (production tables should write micros). Naive micros
    columns are cast by ``normalize_timestamps`` and named in a warning,
    once per table path: a filter on them skips no row group (module
    docstring)."""
    from pyspark.sql.types import TimestampNTZType

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        from pyspark.sql import functions as F

        # the legacy conf is consulted at read time (the relation captures
        # it); restore afterwards so OTHER parquet reads in this session
        # keep normal nanos→timestamp semantics
        key = "spark.sql.legacy.parquet.nanosAsLong"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    else:
        df = spark.read.parquet(path)
    naive = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if naive and path not in _naive_noticed:
        _naive_noticed.add(path)
        logger.warning(
            "%s: naive parquet timestamp columns %s (isAdjustedToUTC=false) "
            "are cast to TIMESTAMP; a filter on them cannot skip row groups",
            path,
            ", ".join(naive),
        )
    return normalize_timestamps(df)


# session → {table path: (file listing, the loaded frame's JVM Dataset)}.
# The Python frame is rebuilt on each hit: it references its session, which
# would keep the weak key alive for good.
_FRAMES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
# session → (sf_dir, tables, {name: JVM Dataset}) of its last
# register_testdata call: the frames its views point at now
_ACTIVE: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def _file_listing(path: str) -> tuple | None:
    """(relative name, size, mtime) of every file under ``path``, or None
    when ``path`` does not exist."""
    if not os.path.exists(path):
        return None
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def register_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Register each table as a temp view named after the table.

    Returns the name → DataFrame mapping for direct DataFrame use. A table
    is loaded once per session and file snapshot: while the files under its
    path (names, sizes, mtimes) are unchanged, the frame loaded before is
    reused, so its footer-inference job does not run again; an added,
    removed or rewritten file reloads it. The views are re-pointed on every
    call, since temp views are session-global and last-writer-wins.
    """
    # every query funnels through here: pin the session timezone so
    # timestamp formatting/comparison matches the (TZ-naive) oracle even on
    # a caller-supplied session on a non-UTC machine
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # cap the stock 200 shuffle partitions on caller-supplied sessions:
    # fixture-scale shuffles (and especially multi-stage stateful streaming,
    # where AQE is disabled) pay per-partition scheduling overhead ~6x for
    # nothing; results are partitioning-independent by construction
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except ValueError:
        pass  # "auto" (AQE-managed) — leave it alone
    _ACTIVE.pop(spark, None)  # a failed load leaves the views mixed
    frames = _FRAMES.setdefault(spark, {})
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        listing = _file_listing(path)
        hit = frames.get(path)
        if listing is not None and hit is not None and hit[0] == listing:
            df = DataFrame(hit[1], spark)
        else:
            df = load_table(spark, sf_dir, name)
            if listing is not None:
                frames[path] = (listing, df._jdf)
        df.createOrReplaceTempView(name)
        out[name] = df
    _ACTIVE[spark] = (
        sf_dir, tuple(tables), {n: d._jdf for n, d in out.items()}
    )
    return out


def registered_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame] | None:
    """The frames of the last ``register_testdata`` call on ``spark`` if
    it registered ``tables`` at ``sf_dir``, else None. Makes no Spark call
    and checks no file: a view replaced or a file changed since that call
    goes unseen."""
    last = _ACTIVE.get(spark)
    if last is None or last[:2] != (sf_dir, tables):
        return None
    return {name: DataFrame(jdf, spark) for name, jdf in last[2].items()}
