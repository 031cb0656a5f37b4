"""Shared expression helpers for oracle-exact query construction."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 12,2 (not 18,2): keeps chained decimal products within both engines'
# 38-digit cap so no precision-loss rounding ever kicks in:
# (12,2)*(12,2)->(25,4), *(12,2) again -> (38,6) exact.
DEC = "decimal(12,2)"


def d(col) -> Column:
    """Cast a (2dp-exact) double column/expr to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col, alias: str) -> Column:
    """Exact decimal sum of a 2dp double, emitted as double (bit-identical
    across engines because the decimal sum is exact)."""
    return F.sum(d(col)).cast("double").alias(alias)


def davg(col, alias: str) -> Column:
    """Exact-sum / count average: one IEEE division, identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(d(c)).cast("double") / F.count(c)).alias(alias)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side result (``rows``: tuples or Rows in field order)
    as a DataFrame with the flat ``schema`` (a StructType or DDL string),
    shipped to the JVM as an Arrow local relation.
    ``spark.createDataFrame(<list>)`` instead runs a Python-RDD job on its
    own worker pool, which costs seconds on the first call in a process.
    TIMESTAMP values may be naive datetimes in the driver's zone, as
    ``collect()`` returns them, or aware ones: both keep their instant under
    any driver ``TZ``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    nested = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if nested:
        raise ValueError(f"local_frame: nested columns {nested} are not supported")
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for col, f, af in zip(columns, schema.fields, arrow_schema):
        if isinstance(f.dataType, T.TimestampType):
            col = [None if v is None else v.astimezone(_dt.timezone.utc) for v in col]
        arrays.append(pa.array(col, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def iso_ts(col, alias: str | None = None) -> Column:
    """Format a timestamp to 'yyyy-MM-dd HH:mm:ss' string (TZ-safe output)."""
    c = F.date_format(F.col(col) if isinstance(col, str) else col, "yyyy-MM-dd HH:mm:ss")
    return c.alias(alias) if alias else c


def iso_date(col, alias: str | None = None) -> Column:
    """Format a timestamp/date to 'yyyy-MM-dd' string."""
    c = F.date_format(F.col(col) if isinstance(col, str) else col, "yyyy-MM-dd")
    return c.alias(alias) if alias else c


# DuckDB-side equivalents (oracle SQL fragments)
def o_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(12,2))) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(12,2))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


def o_iso_date(expr: str, alias: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d') AS {alias}"


# width of the embeddings fixture vectors (TESTDATA.md) — lets vector math
# use the unrolled codegen form instead of the per-element fold
EMB_DIM = 64


# revenue = extendedprice * (1 - discount), exact decimal product then sum
def rev_col() -> Column:
    return d("l_extendedprice") * (F.lit(1).cast(DEC) - d("l_discount"))


def sessionized(e, *cols: str):
    """Shared 30-minute-gap sessionizer over the events table at FULL
    MICROSECOND precision (``unix_micros`` diff > 1800s·10⁶), matching the
    ``ts - LAG(ts) > INTERVAL 30 MINUTE`` oracle fragment and the
    streaming sessionizer's µs state exactly. One definition — the five
    batch session operators previously each carried a floor-to-second
    copy whose boundary differed from their oracles for gaps inside
    (1800, 1801) seconds (latent: no such gap in current fixtures).

    Returns ``e.select(*cols, session_seq)``."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return e.select(
        *cols,
        F.sum(new_session)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("session_seq"),
    )


O_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"


def keep_first_per_key(df, key, order_col: str = "doc_id"):
    """Window dedup: keep the lowest-``order_col`` row per ``key`` — the
    shared stage primitive of the dedup cascades (previously duplicated
    verbatim in dedup_cascade_report and pipeline_resumable_cascade;
    round-7 self-review). WindowGroupLimit bounds the per-key exchange."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy(key).orderBy(order_col)
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


def spread(df):
    """Repartition a small single-split input across cores before heavy
    per-row work (interpreted higher-order functions, Python kernels,
    per-row compression). A 3 MB parquet table arrives as ONE split, so
    everything downstream of it runs in one task until a shuffle; the
    round-5 timing census found several text operators serializing
    seconds of interpreted shingling this way. No-op when the split
    count already covers the cores (the production case).

    Pair with inline explode of heavy array expressions: exploding a
    pre-projected array column lets InferFiltersFromGenerate push a
    size-filter BELOW this exchange, re-running the heavy expression on
    the single pre-exchange split (see dedup_ngram_jaccard's plan
    test).

    The split-count probe (``df.rdd.getNumPartitions()``) compiles the
    physical plan on the driver — measured ~100 ms warm, ~480 ms on
    first touch (r13). The decision is a pure function of the semantic
    plan in a given session (the fixtures and any per-run intermediates
    are immutable while a session lives), so it is memoized on
    (session, semanticHash) — ~1 ms on repeat invocations (bench
    attempts, steady-state reps, the oracle sweep's re-runs)."""
    par, needs = _needs_spread(df)
    if needs:
        return df.repartition(par)
    return df


def spread_keyed(df, *cols):
    """``spread`` variant for the memoized signature/index builders:
    hash-repartition across cores by ``cols`` ONLY when the input arrives
    in fewer splits than cores (the bench fixtures' single-parquet-file
    case). The builders previously repartitioned UNCONDITIONALLY — but
    ``repartition(n, key)`` always inserts an exchange, so on a real
    multi-file production scan the index build paid a full shuffle of the
    corpus PAYLOAD (embeddings/documents) that buys nothing: the kernels
    are strictly per-row/per-doc and the scan's own splits already
    provide the parallelism (guide §2.4 — an exchange you did not
    expect). Hash-by-key (not round-robin) is kept for the small-input
    case because round-robin pays a local sort of every row
    (``spark.sql.execution.sortBeforeRepartition``) — pure overhead on
    the wide embedding/text payloads these builders carry. The split
    probe shares spread()'s memo."""
    par, needs = _needs_spread(df)
    if needs:
        return df.repartition(par, *cols)
    return df


def _needs_spread(df):
    """(cores, should-repartition?) — the memoized single-split probe
    shared by spread()/spread_keyed()."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash(), par)
    except Exception:  # noqa: BLE001 — probe path works for any frame
        key = None
    if key is not None and key in _SPREAD_MEMO:
        needs = _SPREAD_MEMO[key]
    else:
        needs = df.rdd.getNumPartitions() < par
        if key is not None:
            if len(_SPREAD_MEMO) >= 512:  # bounded, FIFO like the dialect memo
                _SPREAD_MEMO.pop(next(iter(_SPREAD_MEMO)))
            _SPREAD_MEMO[key] = needs
    return par, needs


_SPREAD_MEMO: dict = {}


_LIVE_PERSISTS: dict = {}


def persist_scoped(tag: str, df):
    """Persist ``df`` (MEMORY_AND_DISK), first unpersisting whatever frame
    was last persisted under ``tag`` — bounds executor-cache growth across
    long-lived sessions (bench loops, oracle sweeps) to ONE live copy per
    operator instead of one per invocation (round-8 advisory: persists
    with no unpersist accumulate across the sessions the repo's own
    harnesses reuse). Dropping the previous copy is always CORRECT:
    unpersist only discards cached partitions — a stale handle that is
    re-collected recomputes from lineage."""
    from pyspark import StorageLevel

    prev = _LIVE_PERSISTS.pop(tag, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # a stopped/replaced session invalidates old handles
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_PERSISTS[tag] = out
    return out


_LIVE_BROADCASTS: dict = {}


def broadcast_scoped(tag: str, spark, value):
    """Broadcast ``value``, unpersisting whatever broadcast was last made
    under ``tag`` — the broadcast analogue of ``persist_scoped`` (round-8
    self-review): each invocation of an operator that broadcasts a
    multi-MB structure (the sized Bloom bitmap) would otherwise leave the
    previous copy on every executor until GC happens to collect the old
    closure. ``unpersist`` (NOT ``destroy``) keeps this recompute-correct
    like persist_scoped: executor blocks are freed deterministically, but
    the driver retains the value, so a stale result handle from a prior
    invocation that is re-executed simply re-ships the broadcast instead
    of failing; the driver-side copy itself is reclaimed by Spark's
    ContextCleaner once the old closure is garbage collected."""
    prev = _LIVE_BROADCASTS.pop(tag, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # a stopped/replaced session invalidates old handles
    bc = spark.sparkContext.broadcast(value)
    _LIVE_BROADCASTS[tag] = bc
    return bc
