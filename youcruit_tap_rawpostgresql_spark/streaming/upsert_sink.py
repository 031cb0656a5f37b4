"""foreachBatch keyed-upsert sink: the CDC-apply half of incremental
replication. The reference EXTRACTS changes (bookmark predicate,
`client.py:260-283`); a complete pipeline also APPLIES them to a keyed
target table. Structured Streaming's ``foreachBatch`` is Spark's idiomatic
place for that merge.

Scale design: the target is a hash-bucketed parquet layout, ``bucket =
portable_hash(key) % n_buckets``. Each micro-batch only rewrites the
buckets that contain changed keys — merge cost is proportional to the
touched fraction of the table, not its total size, exactly like Delta/
Iceberg MERGE file pruning (but with zero external dependencies). Writes
go bucket-partitioned (`partitionBy(bucket)`) with dynamic partition
overwrite so untouched buckets' files are never rewritten.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
    scoped_stream_partitions,
)
from pyspark.sql.window import Window as W

_BUCKET_COL = "__bucket"


def _target_has_data(spark: SparkSession, target_dir: str) -> bool:
    """True when the target exists AND contains data files — via the
    Hadoop FS for the path's own scheme (a driver-local os.path check is
    wrong for s3a://, hdfs://, …, and a _SUCCESS-only directory from an
    empty first batch must count as empty or the next read dies on
    schema inference)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(target_dir)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for status in fs.listStatus(jpath):
        name = str(status.getPath().getName())
        # partition directories may legitimately start with '_' when the
        # partition COLUMN does (__bucket=0) — the '=' marks them as data
        if "=" in name or not name.startswith(("_", ".")):
            return True
    return False


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the block and restore the caller's value —
    leaking partitionOverwriteMode=dynamic would silently change the
    semantics of the caller's later mode('overwrite') writes."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    # non-negative stable bucket from Spark's portable hash
    return df.withColumn(
        _BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(n_buckets))
    )


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    target_dir: str,
    key: str,
    version_col: str,
    n_buckets: int = 16,
) -> None:
    """Merge ``batch_df`` into the bucketed parquet table at ``target_dir``:
    per key, the row with the highest ``version_col`` wins (ties: incoming
    row wins). Only buckets containing incoming keys are rewritten."""
    if batch_df.isEmpty():
        return  # an empty micro-batch must not create a dataless target
    batch = _with_bucket(batch_df, key, n_buckets)
    # dedup within the batch first (a micro-batch may carry several
    # versions of one key)
    w = W.partitionBy(key).orderBy(F.col(version_col).desc())
    batch = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        if not _target_has_data(spark, target_dir):
            batch.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(
                target_dir
            )
            return

        current = spark.read.parquet(target_dir)
        touched = [
            r[_BUCKET_COL] for r in batch.select(_BUCKET_COL).distinct().collect()
        ]
        # bucket pruning: only read+rewrite partitions whose keys changed
        current_touched = current.filter(F.col(_BUCKET_COL).isin(touched))
        merged = (
            current_touched.withColumn("__src", F.lit(0))
            .unionByName(batch.withColumn("__src", F.lit(1)))
            .withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy(key).orderBy(
                        F.col(version_col).desc(), F.col("__src").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        # dynamic overwrite replaces ONLY the touched bucket partitions
        merged.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(target_dir)


def read_upsert_table(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the merged table (bucket column dropped)."""
    return spark.read.parquet(target_dir).drop(_BUCKET_COL)


def run_streaming_upsert(
    spark: SparkSession,
    events_path: str,
    target_dir: str,
    key: str = "user_id",
    version_col: str = "ts",
) -> DataFrame:
    """Stream the events fixture through foreachBatch upserts into a keyed
    state table ("latest event per user"), then return the final table.

    Each micro-batch reduces to one row per key before merging, so state
    applied = state recomputed by the batch oracle regardless of how the
    stream was micro-batched."""
    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        open_file_stream,
    )

    # keep every source column — projecting to a fixture-specific list
    # would break any non-default key/version_col the caller passes
    stream = open_file_stream(spark, events_path)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df.sparkSession, batch_df, target_dir, key, version_col
        )

    with scoped_stream_partitions(spark, source_path=events_path):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation", os.path.join(target_dir + "_chk")
            )
            .start()
        )
        q.awaitTermination()
    return read_upsert_table(spark, target_dir)


def run_streaming_versioned_sink(
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    key: str | None = None,
    trigger_available_now: bool = True,
):
    """Structured Streaming → versioned snapshot table, EXACTLY-ONCE:
    each micro-batch lands through ``versioned.commit_slice``, the rule
    tap syncs follow (a statistics-pruned upsert on ``key``, which rejects
    a batch with a duplicate or NULL key, or an append without ``key``),
    as one snapshot whose manifest records a TRANSACTION MARKER
    ``txn = {app, batch_id}`` with the app identity derived from the
    checkpoint. On restart, foreachBatch may REDELIVER the last batch
    (offsets committed, sink action unacknowledged) — the sink scans
    the manifest log for this app's highest committed batch_id and skips
    duplicates, the (txnAppId, txnVersion) idempotent-sink contract
    production formats use. Keying on the app identity means
    interleaved NON-stream commits (tap syncs, compaction) never erase
    the stream's batch memory, and a NEW checkpoint (= new app) correctly
    reprocesses from its own offset 0 rather than silently discarding
    early batches.

    Scale: micro-batch commits are O(1) manifest publishes; keyed mode
    gets statistics-pruned rewrites, so steady-state cost follows each
    batch's key range. Fed by the singer_batch streaming reader over a
    directory where each sync's BATCH message is saved as a manifest
    file, this closes the loop: manifests in → exactly-once snapshots
    out.

    Returns the StreamingQuery (caller awaits termination)."""
    import hashlib

    from youcruit_tap_rawpostgresql_spark.sources import versioned

    app_id = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:16]

    def _last_committed_batch() -> int | None:
        best = None
        for v in versioned.list_versions(root):
            txn = versioned._read_manifest(root, v).get("txn")
            if txn and txn.get("app") == app_id:
                bid = int(txn["batch_id"])
                best = bid if best is None or bid > best else best
        return best

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = _last_committed_batch()
        if last is not None and batch_id <= last:
            return  # redelivered batch — already committed, skip
        versioned.commit_slice(
            batch_df.sparkSession, batch_df, root, key, op=f"stream-batch-{batch_id}",
            extra={"txn": {"app": app_id, "batch_id": batch_id}},
        )

    writer = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
