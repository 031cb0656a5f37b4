"""SparkSession construction tuned for this engine.

The reference accepts an injected SQLAlchemy connection for tests
(``tap.py:147-157``, ``client.py:24-31``); here the analogous injection point
is an externally supplied SparkSession — every public API takes ``spark`` as
a parameter. This module only provides a tuned default builder.

Scale notes (100 TB design): these settings are local-mode test defaults.
On a real cluster the same code runs unchanged; the knobs that matter there
(shuffle partitions ~ 2-3× total cores, AQE on, broadcast threshold, file
split sizes) are set by the submitter. AQE handles skew-join splitting and
partition coalescing at runtime, which is the first line of defense at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "youcruit_tap_rawpostgresql_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the codegen cache is keyed per classloader, so a stage compiled
        # on the driver and in a task takes two entries: the default 100
        # evicts within one pass over the querybank headliners
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if os.environ.get("SPARK_GRAFT_EVENTLOG"):
        # measurement aid (guide §1/§7): stage-level wall attribution for
        # the profiling harness; off unless explicitly requested
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", "file:///tmp/spark-events"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
