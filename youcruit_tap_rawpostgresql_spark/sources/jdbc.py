"""JDBC source: the production-parity path for the reference's PostgreSQL
extraction (reference S1/S2, ``client.py:33-49`` + ``client.py:300-304``).

The reference ships the whole stream SQL to PostgreSQL over one psycopg2
connection. Spark's JDBC source does the same whole-query pushdown via the
``query`` option — and generalizes it to parallel extraction with
``partitionColumn/lowerBound/upperBound/numPartitions`` (the reference is
architecturally single-connection, ``client.py:106-119``).

No live PostgreSQL (or its JDBC driver jar) exists in this environment, so
``read_jdbc_stream`` is exercised only up to options construction in tests;
the call itself is the standard ``spark.read.format("jdbc")`` path.

Scale: for a 100 TB extraction you'd set ``partitionColumn`` to the
replication key (or any indexed numeric/timestamp column) so N executors
each pull a bounded range; the incremental filter folds into each
partition's WHERE clause server-side.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession


def jdbc_url(config: Mapping[str, Any]) -> str:
    """postgresql JDBC URL from the reference's config shape
    (host/port/database/user/password — ``tap.py:33-61``). An explicit
    ``jdbc_url`` wins — the injected-engine analogue of the reference's
    connection-injection mode (``client.py:28-31``), and what lets the
    test suite point the SAME sync path at embedded Derby."""
    if config.get("jdbc_url"):
        return str(config["jdbc_url"])
    host = config.get("host", "localhost")
    port = config.get("port", 5432)
    database = config["database"]
    return f"jdbc:postgresql://{host}:{port}/{database}"


def jdbc_options(
    config: Mapping[str, Any],
    sql: str,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
) -> dict[str, str]:
    """Assemble Spark JDBC reader options with whole-query pushdown."""
    opts: dict[str, str] = {
        "url": jdbc_url(config),
        "driver": str(config.get("driver", "org.postgresql.Driver")),
        "fetchsize": str(config.get("fetchsize", 10_000)),
    }
    # only pass credentials when configured — embedded engines (Derby)
    # reject auth properties they weren't booted with
    for k, src in (("user", "user"), ("password", "password")):
        if config.get(src) is not None:
            opts[k] = str(config[src])
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # fail at assembly time with the real cause — otherwise Spark
            # dies later parsing the stringified 'None' bounds
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        # partitioned parallel read requires dbtable (a derived table)
        opts["dbtable"] = f"({sql}) AS src"
        opts["partitionColumn"] = partition_column
        opts["numPartitions"] = str(num_partitions or 8)
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
    else:
        opts["query"] = sql
    return opts


def read_jdbc_stream(
    spark: SparkSession,
    config: Mapping[str, Any],
    sql: str,
    **partitioning: Any,
) -> DataFrame:
    """Execute stream SQL on the source database (whole-query pushdown)."""
    return (
        spark.read.format("jdbc")
        .options(**jdbc_options(config, sql, **partitioning))
        .load()
    )

