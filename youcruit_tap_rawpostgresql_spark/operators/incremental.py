"""Incremental / FULL_TABLE replication semantics (reference F2-F3, R4).

Reference behavior (``client.py:260-298``):

- INCREMENTAL (replication_key set, method INCREMENTAL): bookmark resolution
  order is Singer state → config ``replication_key_value_start`` → error.
  The bookmark binds into the SQL as ``:rep_key_val``.
- FULL_TABLE with a replication_key declared: ``replication_key_value_start``
  is REQUIRED (error if missing) and bound the same way.
- After a sync the bookmark advances to max(replication_key).

Here the same semantics drive either (a) a ``:rep_key_val`` parameter bound
into stream SQL, or (b) a DataFrame-level filter. Both push down to the
scan: a JDBC WHERE, or a parquet predicate whose row-group min/max skipping
holds for integer keys and UTC-adjusted timestamps. A naive parquet
timestamp key (``isAdjustedToUTC=false``) skips no row group, so each sync
reads the whole table (``sources/registry.py``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.spec import SpecError, StreamSpec
from youcruit_tap_rawpostgresql_spark.state import StateStore


def resolve_starting_bookmark(spec: StreamSpec, state: StateStore | None) -> Any:
    """Resolve the starting replication-key value, reference-order.

    INCREMENTAL: state bookmark → config start → SpecError
    (reference ``client.py:260-283``).
    FULL_TABLE + replication_key: config start or SpecError
    (reference ``client.py:285-298``).
    Streams without a replication key have no bookmark (returns None).
    """
    if spec.replication_key is None:
        return None
    if spec.replication_method == "INCREMENTAL":
        if state is not None:
            bm = state.get_bookmark(
                spec.fully_qualified_name, spec.replication_key
            )
            if bm is not None:
                return bm
        if spec.replication_key_value_start is not None:
            return spec.replication_key_value_start
        raise SpecError(
            f"stream {spec.name!r}: INCREMENTAL stream has no state bookmark and "
            "no replication_key_value_start"
        )
    # FULL_TABLE with replication key declared
    if spec.replication_key_value_start is None:
        raise SpecError(
            f"stream {spec.name!r}: FULL_TABLE with replication_key requires "
            "replication_key_value_start"
        )
    return spec.replication_key_value_start


def apply_replication_filter(df: DataFrame, spec: StreamSpec, bookmark: Any) -> DataFrame:
    """Filter rows newer than the bookmark (pushed down by Catalyst)."""
    if spec.replication_key is None or bookmark is None:
        return df
    col = F.col(spec.replication_key)
    lit = F.lit(bookmark)
    # cast the literal to the column's type (e.g. ISO string → timestamp)
    dtype = dict(df.dtypes).get(spec.replication_key)
    if dtype:
        lit = lit.cast(dtype)
    return df.filter(col > lit)


def bookmark_max(df: DataFrame, key: str):
    """The bookmark aggregate ``max(key)`` over ``df``, aliased ``mx``.

    Python reads a TIMESTAMP value back (``Row``, ``Observation.get``) as
    a naive datetime in the DRIVER process's local zone, while the stored
    bookmark is bound back into the session as a naive literal: with a
    driver ``TZ`` other than the session's, the next sync would skip (or
    re-read) hours of rows. So a TIMESTAMP max is cast to TIMESTAMP_NTZ in
    the JVM, which gives the session-zone wall clock and crosses to Python
    unshifted. TIMESTAMP_NTZ and every other type pass through unchanged.
    """
    mx = F.max(key)
    if dict(df.dtypes).get(key) == "timestamp":
        mx = mx.cast("timestamp_ntz")
    return mx.alias("mx")

