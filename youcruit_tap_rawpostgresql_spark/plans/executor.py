"""Stream SQL execution over registered views.

Replaces the reference's boundary crossing at ``client.py:300-304``
(SQL string → psycopg2 → PostgreSQL) with ``spark.sql`` over temp views:
Catalyst parses/analyzes/optimizes and Tungsten executes. Parameter binding
semantics follow ``client.py:260-298``.
"""

from __future__ import annotations

import re
import weakref as _weakref
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from youcruit_tap_rawpostgresql_spark.plans.dialect import translate_pg_sql
from youcruit_tap_rawpostgresql_spark.spec import SpecError, StreamSpec


# PG extension functions with no Spark builtin, registered as SQL scalar
# UDFs (JVM-side, codegen-friendly — Spark 4 SQL UDFs) so reference SQL
# carrying them runs verbatim. pg_trgm's similarity(): per-word trigram
# sets (lowercase, word split, two leading + one trailing space per word,
# pg_trgm's extraction scheme) and |A∩B|/|A∪B|; NULL input → NULL,
# no trigrams → 0 like PG. KNOWN DELTA (round-8 advisory, also in the
# plans/dialect.py header): the word split is ASCII-only ([^a-z0-9]+),
# matching a C-locale PG; pg_trgm under a real locale keeps non-ASCII
# alphanumerics, so similarity('café', …) diverges from a UTF-8 PG.
# The PG docs literal pins it:
# similarity('word', 'two words') = 0.36363636 (tests/test_pg_pinned.py).
# The % match OPERATOR is NOT rewritten (indistinguishable from modulo
# without type analysis) — write similarity(a, b) >= 0.3 explicitly.
_PG_FUNCTION_DDL = (
    """
CREATE OR REPLACE TEMPORARY FUNCTION trgm_set(s STRING) RETURNS ARRAY<STRING>
RETURN array_distinct(flatten(transform(
  filter(split(lower(s), '[^a-z0-9]+'), w -> w != ''),
  w -> transform(sequence(1, length(concat('  ', w, ' ')) - 2),
                 i -> substring(concat('  ', w, ' '), i, 3)))))
""",
    """
CREATE OR REPLACE TEMPORARY FUNCTION similarity(a STRING, b STRING)
RETURNS DOUBLE
RETURN CASE WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS DOUBLE)
  ELSE coalesce(
    CAST(size(array_intersect(trgm_set(a), trgm_set(b))) AS DOUBLE)
      / nullif(CAST(size(array_union(trgm_set(a), trgm_set(b))) AS DOUBLE),
               0.0),
    0.0) END
""",
)

# every function ensure_pg_functions registers; run_sql registers them on
# the first statement that calls one
_PG_FUNCTION_NAMES = (
    "trgm_set",
    "similarity",
    "jsonb_set",
    "jsonb_insert",
    "jsonb_strip_nulls",
    "jsonb_concat",
    "jsonb_delete_key",
    "jsonb_delete_index",
    "jsonb_delete_path",
    "jsonb_contains",
    "json_each_entries",
    "json_each_text_entries",
    "jsonb_each_entries",
    "jsonb_each_text_entries",
)
_PG_FUNCTION_CALL_RE = re.compile(
    r"\b(?:%s)\s*\(" % "|".join(_PG_FUNCTION_NAMES), re.IGNORECASE
)
_PG_FUNCTIONS_READY: "_weakref.WeakSet" = _weakref.WeakSet()


def ensure_pg_functions(spark: SparkSession) -> None:
    """Register the PG-extension SQL UDFs (``_PG_FUNCTION_NAMES``) once per
    SparkSession; ``run_sql`` calls it for a statement that calls one. The memo
    is a WeakSet of session OBJECTS, not applicationId: temporary
    functions are session-scoped, and ``spark.newSession()`` shares the
    applicationId but not the function registry (round-8 self-review —
    an id-keyed memo would skip registration on the second session and
    similarity() would fail analysis there)."""
    if spark in _PG_FUNCTIONS_READY:
        return
    for ddl in _PG_FUNCTION_DDL:
        spark.sql(ddl)
    # jsonb mutators (round-11): pandas-UDF-backed — Spark has no json
    # mutation expression; see functions/jsonb.py for the PG semantics
    from youcruit_tap_rawpostgresql_spark.functions.jsonb import (
        register_jsonb_mutators,
    )

    register_jsonb_mutators(spark)
    _PG_FUNCTIONS_READY.add(spark)


def run_sql(
    spark: SparkSession,
    sql: str,
    params: Mapping[str, Any] | None = None,
    column_types: Mapping[str, str] | None = None,
    standard_conforming_strings: bool = False,
) -> DataFrame:
    """Execute a PG-dialect SQL string over registered views.

    Parameters bind NATIVELY (``spark.sql(..., args=)``): ``:name``
    markers become typed plan parameters — no quoting, no injection
    surface, and unbound markers fail analysis just like the literal
    binder raised KeyError. Dialect translation is syntax-only here
    (``bind=False``); the literal-substitution binder remains available
    for engines/paths without parameterized SQL.

    ``column_types`` (round-10): lowercase column → PG type map (from
    the declared stream schemas, ``ytrs/spec.py``) enabling the
    dialect's type-dependent rewrites — integer ``/`` → div,
    ``date - date`` → datediff, ``::int`` rounding — over plain column
    refs; see ``translate_pg_sql``.

    ``standard_conforming_strings`` (round-12): PG's server-default
    literal reading — backslashes in plain '…' literals are data; see
    ``translate_pg_sql``."""
    if not sql or not sql.strip():
        raise SpecError("sql must not be empty")  # reference client.py:255-258
    text = translate_pg_sql(
        sql,
        bind=False,
        column_types=column_types,
        standard_conforming_strings=standard_conforming_strings,
    )
    if _PG_FUNCTION_CALL_RE.search(text):
        ensure_pg_functions(spark)
    if params:
        return spark.sql(text, args=dict(params))
    return spark.sql(text)


def run_stream_sql(
    spark: SparkSession,
    spec: StreamSpec,
    params: Mapping[str, Any] | None = None,
    standard_conforming_strings: bool = False,
) -> DataFrame:
    """Execute a stream's declared SQL with bound parameters.

    The stream's DECLARED column types feed the dialect's type-dependent
    rewrites (round-10): PG semantics for integer ``/``, ``date - date``,
    and fractional ``::int`` casts over declared columns — the
    reference's server applied these from its catalog types; the
    declared schema is this engine's equivalent."""
    return run_sql(
        spark,
        spec.sql,
        params=params,
        column_types=spec.column_types,
        standard_conforming_strings=standard_conforming_strings,
    )
