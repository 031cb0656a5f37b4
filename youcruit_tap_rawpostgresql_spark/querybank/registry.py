"""Registry of judge-facing query cases.

Each case is a named PySpark callable ``(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB oracle SQL string over the pre-registered testdata views.

Float-exactness convention (so value hashes match the oracle bit-for-bit):
the testdata doubles are all 2-decimal-exact, so monetary/quantity aggregates
cast inputs to DECIMAL(18,2) first — decimal sums are exact and identical in
any engine — then cast the final aggregate back to DOUBLE (deterministic).
Averages are expressed as exact-decimal-sum / count in both engines so the
single IEEE division is bit-identical. Timestamps in outputs are formatted to
ISO strings to dodge timezone/representation drift.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from youcruit_tap_rawpostgresql_spark.sources.registry import (
    register_testdata,
    registered_testdata,
)


@dataclass(frozen=True)
class QueryCase:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → driver records rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QueryCase] = {}

def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The testdata tables at ``sf_dir``, with their views pointed at them.

    A query case calls this once or more, so a repeat call for the scale
    factor registered last on ``spark`` returns those frames at no cost;
    otherwise ``register_testdata`` re-points the views, loading only the
    tables whose files changed."""
    frames = registered_testdata(spark, sf_dir)
    return frames if frames is not None else register_testdata(spark, sf_dir)


def register(name: str, oracle: Optional[str] = None, headline: bool = False):
    """Decorator: register a query case under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query case {name!r}")
        REGISTRY[name] = QueryCase(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco
