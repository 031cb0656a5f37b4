"""Extended operator coverage: as-of join, pivot/unpivot, subqueries, CTEs,
percentile aggregates, sessionization, multimodal decode (mapInPandas),
Pandas UDFs, and Structured-Streaming windowed aggregation.

These fill out the delegated-surface corners of SURVEY.md §2.4-2.8 plus the
§2.10-2.12 extensions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from youcruit_tap_rawpostgresql_spark.querybank.helpers import d, iso_ts, local_frame
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables

# ---------------------------------------------------------------------------
# As-of join (SURVEY.md §2.4 extension row)
# ---------------------------------------------------------------------------


@register(
    "join_asof",
    # views deduped to the max-event_id row per (user, ts): DuckDB's ASOF
    # picks an ARBITRARY row among equal timestamps while the Spark window
    # (ordered ts, kind, event_id) deterministically surfaces the last —
    # the dedup pins both engines to the same choice should the fixture
    # ever carry same-(user, ts) view pairs
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
  v.value AS last_view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the latest view of the same user at or
    before it. Spark lacks a native ASOF; the idiomatic composition is a
    union + last_value(ignorenulls) running window — one shuffle on
    (user_id), same as the sort-merge an engine-native ASOF would do.

    Scale: cost = window sort per user partition; no row explosion. The
    pandas ``merge_asof``-per-group alternative only wins when one side is
    tiny; this form stays fully JVM-side."""
    e = tables(spark, sf_dir)["events"]
    tagged = e.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        "user_id",
        "ts",
        # views sort before clicks at identical ts so `<=` semantics hold
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("view_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn(
            "last_view_value", F.last("view_value", ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", iso_ts("ts", "ts"), "last_view_value")
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot (§2.7-adjacent reshaping)
# ---------------------------------------------------------------------------


@register(
    "pivot_sum",
    oracle="""
SELECT l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS F,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS O
FROM lineitem GROUP BY l_returnflag
""",
)
def pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: linestatus values become columns (explicit value list keeps
    the plan single-pass — no distinct-scan to discover columns)."""
    l = tables(spark, sf_dir)["lineitem"]
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(d("l_quantity")).cast("double"))
    )


@register(
    "unpivot_stack",
    oracle="""
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
""",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack(): wide → long without a join or shuffle."""
    p = tables(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'p_size', CAST(p_size AS DOUBLE), "
            "'p_retailprice', p_retailprice) AS (metric, value)"
        ),
    )


# ---------------------------------------------------------------------------
# Subqueries / CTEs (§2.5, §2.8 delegated surface)
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar",
    oracle="""
SELECT o_orderkey, o_totalprice,
  ROUND(o_totalprice / (
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders
  ), 9) AS vs_avg
FROM orders WHERE o_totalprice > 1.8 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders
)
""",
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (global average) in both projection and predicate.
    Catalyst plans it as a broadcast of the 1-row aggregate — no per-row
    re-evaluation."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
          ROUND(o_totalprice / (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders
          ), 9) AS vs_avg
        FROM orders WHERE o_totalprice > 1.8 * (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders
        )
        """
    )


@register(
    "subquery_in",
    oracle="""
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
  AND o_orderstatus = 'F'
""",
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (decorrelates to a left-semi join)."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
          AND o_orderstatus = 'F'
        """
    )


@register(
    "subquery_exists_correlated",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
) AND NOT EXISTS (
  SELECT 1 FROM orders o2
  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
)
""",
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS (decorrelates to semi + anti join)."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        ) AND NOT EXISTS (
          SELECT 1 FROM orders o2
          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        )
        """
    )


@register(
    "cte_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def cte_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: CTE referenced twice (base + scalar-subquery max).
    Spark plans the CTE once per reference; at scale you'd cache it —
    here the quarter-filtered aggregate is small either way."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


# ---------------------------------------------------------------------------
# Percentile / ordered-set aggregates (§2.5)
# ---------------------------------------------------------------------------


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
  ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50_qty,
  ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 6) AS p90_price,
  ROUND(CAST(median(l_discount) AS DOUBLE), 6) AS med_disc
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (PG percentile_cont equivalent).
    Scale note: exact percentile buffers per group — at 100 TB switch to
    ``percentile_approx`` (mergeable sketch, bounded memory); kept exact
    here because the oracle needs determinism."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(l_discount, 0.5)"), 6).alias("med_disc"),
    )


# ---------------------------------------------------------------------------
# Sessionization (window-function composition)
# ---------------------------------------------------------------------------


@register(
    "sessionize",
    headline=True,
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE OR
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, event_id,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
""",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → new session (lag + running
    sum over one per-user window sort; the batch analogue of streaming
    ``session_window``)."""
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import sessionized

    e = tables(spark, sf_dir)["events"]
    sess = sessionized(e, "user_id", "event_id", "ts")
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Multimodal decode + Pandas UDF (§2.11-2.12)
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode",
    oracle="""
SELECT doc_id,
  strlen(text) AS n_bytes,
  strlen(text) % 640 AS fake_width,
  strlen(text) % 480 AS fake_height,
  md5(text) AS checksum
FROM documents
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: attach binary + metadata columns, then run
    the (stub) decoder through Arrow-batched mapInPandas. The decode values
    are deterministic, so even the Python-worker path is oracle-checked."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        decode_payloads,
    )

    docs = tables(spark, sf_dir)["documents"]
    return decode_payloads(attach_binary_payload(docs))


@register(
    "udf_pandas_tokens",
    oracle=r"""
SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens_udf
FROM documents
""",
)
def udf_pandas_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar Pandas UDF (the sanctioned slow path —
    §2.11). Row-at-a-time Python UDFs are banned in this engine; this
    demonstrates the 10-100× better alternative when Python is truly
    needed."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def token_count(s: pd.Series) -> pd.Series:
        return s.str.split().map(len)

    docs = tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", token_count("text").alias("n_tokens_udf"))


# ---------------------------------------------------------------------------
# Structured Streaming (§2.10 extension)
# ---------------------------------------------------------------------------


@register(
    "stream_windowed_agg",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation through a REAL Structured Streaming query
    (readStream → watermark → window → memory sink, Trigger.AvailableNow) —
    proving the micro-batch path computes exactly what the batch SQL oracle
    computes."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        run_windowed_stream,
    )

    return run_windowed_stream(
        spark, os.path.join(sf_dir, "events.parquet"), window_duration="6 hours"
    )


@register(
    "stream_stateful_sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE OR
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
""",
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    GroupState carries (last_ts, session_seq, open_count) across
    micro-batches; final output equals the batch sessionization oracle."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.stateful import (
        run_stateful_sessionize,
    )

    return run_stateful_sessionize(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_session_window",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              >= INTERVAL 30 MINUTE OR
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM g
)
SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window streaming aggregation (declarative gap-merge;
    the engine owns the session state). Oracle uses the >= gap cut to match
    the engine's [start, last+gap) window semantics."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.stateful import (
        run_session_window_stream,
    )

    return run_session_window_stream(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "grouped_map_topk",
    oracle="""
SELECT user_id, event_id, rnk FROM (
  SELECT user_id, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
  FROM events
) WHERE rnk <= 2
""",
)
def grouped_map_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-2 events by value with imperative per-group pandas
    logic (§2.11) — the declarative window form (topk_per_group) is what
    the engine uses when the logic is expressible; this case carries the
    scale shape for logic that is NOT.

    r14 optimization (guide §4): the original ``groupBy().applyInPandas``
    paid the grouped-map API's per-GROUP Arrow framing — one pandas
    DataFrame constructed and one Python call dispatched per user (an
    identity grouped-map over the same 1500 fixture groups costs 3.4 s
    alone; this case sat at 5.3 s steady, the bank's worst). The same
    computation is expressible as repartition-by-key +
    ``sortWithinPartitions(key)`` + ``mapInPandas`` whose batches carry
    THOUSANDS of groups each: one vectorized ``groupby().cumcount()`` per
    ~10k-row Arrow batch replaces ~10k per-group calls, and the plan's
    shuffle (one hash exchange on the group key) is identical to what the
    grouped-map operator required anyway. Groups are contiguous within a
    sorted partition, so a batch boundary can only split the LAST group of
    a batch — those rows carry over to the next batch (classic streaming
    groupby); every group is still processed exactly once and whole.
    Per-group semantics are byte-identical: the same
    ``sort_values([value desc, event_id asc])`` + head(2) + 1-based rank,
    now applied to all groups of a batch at once (same-session alternating
    A/B at sf0.1, noop sink: applyInPandas 5.298 s / this 0.518 s /
    applyInArrow 1.055 s best-of-3 — the batch form wins 10×; equivalence
    pinned in
    tests/test_operators.py::test_grouped_map_topk_matches_apply_in_pandas)."""
    import pandas as pd

    e = tables(spark, sf_dir)["events"]
    src = (
        e.select("user_id", "event_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id")
    )

    def top2_batches(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            uid = pdf["user_id"]
            # a NULL key is one group too, and NaN == NaN is False
            tail_mask = uid.isna() if pd.isna(uid.iat[-1]) else uid == uid.iat[-1]
            carry = pdf[tail_mask]
            pdf = pdf[~tail_mask.to_numpy()]
            if len(pdf):
                yield _top2_vectorized(pdf)
        if carry is not None and len(carry):
            yield _top2_vectorized(carry)

    def _top2_vectorized(pdf):
        # mergesort (stable) so equal (value, event_id) rows keep input
        # order — same tie behavior as the per-group sort_values call
        pdf = pdf.sort_values(
            ["user_id", "value", "event_id"],
            ascending=[True, False, True],
            kind="mergesort",
        )
        rnk = pdf.groupby("user_id", sort=False, dropna=False).cumcount() + 1
        out = pdf.loc[rnk <= 2, ["user_id", "event_id"]].copy()
        out["rnk"] = rnk[rnk <= 2]
        return out

    return src.mapInPandas(top2_batches, "user_id long, event_id long, rnk long")


@register(
    "multimodal_frame_sample",
    oracle="""
WITH f AS (
  -- fixture text is pure ASCII (verified), so char ops == byte ops
  SELECT doc_id, text AS raw,
    unnest(generate_series(0, LEAST(4, CAST(ceil(CAST(strlen(text) // 64 AS DOUBLE) / 4) AS INT) - 1))) AS k
  FROM documents
  WHERE strlen(text) // 64 >= 1
)
SELECT doc_id, k * 4 AS frame_idx, k * 4 * 64 AS byte_offset,
  md5(substring(raw, k * 4 * 64 + 1, 64)) AS frame_md5
FROM f
WHERE k * 4 < strlen(raw) // 64
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over opaque binary payloads: decode →
    every-4th-frame stride sample (cap 5) → per-frame checksum, fanned out
    one-row-per-frame through mapInPandas (the real pipeline shape with a
    deterministic stub decoder)."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = tables(spark, sf_dir)["documents"]
    return sample_frames(attach_binary_payload(docs))


@register(
    "multimodal_resize",
    oracle="""
WITH r AS (
  -- fixture text is pure ASCII, so the byte-stride downsample equals a
  -- char-stride downsample
  SELECT doc_id, array_to_string(
    list_transform(
      list_filter(generate_series(1, strlen(text)), i -> i % 2 = 1),
      i -> substr(text, CAST(i AS INT), 1)), '') AS resized
  FROM documents
)
SELECT doc_id, strlen(resized) AS n_bytes_out,
  strlen(resized) % 320 AS out_width,
  strlen(resized) % 240 AS out_height,
  md5(resized) AS resized_md5
FROM r
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: binary payload → deterministic 2× downsample stub →
    new size/dims/checksum via mapInPandas (the schema, batching, and
    shrink profile of a real image resize)."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        resize_payloads,
    )

    docs = tables(spark, sf_dir)["documents"]
    return resize_payloads(attach_binary_payload(docs))


@register(
    "stream_dedup_watermark",
    oracle="""
SELECT user_id, event_type,
  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute, event_id
FROM events
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY user_id, event_type, date_trunc('minute', ts)
  ORDER BY event_id) = 1
""",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark through a real micro-batch query);
    equals the batch first-per-key oracle."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        run_stream_dedup,
    )

    return run_stream_dedup(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM events c JOIN events e
  ON c.user_id = e.user_id AND c.event_type = 'click' AND e.event_type = 'error'
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks ↔ same-user errors
    within 30 minutes) through a real micro-batch query; over the bounded
    replay it equals the batch self-join oracle."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        run_stream_stream_join,
    )

    return run_stream_stream_join(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stream_upsert_latest",
    oracle="""
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_id, event_type, value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply: stream the events fixture through foreachBatch keyed
    upserts into a hash-bucketed parquet target (only buckets containing
    changed keys are rewritten — Delta-MERGE-style pruning with plain
    parquet), then read the final "latest event per user" state; equals the
    batch latest-per-key oracle."""
    import os
    import tempfile
    import uuid as _uuid

    from youcruit_tap_rawpostgresql_spark.streaming.upsert_sink import (
        run_streaming_upsert,
    )

    target = os.path.join(
        tempfile.gettempdir(), "spark_graft_upsert", _uuid.uuid4().hex[:12]
    )
    out = run_streaming_upsert(spark, os.path.join(sf_dir, "events.parquet"), target)
    result = out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "event_id",
        "event_type",
        "value",
    )
    # materialize (one row per user), then delete the upsert target and
    # checkpoint — per-invocation uuid dirs would otherwise pile up in /tmp
    import shutil

    rows = result.collect()
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(target + "_chk", ignore_errors=True)
    return local_frame(spark, rows, result.schema)


@register(
    "multimodal_audio_energy",
    oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents
), f AS (
  SELECT doc_id, text,
    unnest(generate_series(0, CAST(n // 32 AS INTEGER) - 1)) AS frame_idx
  FROM d WHERE n >= 32
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(list_sum(list_transform(generate_series(1, 32),
    i -> ascii(substr(text, frame_idx * 32 + i, 1)))) AS BIGINT) AS energy
FROM f
""",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style feature extraction plumbing: windowed energy (sum of
    byte values per 32-byte frame, stride 32, partial tail dropped) over
    the opaque binary payload via mapInPandas — the batch shape of a PCM
    frame-energy/VAD extractor, with integer sums both engines reproduce.

    Scale: payload bytes stream through Arrow batches worker-side (never
    the driver); features detach from the blob immediately, so downstream
    shuffles move 16-byte rows, not media."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        frame_energy,
    )

    docs = tables(spark, sf_dir)["documents"]
    return frame_energy(attach_binary_payload(docs))


@register(
    "stream_sliding_window",
    # every event falls in exactly window/slide = 2 overlapping windows:
    # starts floor_3h(ts) and floor_3h(ts) - 3h — the oracle fans each row
    # out with unnest([0,1]) and re-aggregates
    oracle="""
WITH w AS (
  SELECT event_type, value,
    time_bucket(INTERVAL '3 hours', ts) - k * INTERVAL '3 hours' AS wstart
  FROM events, unnest([0, 1]) AS u(k)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM w GROUP BY 1, 2
""",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (6h window, 3h slide) through a REAL
    Structured Streaming query — overlapping-window semantics proven
    against the batch fan-out oracle."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.incremental_stream import (
        run_sliding_stream,
    )

    return run_sliding_stream(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "multimodal_byte_histogram",
    # fixture text is pure ASCII (verified for the frame ops), so byte
    # values == ascii codes and the oracle can recompute the bins with
    # string functions; bin = byte >> 4 = ascii // 16
    oracle="""
WITH pos AS (
  SELECT doc_id, text,
    unnest(generate_series(1, length(text))) AS i
  FROM documents
)
SELECT doc_id, CAST(ascii(substr(text, i, 1)) // 16 AS BIGINT) AS bin,
  COUNT(*) AS n_bytes
FROM pos GROUP BY 1, 2
""",
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-style channel statistics plumbing: per-payload 16-bin byte
    histogram through the same Arrow-batched mapInPandas path as the
    decode/frame ops — integer counts, vectorized numpy bincount per doc.

    Scale: map-only feature extraction; histograms detach from the blob
    inside the worker, so only 24-byte feature rows ever shuffle."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        byte_histogram,
    )

    docs = tables(spark, sf_dir)["documents"]
    return byte_histogram(attach_binary_payload(docs))


@register(
    "agg_mode_per_group",
    # mode with a PINNED tie order (count desc, then type asc) — PG's
    # mode() WITHIN GROUP and DuckDB's mode() leave ties engine-defined,
    # so both sides compute the deterministic window form instead
    oracle="""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type AS mode_type, cnt
FROM (
  SELECT user_id, event_type, cnt,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY cnt DESC, event_type) AS rn
  FROM c
) WHERE rn = 1
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent event_type per user) — the ordered-set
    aggregate family (PG `mode() WITHIN GROUP`), expressed with an explicit
    deterministic tiebreak because the native aggregates leave ties
    engine-defined.

    Scale: count agg + rank share the user_id-prefixed shuffle; the rank
    input is one row per (user, type), already collapsed map-side."""
    e = tables(spark, sf_dir)["events"]
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "cnt")
    )


@register(
    "er_blocked_fuzzy_join",
    # levenshtein is the standard DP edit distance — integer-identical in
    # both engines; blocking on nation bounds the pair space
    oracle="""
SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
  AND a.c_custkey % 10 = 0
  AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
)
def er_blocked_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation: fuzzy name match (edit
    distance ≤ 2) with blocking — the blocked similarity join that turns
    an O(n²) match into candidate work.

    Round-5 rebuild: nation-only blocking leaves blocks that grow
    linearly with the corpus, so block-internal pairs grow
    QUADRATICALLY (sf1 census: 172 s cold — 90M levenshtein pairs). The
    candidate key is now (nation, segment_idx, segment_text) with names
    split into 3 aligned thirds — the PassJoin pigeonhole: two
    equal-length strings within edit distance 2 (substitutions) must
    agree on at least one of 3 aligned segments, so candidates come from
    an equi-join on shared segments and only near-identical names ever
    meet levenshtein. COMPLETE for fixed-width ID-like keys (this
    fixture's name format, and most real ER keys); variable-length
    corpora need PassJoin's position-shifted substring matching — pairs
    differing in length by 1-2 are not candidates here (length diff > 2
    can never be ED ≤ 2 and is correctly excluded). The oracle computes
    ground truth (ALL in-nation pairs with ED ≤ 2), so any fixture where
    the precondition failed would hash-mismatch.

    Scale: segment explode is 3 rows per name; candidate volume tracks
    the true near-dup count, not block size²; levenshtein verifies only
    candidates."""
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import spread

    c = spread(tables(spark, sf_dir)["customer"])
    segs = F.expr(
        "transform(sequence(0, 2), i -> struct(i AS idx, "
        "substring(c_name, cast(floor(length(c_name) * i / 3) as int) + 1, "
        "cast(floor(length(c_name) * (i + 1) / 3) "
        " - floor(length(c_name) * i / 3) as int)) AS seg))"
    )
    base = c.select(
        "c_custkey", "c_name", F.col("c_nationkey").alias("nk"),
        F.explode(segs).alias("s"),
    ).select(
        "c_custkey", "c_name", "nk",
        F.col("s.idx").alias("idx"), F.col("s.seg").alias("seg"),
    )
    a = base.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        "nk", "idx", "seg",
    )
    b = base.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        "nk", "idx", "seg",
    )
    cand = (
        a.join(b, ["nk", "idx", "seg"])
        .filter(F.col("a_key") < F.col("b_key"))
        .select("a_key", "a_name", "b_key", "b_name")
        .distinct()
    )
    return (
        cand.select(
            "a_key",
            "b_key",
            F.levenshtein("a_name", "b_name").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "profile_outlier_iqr",
    # fences are ROUNDED to 6dp in both engines before comparing (the
    # interpolation op order inside percentile differs across engines in
    # the last ulp; comparing on the rounded fence removes the boundary).
    # Fence multiplier 0.4, NOT the textbook 1.5: the fixture's balances
    # are uniform, where 1.5·IQR fences lie outside the data range and the
    # check would pass vacuously on two empty sets
    oracle="""
WITH q AS (
  SELECT c_nationkey,
    ROUND(CAST(quantile_cont(c_acctbal, 0.25) AS DOUBLE), 6) AS q1,
    ROUND(CAST(quantile_cont(c_acctbal, 0.75) AS DOUBLE), 6) AS q3
  FROM customer GROUP BY c_nationkey
)
SELECT c.c_nationkey AS nationkey,
  COUNT(*) FILTER (WHERE c.c_acctbal < ROUND(q.q1 - 0.4 * (q.q3 - q.q1), 6)
                      OR c.c_acctbal > ROUND(q.q3 + 0.4 * (q.q3 - q.q1), 6))
    AS n_outliers,
  COUNT(*) AS n_total,
  ROUND(q.q1, 6) AS q1, ROUND(q.q3, 6) AS q3
FROM customer c JOIN q ON c.c_nationkey = q.c_nationkey
GROUP BY c.c_nationkey, q.q1, q.q3
""",
)
def profile_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier profiling per nation: count balances outside
    [q1 − 0.4·IQR, q3 + 0.4·IQR] — the data-quality screen run after each
    sync (exact quartiles, deterministic fences).

    Scale: quartiles per group broadcast back onto the rows (group count ≪
    rows); at 100 TB switch the exact percentile for the approx sketch and
    the semantics degrade gracefully."""
    c = tables(spark, sf_dir)["customer"]
    q = c.groupBy("c_nationkey").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.round(F.col("q1") - 0.4 * iqr, 6)
    hi = F.round(F.col("q3") + 0.4 * iqr, 6)
    return (
        c.join(F.broadcast(q), "c_nationkey")
        .groupBy(F.col("c_nationkey").alias("nationkey"), "q1", "q3")
        .agg(
            F.count(
                F.when((F.col("c_acctbal") < lo) | (F.col("c_acctbal") > hi), 1)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select("nationkey", "n_outliers", "n_total", "q1", "q3")
    )


@register(
    "stream_ewma_stateful",
    # the same recursive-CTE oracle as the batch fold (ts_ewma_final): the
    # streaming state machine replays the identical IEEE recurrence
    oracle="""
WITH RECURSIVE ranked AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rnk
  FROM events
), r AS (
  SELECT user_id, rnk, v AS s FROM ranked WHERE rnk = 1
  UNION ALL
  SELECT x.user_id, x.rnk, 0.3 * x.v + 0.7 * r.s
  FROM r JOIN ranked x ON x.user_id = r.user_id AND x.rnk = r.rnk + 1
), last AS (
  SELECT user_id, MAX(rnk) AS n_events FROM r GROUP BY user_id
)
SELECT r.user_id, last.n_events, ROUND(r.s, 6) AS ewma
FROM r JOIN last ON r.user_id = last.user_id AND r.rnk = last.n_events
""",
)
def stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA as a REAL custom stateful streaming operator — the streaming
    twin of ts_ewma_final, same recurrence carried in a per-user GroupState
    across micro-batches; batch fold, streaming state machine, and the
    recursive-CTE oracle all agree bit-for-bit."""
    import os

    from youcruit_tap_rawpostgresql_spark.streaming.stateful import (
        run_stateful_ewma,
    )

    return run_stateful_ewma(spark, os.path.join(sf_dir, "events.parquet"))


@register(
    "stats_gini_coefficient",
    # Gini over shifted-positive balances: rank-weighted sum with ranks
    # deterministic under (value, key) ordering; Σx and Σ(rank·x) are
    # exact decimals (rank is an integer multiplier), so the final
    # two-division formula is the only float arithmetic
    oracle="""
WITH ranked AS (
  SELECT CAST(c_acctbal AS DECIMAL(12,2)) + 1000 AS x,
    ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS i,
    COUNT(*) OVER () AS n
  FROM customer
)
SELECT ROUND(
  2.0 * CAST(SUM(i * x) AS DOUBLE) / (n * CAST(SUM(x) AS DOUBLE))
  - (n + 1.0) / n, 6) AS gini,
  CAST(MAX(n) AS BIGINT) AS n_customers
FROM ranked GROUP BY n
""",
)
def stats_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of (shifted-positive) customer balances — the
    inequality/concentration summary used for skew diagnosis and fairness
    reporting. Rank-weighted exact-decimal sums; only the closed-form
    division is float.

    Scale: the global rank is the textbook form at fixture scale; at
    100 TB ranks come from the two-phase per-shard rank + prefix offsets
    (ids_dense_assign), and the weighted sums stay mergeable partials."""
    c = tables(spark, sf_dir)["customer"]
    w = W.orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        (F.col("c_acctbal").cast("decimal(12,2)") + 1000).alias("x"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    return ranked.groupBy("n").agg(
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x")).cast("double")
            / (F.col("n") * F.sum("x").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
        F.max("n").cast("bigint").alias("n_customers"),
    ).drop("n")


@register(
    "agg_percentile_disc",
    # discrete percentile = an ACTUAL element (rank ceil(p·n) under a
    # deterministic order) — no interpolation, no float boundary at all
    oracle="""
WITH ranked AS (
  SELECT l_returnflag, l_quantity,
    ROW_NUMBER() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS r,
    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
  MIN(CASE WHEN 2 * r >= n THEN l_quantity END) AS p50_disc,
  MIN(CASE WHEN 10 * r >= 9 * n THEN l_quantity END) AS p90_disc
FROM ranked GROUP BY l_returnflag
""",
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (PG `percentile_disc` semantics: the smallest
    element whose cumulative rank reaches p) — integer rank arithmetic
    only, complementing the continuous `agg_percentiles`."""
    l = tables(spark, sf_dir)["lineitem"]
    w = W.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    ranked = l.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("l_returnflag")).alias("n"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("r") >= F.col("n"), F.col("l_quantity"))).alias(
            "p50_disc"
        ),
        F.min(
            F.when(10 * F.col("r") >= 9 * F.col("n"), F.col("l_quantity"))
        ).alias("p90_disc"),
    )


@register(
    "multimodal_frame_embed_cluster",
    oracle="""
WITH f AS (
  SELECT doc_id, text AS raw,
    unnest(generate_series(0, LEAST(4, CAST(ceil(CAST(strlen(text) // 64 AS DOUBLE) / 4) AS INT) - 1))) AS k
  FROM documents
  WHERE strlen(text) // 64 >= 1
), fr AS (
  SELECT doc_id, k * 4 AS frame_idx,
    substring(raw, k * 4 * 64 + 1, 64) AS frame
  FROM f WHERE k * 4 < strlen(raw) // 64
), codes AS (
  SELECT doc_id, frame_idx,
    list_transform(generate_series(1, 64), i -> ascii(frame[i])) AS codes
  FROM fr
), hist AS (
  SELECT doc_id, frame_idx,
    CAST(len(list_filter(codes, c -> c // 16 = 0)) AS BIGINT) AS h0,
    CAST(len(list_filter(codes, c -> c // 16 = 1)) AS BIGINT) AS h1,
    CAST(len(list_filter(codes, c -> c // 16 = 2)) AS BIGINT) AS h2,
    CAST(len(list_filter(codes, c -> c // 16 = 3)) AS BIGINT) AS h3,
    CAST(len(list_filter(codes, c -> c // 16 = 4)) AS BIGINT) AS h4,
    CAST(len(list_filter(codes, c -> c // 16 = 5)) AS BIGINT) AS h5,
    CAST(len(list_filter(codes, c -> c // 16 = 6)) AS BIGINT) AS h6,
    CAST(len(list_filter(codes, c -> c // 16 = 7)) AS BIGINT) AS h7,
    CAST(len(list_filter(codes, c -> c // 16 = 8)) AS BIGINT) AS h8,
    CAST(len(list_filter(codes, c -> c // 16 = 9)) AS BIGINT) AS h9,
    CAST(len(list_filter(codes, c -> c // 16 = 10)) AS BIGINT) AS h10,
    CAST(len(list_filter(codes, c -> c // 16 = 11)) AS BIGINT) AS h11,
    CAST(len(list_filter(codes, c -> c // 16 = 12)) AS BIGINT) AS h12,
    CAST(len(list_filter(codes, c -> c // 16 = 13)) AS BIGINT) AS h13,
    CAST(len(list_filter(codes, c -> c // 16 = 14)) AS BIGINT) AS h14,
    CAST(len(list_filter(codes, c -> c // 16 = 15)) AS BIGINT) AS h15
  FROM codes
), d AS (
  SELECT doc_id, frame_idx, [((h0 - 2) * (h0 - 2) + (h1 - 6) * (h1 - 6) + (h2 - 0) * (h2 - 0) + (h3 - 1) * (h3 - 1) + (h4 - 7) * (h4 - 7) + (h5 - 2) * (h5 - 2) + (h6 - 1) * (h6 - 1) + (h7 - 8) * (h7 - 8) + (h8 - 1) * (h8 - 1) + (h9 - 6) * (h9 - 6) + (h10 - 1) * (h10 - 1) + (h11 - 6) * (h11 - 6) + (h12 - 6) * (h12 - 6) + (h13 - 4) * (h13 - 4) + (h14 - 2) * (h14 - 2) + (h15 - 1) * (h15 - 1)), ((h0 - 7) * (h0 - 7) + (h1 - 0) * (h1 - 0) + (h2 - 3) * (h2 - 3) + (h3 - 0) * (h3 - 0) + (h4 - 3) * (h4 - 3) + (h5 - 6) * (h5 - 6) + (h6 - 0) * (h6 - 0) + (h7 - 1) * (h7 - 1) + (h8 - 0) * (h8 - 0) + (h9 - 2) * (h9 - 2) + (h10 - 7) * (h10 - 7) + (h11 - 7) * (h11 - 7) + (h12 - 1) * (h12 - 1) + (h13 - 8) * (h13 - 8) + (h14 - 6) * (h14 - 6) + (h15 - 8) * (h15 - 8)), ((h0 - 1) * (h0 - 1) + (h1 - 2) * (h1 - 2) + (h2 - 7) * (h2 - 7) + (h3 - 7) * (h3 - 7) + (h4 - 3) * (h4 - 3) + (h5 - 4) * (h5 - 4) + (h6 - 3) * (h6 - 3) + (h7 - 3) * (h7 - 3) + (h8 - 7) * (h8 - 7) + (h9 - 2) * (h9 - 2) + (h10 - 5) * (h10 - 5) + (h11 - 4) * (h11 - 4) + (h12 - 5) * (h12 - 5) + (h13 - 7) * (h13 - 7) + (h14 - 2) * (h14 - 2) + (h15 - 5) * (h15 - 5)), ((h0 - 1) * (h0 - 1) + (h1 - 8) * (h1 - 8) + (h2 - 0) * (h2 - 0) + (h3 - 1) * (h3 - 1) + (h4 - 5) * (h4 - 5) + (h5 - 4) * (h5 - 4) + (h6 - 0) * (h6 - 0) + (h7 - 2) * (h7 - 2) + (h8 - 8) * (h8 - 8) + (h9 - 8) * (h9 - 8) + (h10 - 0) * (h10 - 0) + (h11 - 6) * (h11 - 6) + (h12 - 1) * (h12 - 1) + (h13 - 0) * (h13 - 0) + (h14 - 3) * (h14 - 3) + (h15 - 5) * (h15 - 5))] AS dists
  FROM hist
)
SELECT doc_id, frame_idx,
  CAST(list_position(dists, list_min(dists)) AS INT) AS cell,
  CAST(list_min(dists) AS BIGINT) AS dist
FROM d
""",
)
def multimodal_frame_embed_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal → vector bridge, end to end: binary payloads →
    stride-sampled frames → per-frame 16-dim integer feature (byte-bucket
    histogram, the stub for a vision-encoder forward pass) → nearest
    fixed centroid by integer L2 — decode, embed, and assign fused into
    ONE Arrow pass (``operators/multimodal.py::embed_cluster_frames``).
    Integer feature space makes every step bit-exact against the oracle's
    unrolled SQL (16 histogram columns, 4 distance expressions).

    Scale: this is the shape of a real frame-embedding job at 100 TB —
    map-only fan-out (no shuffle until someone aggregates cells), model
    weights/centroids in the task closure, frames never materialized
    between stages. Swap the histogram for a real encoder and the plan is
    unchanged."""
    from youcruit_tap_rawpostgresql_spark.operators.multimodal import (
        attach_binary_payload,
        embed_cluster_frames,
    )

    docs = tables(spark, sf_dir)["documents"]
    return embed_cluster_frames(attach_binary_payload(docs))


@register(
    "recsys_item_cooccurrence",
    oracle="""
WITH bask AS (
  SELECT DISTINCT l_orderkey, l_partkey % 200 AS item FROM lineitem
), cnt AS (
  SELECT item, COUNT(*) AS n FROM bask GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS co
  FROM bask a JOIN bask b
    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  GROUP BY a.item, b.item
)
SELECT p.item_a, p.item_b, CAST(p.co AS BIGINT) AS co,
  ROUND(p.co / (sqrt(ca.n) * sqrt(cb.n)), 6) AS cosine
FROM pairs p
JOIN cnt ca ON ca.item = p.item_a
JOIN cnt cb ON cb.item = p.item_b
WHERE p.co >= 5
""",
)
def recsys_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering preprocessing: co-purchase counts
    within an order basket → cosine similarity co/√(n_a·n_b) over the
    binary item-basket matrix, thresholded to meaningful pairs — the
    candidate-generation matrix behind "customers also bought".

    Scale: the self-join is ON THE BASKET KEY, so pair fan-out is bounded
    by per-basket item count (Σk²), never |items|² — the standard
    market-basket shape. Skewed mega-baskets are the known hazard: cap
    basket size upstream or salt; item marginals broadcast back onto the
    pair aggregate (dim-sized)."""
    li = tables(spark, sf_dir)["lineitem"]
    # trivially-true guards (order key and partkey%200 are never null):
    # the self-join infers isnotnull(l_orderkey)/isnotnull(item) into the
    # pair branches only, which stopped the marginals branch from reusing
    # this distinct's exchange — it re-scanned lineitem (r13 plan audit;
    # same canonicalization trick as dsir_importance_select, guide §2.4)
    bask = (
        li.select("l_orderkey", (F.col("l_partkey") % 200).alias("item"))
        .filter(F.col("l_orderkey").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    cnt = bask.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = bask.select(F.col("l_orderkey").alias("k"), F.col("item").alias("item_a"))
    b = bask.select(F.col("l_orderkey").alias("k"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 5)
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("co").cast("bigint").alias("co"),
            F.round(
                F.col("co") / (F.sqrt("na") * F.sqrt("nb")), 6
            ).alias("cosine"),
        )
    )


@register(
    "text_phrase_search",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
)
SELECT doc_id,
  CAST(len(list_filter(generate_series(1, len(ts) - 1),
       i -> ts[i] = 'fast' AND ts[i + 1] = 'query')) AS BIGINT) AS n_hits
FROM toks
WHERE len(list_filter(generate_series(1, len(ts) - 1),
      i -> ts[i] = 'fast' AND ts[i + 1] = 'query')) > 0
""",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search ("fast query") through an inverted index
    with positions: postings for each term explode once, and the phrase
    match is an equi-join on (doc, position+1) — the way a search engine
    answers phrase queries without rescanning text. The oracle is the
    scan-everything form (per-doc adjacency filter), proving the index
    path returns exactly the scan's answer.

    Scale: at 100 TB the postings build is a one-time explode keyed by
    term (and would be written term-partitioned); each phrase query then
    touches ONLY the two terms' postings — index size × query count
    replaces corpus size × query count. The position join shuffles
    postings for the two terms, not the corpus."""
    docs = tables(spark, sf_dir)["documents"]
    postings = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    ).filter(F.col("term").isin("fast", "query"))
    t1 = postings.filter(F.col("term") == "fast").select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = postings.filter(F.col("term") == "query").select(
        "doc_id", F.col("pos").alias("p2")
    )
    return (
        t1.join(t2, (t1["doc_id"] == t2["doc_id"]) & (F.col("p2") == F.col("p1") + 1))
        .select(t1["doc_id"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )


@register(
    "join_asof_nearest",
    # views deduped to max event_id per (user, ts) — same pin as join_asof:
    # equal-distance ties then resolve purely on view ts (earlier wins)
    oracle="""
WITH vd AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT c.event_id, c.user_id, vd.view_id,
    abs(date_diff('microsecond', vd.ts, c.ts)) AS dus, vd.ts AS vts
  FROM c JOIN vd ON vd.user_id = c.user_id
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                               ORDER BY dus, vts) AS rn
  FROM p
)
SELECT event_id, user_id, view_id, CAST(dus AS BIGINT) AS delta_us
FROM r WHERE rn = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join (both directions): each click pairs with
    the closest view of the same user, earlier-on-tie — the sensor-fusion
    variant of ASOF that backward-only joins can't express. Composition:
    ONE (user, time)-ordered window yields both the last-preceding and
    first-following view (last/first ignorenulls over mirrored frames);
    the nearer of the two wins in exact µs integers.

    Scale: still one shuffle + one sort per user partition — the oracle's
    all-pairs form (|clicks|×|views| per user) is exactly what this
    composition avoids."""
    e = tables(spark, sf_dir)["events"]
    vd = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.col("view_id"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("view_id"), "event_id",
    )
    tagged = vd.unionByName(clicks).withColumn("us", F.unix_micros("ts"))
    vstruct = F.when(
        F.col("kind") == 0, F.struct(F.col("us").alias("vus"), F.col("view_id"))
    )
    ordering = [F.col("ts"), F.col("kind"), F.coalesce("event_id", "view_id")]
    w_prev = (
        W.partitionBy("user_id").orderBy(*ordering)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("user_id").orderBy(*ordering)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    scored = (
        tagged.withColumn("prev", F.last(vstruct, ignorenulls=True).over(w_prev))
        .withColumn("nxt", F.first(vstruct, ignorenulls=True).over(w_next))
        .filter(F.col("kind") == 1)
    )
    prev_d = F.col("us") - F.col("prev.vus")
    next_d = F.col("nxt.vus") - F.col("us")
    pick_prev = F.col("nxt").isNull() | (
        F.col("prev").isNotNull() & (prev_d <= next_d)
    )
    return (
        scored.filter(F.col("prev").isNotNull() | F.col("nxt").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.when(pick_prev, F.col("prev.view_id"))
            .otherwise(F.col("nxt.view_id"))
            .alias("view_id"),
            F.when(pick_prev, prev_d).otherwise(next_d).alias("delta_us"),
        )
    )


@register(
    "agg_bit_flags",
    oracle="""
WITH coded AS (
  SELECT user_id,
    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
      WHEN 'error' THEN 16 ELSE 32 END AS flag
  FROM events
)
SELECT user_id,
  CAST(bit_or(flag) AS BIGINT) AS seen_mask,
  CAST(bit_and(flag | 96) AS BIGINT) AS common_mask
FROM coded GROUP BY user_id
""",
)
def agg_bit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate flags: each event type maps to a bit; BIT_OR
    builds the user's seen-set mask in ONE pass (the compact form of five
    bool_or columns), BIT_AND the always-present set — PG's bit_or/bit_and
    aggregate surface, and the classic segmentation-mask trick.

    Scale: masks are single-word partial aggregates (perfect map-side
    combine); downstream segment predicates become bit tests instead of
    joins against an event-type table."""
    e = tables(spark, sf_dir)["events"]
    flag = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(32)  # future-proof: unknown types share one bit
    )
    return (
        e.select("user_id", flag.alias("flag"))
        .groupBy("user_id")
        .agg(
            F.bit_or("flag").cast("bigint").alias("seen_mask"),
            F.bit_and(F.col("flag").bitwiseOR(F.lit(96)))
            .cast("bigint")
            .alias("common_mask"),
        )
    )


@register(
    "stats_theil_index",
    # order-free: every per-row term uses exact decimal totals broadcast
    # from one aggregate, the ln is per-row (same input bits both
    # engines), and the final sum is rounded to 6dp
    oracle="""
WITH tot AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS s,
    COUNT(*) AS n
  FROM orders
), share AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) / t.s AS w, t.n
  FROM orders CROSS JOIN tot t
)
SELECT ROUND(SUM(w * ln(w * n)), 6) AS theil
FROM share WHERE w > 0
""",
)
def stats_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil inequality index of order values — the entropy-based
    concentration measure (0 = perfectly equal): T = Σ wᵢ·ln(wᵢ·n) with
    wᵢ the value share. Companion to the Gini coefficient case; unlike
    Gini it decomposes additively across groups, which is why economists
    (and capacity planners) prefer it for drill-downs.

    Scale: one aggregate for the totals (broadcast scalar), one map-only
    share/ln pass, one final sum — two scans, no sort (Gini needs the
    rank sort). NOTE the final float sum's addend order is engine/
    partition dependent; 6dp rounding absorbs it (|terms| ≤ 15k here;
    for 100 TB accumulate in decimal via fixed-point ln if exactness
    matters)."""
    o = tables(spark, sf_dir)["orders"]
    tot = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    share = o.crossJoin(F.broadcast(tot)).select(
        (
            F.col("o_totalprice").cast("decimal(12,2)").cast("double") / F.col("s")
        ).alias("w"),
        "n",
    )
    # w > 0 on both sides: ln(0) THROWS in DuckDB but NULLs in Spark —
    # zero-value rows (possible under future fixtures) must drop
    # identically, not diverge error-vs-answer
    return share.filter(F.col("w") > 0).agg(
        F.round(F.sum(F.col("w") * F.log(F.col("w") * F.col("n"))), 6).alias(
            "theil"
        )
    )


@register(
    "ts_autocorr_lag1",
    # exact decimal moment sums feed one closed-form expression — the only
    # IEEE ops are the final few multiplies/divides, identical both sides
    oracle="""
WITH pairs AS (
  SELECT user_id,
    CAST(value AS DECIMAL(12,2)) AS x,
    CAST(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS DECIMAL(12,2)) AS y
  FROM events
), m AS (
  SELECT user_id, COUNT(*) AS n,
    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
    CAST(SUM(x * y) AS DOUBLE) AS sxy,
    CAST(SUM(x * x) AS DOUBLE) AS sxx,
    CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs WHERE y IS NOT NULL GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
  CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0 THEN NULL
       ELSE ROUND((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
  END AS r1
FROM m WHERE n >= 3
""",
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values — THE quick test for
    temporal structure (r₁ ≈ 0 ⇒ white noise; the screening stat before
    fitting any sequence model). Pearson r over (vₜ, vₜ₋₁) pairs from
    exact-decimal moment sums, so only the closed-form tail is floating
    point.

    Scale: one (user)-partitioned window for the lag + one partial-agg
    groupBy on the same key — a single shuffle; moments are five numbers
    per user regardless of history length."""
    e = tables(spark, sf_dir)["events"]
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        "user_id",
        F.col("value").cast("decimal(12,2)").alias("x"),
        F.lag(F.col("value")).over(wl).cast("decimal(12,2)").alias("y"),
    ).filter(F.col("y").isNotNull())
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(vx * vy)
    # zero-variance guard: rounding can push the radicand epsilon-negative
    # (DuckDB sqrt would THROW, Spark would NaN) — pin both to NULL
    return m.filter(F.col("n") >= 3).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.when((vx <= 0) | (vy <= 0), F.lit(None))
        .otherwise(F.round(r1, 6))
        .alias("r1"),
    )


@register(
    "ts_seasonal_anomaly",
    # the weekday baseline means are exact-decimal ÷ count (one IEEE div);
    # residual z-scores only compare against a rounded threshold after
    # 6dp rounding, so engine float order cannot flip membership
    oracle="""
WITH base AS (
  SELECT event_type, dayofweek(ts) AS dow,
    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mu,
    CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
         AS DOUBLE) / COUNT(*) AS m2,
    COUNT(*) AS n
  FROM events GROUP BY event_type, dayofweek(ts)
), scored AS (
  SELECT e.event_id, e.event_type, b.dow,
    ROUND((CAST(e.value AS DOUBLE) - b.mu)
          / sqrt(b.m2 - b.mu * b.mu), 6) AS z
  FROM events e
  JOIN base b ON b.event_type = e.event_type AND b.dow = dayofweek(e.ts)
  WHERE b.n >= 10 AND b.m2 - b.mu * b.mu > 0
)
SELECT event_id, event_type, CAST(dow AS INT) AS dow, z
FROM scored WHERE z > 3.0
""",
)
def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each event's value z-scores
    against ITS (type, weekday) population — the deseasonalized screen
    that flags a quiet-Sunday spike a global threshold would miss.
    Moments from exact decimal sums; the z computation is the same few
    IEEE ops in both engines, rounded to 6dp before the cut.

    Scale: baselines are a tiny (type × 7) aggregate broadcast back onto
    the stream — one partial-agg pass + one map-only score pass; the
    same shape serves millions of (entity, season) cells with a shuffle
    join instead of the broadcast."""
    e = tables(spark, sf_dir)["events"]
    v = F.col("value").cast("decimal(12,2)")
    base = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(
        (F.sum(v).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(v * v).cast("double") / F.count(F.lit(1))).alias("m2"),
        F.count(F.lit(1)).alias("n"),
    ).filter((F.col("n") >= 10) & (F.col("m2") - F.col("mu") * F.col("mu") > 0))
    base_r = base.select(
        F.col("event_type").alias("b_type"), "dow", "mu", "m2"
    )
    scored = e.join(
        F.broadcast(base_r),
        (e["event_type"] == F.col("b_type"))
        & (F.dayofweek(e["ts"]) == F.col("dow")),
    ).select(
        "event_id",
        F.col("b_type").alias("event_type"),
        # DuckDB/PG number Sunday=0; Spark's dayofweek is Sunday=1
        (F.col("dow") - 1).cast("int").alias("dow"),
        F.round(
            (F.col("value").cast("double") - F.col("mu"))
            / F.sqrt(F.col("m2") - F.col("mu") * F.col("mu")),
            6,
        ).alias("z"),
    )
    return scored.filter(F.col("z") > 3.0)
