"""Modern-engine surfaces: VARIANT semi-structured columns, mergeable
sketches (HLL / top-k), and incremental aggregate maintenance.

The reference's delegated-SQL contract (tap.py:81-85 → client.py:300-304)
exposes whatever the source engine can compute; these cases cover the
capabilities a 100 TB Spark deployment adds on top of the PG surface:

- **VARIANT** (Spark 4): binary-encoded semi-structured values. Unlike
  ``get_json_object`` (re-parses the JSON text per extraction), a column is
  parsed ONCE into the variant encoding; every ``variant_get`` after that is
  a binary path probe — the difference between O(paths × parse) and
  O(parse + paths) per row, which dominates wide-telemetry scans.
- **Mergeable sketches**: partial sketches per partition/day merged by
  union — the only communication-efficient shape for distinct counts and
  heavy hitters across 1000 executors (exact distinct requires a key
  shuffle; a sketch union is a constant-size tree-reduce).
- **Incremental aggregate maintenance**: the tap's bookmark (client.py:
  260-283) splits facts into already-aggregated history and a new delta;
  algebraic aggregates (count/sum) merge old partials with the delta
  without rescanning history — recompute cost goes from O(total) to
  O(delta), which is the entire point of incremental replication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.querybank.helpers import d, local_frame, o_dsum
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables


@register(
    "variant_json_extract",
    headline=True,
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_distinct,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
""",
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON props column into a VARIANT once, then extract a typed
    path and aggregate. The single ``parse_json`` feeds every ``variant_get``
    downstream — at scan time the text parse happens once per row, and only
    the extracted BIGINT crosses the shuffle.

    Scale: VARIANT is the schema-on-read path that stays cheap when the
    payload grows to hundreds of keys — adding extractions adds binary
    probes, not parses. (Shredded parquet VARIANT subcolumns carry this
    further: the scan reads only probed paths.)"""
    e = tables(spark, sf_dir)["events"]
    typed = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("k_total"),
        F.countDistinct("k").alias("k_distinct"),
        F.max("k").alias("k_max"),
    )


@register(
    "sketch_hll_mergeable",
    headline=True,
    # the oracle pins the exact distinct count and asserts the sketch
    # estimate landed within the tolerance (est_ok TRUE) — if the sketch
    # path broke, est_ok flips and the value hash mismatches
    oracle="""
SELECT event_type,
  COUNT(DISTINCT user_id) AS exact_users,
  TRUE AS est_ok
FROM events GROUP BY event_type
""",
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type two ways: per-day HyperLogLog partial
    sketches merged by ``hll_union_agg`` (the mergeable path), gated against
    the exact distinct count (±5%).

    Scale: this is THE pattern for distinct counts at 100 TB — each
    partition/day builds a constant-size sketch (no key shuffle), sketches
    tree-reduce by union, and the same partials roll up to any coarser
    grain (day → month → total) without touching raw data again. Exact
    countDistinct instead shuffles every distinct (type, user) pair."""
    e = tables(spark, sf_dir)["events"]
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_ok"),
    )


@register(
    "sketch_topk_approx",
    # capacity (1000) exceeds the distinct-item count (100), so the
    # space-saving sketch is provably exact here and both engines agree on
    # counts; the deterministic (count DESC, item) tiebreak fixes membership
    oracle="""
SELECT item, cnt FROM (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
         COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                            CAST(json_extract_string(props, '$.k') AS BIGINT)) AS rk
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL GROUP BY 1
) WHERE rk <= 5
""",
)
def sketch_topk_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k`` (space-saving sketch): top-5 most
    frequent ``props.k`` values. The sketch tracks up to 1000 items — more
    than the 100 distinct values — so its counts are exact and hash-match
    the oracle's true top-5; membership ties break by (count DESC, item).

    Scale: approx_top_k partials merge associatively like HLL — per-
    partition sketches tree-reduce instead of shuffling every (item, count)
    pair; capacity bounds memory no matter how many distinct items exist.
    (When distinct items exceed capacity, counts become upper bounds — the
    documented trade.)"""
    e = tables(spark, sf_dir)["events"]
    # drop NULL items explicitly: the sketch never tracks NULLs but a
    # GROUP BY oracle would keep the NULL group
    topk = (
        e.select(
            F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("item")
        )
        .filter(F.col("item").isNotNull())
        .agg(F.expr("approx_top_k(item, 100, 1000)").alias("tk"))
    )
    # ask the sketch for ALL tracked items (k=100 ≥ distinct), then apply
    # the deterministic (count DESC, item) top-5 OUTSIDE the sketch — a
    # count tie at the k-boundary inside the sketch resolves arbitrarily
    from pyspark.sql import Window

    exploded = topk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("item"))
    return (
        exploded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("item", "cnt")
    )


@register(
    "incr_agg_maintenance",
    # full recompute with the bookmark only re-deriving the delta count —
    # merged partials must equal the scratch aggregate exactly
    oracle=f"""
SELECT event_type,
  COUNT(*) AS n_events,
  {o_dsum('value', 'value_total')},
  COUNT(*) FILTER (
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 7 DAY FROM events)
  ) AS n_delta
FROM events GROUP BY event_type
""",
)
def incr_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: history partials (ts < bookmark)
    merged with the new delta (ts ≥ bookmark) via algebraic re-aggregation
    — count adds, decimal sums add — provably equal to a from-scratch
    recompute. The bookmark is the tap's replication key high-watermark
    (client.py:260-283) set 7 days before max(ts), so both sides are
    non-empty at every SF (n_delta pins that).

    Scale: this is why incremental replication matters — the maintained
    aggregate costs O(delta) per sync instead of O(history); at 100 TB the
    history partials live in a compact store keyed by group and only the
    delta scans raw data. Exactness: decimal partial sums are associative,
    so merge order cannot drift."""
    e = tables(spark, sf_dir)["events"]
    bookmark = e.agg(F.max("ts") - F.expr("INTERVAL 7 DAY")).first()[0]
    partial = lambda df: df.groupBy("event_type").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(d("value")).alias("v"),  # exact decimal partial
        F.count(F.when(F.col("is_delta"), 1)).alias("nd"),
    )
    # NULL replication keys ride with history: both range predicates
    # evaluate NULL for them, and the from-scratch oracle counts every row
    hist = partial(
        e.filter((F.col("ts") < F.lit(bookmark)) | F.col("ts").isNull())
        .withColumn("is_delta", F.lit(False))
    )
    delta = partial(e.filter(F.col("ts") >= F.lit(bookmark)).withColumn(
        "is_delta", F.lit(True)))
    return (
        hist.unionAll(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("v").cast("double").alias("value_total"),
            F.sum("nd").alias("n_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative clustering (Lloyd's k-means) in exact integer fixed-point
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 2
_Q_SCALE = 1000  # shared quantization grid: floor(x * 1000) per component

# THE embedding-quantization contract for every fixed-point operator below
# (kmeans, power iteration, JL projection) and their oracles — one
# definition; a grid change anywhere else silently breaks bit-exactness
O_QUANTIZED = (
    "list_transform(embedding, "
    f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT))"
)


def quantized_embedding():
    return F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _Q_SCALE).cast("bigint"),
    )


def _km_oracle() -> str:
    """Unrolled Lloyd iterations in long (vec_id, pos, val) form: distances
    via a pos-join + SUM of squared diffs, argmin by (dist, cid), centroid
    update as truncating integer mean, empty clusters keeping their old
    centroid (COALESCE on the LEFT JOIN)."""
    steps = []
    prev = "c0"
    for i in range(1, _KM_ITERS + 1):
        steps.append(f"""d{i} AS (
  SELECT ql.vec_id, {prev}.cid,
         SUM((ql.val - {prev}.val) * (ql.val - {prev}.val)) AS dist
  FROM ql JOIN {prev} ON ql.pos = {prev}.pos
  GROUP BY 1, 2
), a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d{i}
  ) WHERE rk = 1
), c{i} AS (
  SELECT {prev}.cid, {prev}.pos, COALESCE(n.val, {prev}.val) AS val
  FROM {prev} LEFT JOIN (
    SELECT a{i}.cid, ql.pos, CAST(SUM(ql.val) // COUNT(*) AS BIGINT) AS val
    FROM a{i} JOIN ql ON a{i}.vec_id = ql.vec_id
    GROUP BY 1, 2
  ) n ON n.cid = {prev}.cid AND n.pos = {prev}.pos
)""")
        prev = f"c{i}"
    last = _KM_ITERS
    return f"""
WITH q AS (
  SELECT vec_id, {O_QUANTIZED} AS v
  FROM embeddings
), ql AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM q
), c0 AS (
  SELECT vec_id AS cid, pos, val FROM ql WHERE vec_id < {_KM_K}
), {', '.join(steps)}
SELECT s.cid AS cluster_id, s.n AS n_members, c.s AS centroid_sum
FROM (SELECT cid, COUNT(*) AS n FROM a{last} GROUP BY cid) s
JOIN (SELECT cid, CAST(SUM(val) AS BIGINT) AS s FROM c{last} GROUP BY cid) c
  USING (cid)
"""


@register("kmeans_embed_lloyd", headline=True, oracle=_km_oracle())
def kmeans_embed_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 2 iterations) over the embedding fixture in
    exact integer fixed-point: components quantized to floor(x·1000),
    distances are exact BIGINT sums of squared diffs, argmin ties break to
    the lowest centroid id, and the centroid update is the truncating
    integer mean — bit-identical to the oracle's unrolled long-form SQL at
    every step (same convention as graph_pagerank_trade).

    Scale: the per-iteration work is one scan of the (cached) quantized
    vectors with the k×dim centroid matrix BROADCAST as a literal — k-means
    never shuffles the point set; only k×dim centroid partials return to
    the driver (the classic Spark MLlib design). Distances run as
    whole-stage-codegen zip_with/aggregate folds, no Python in the loop."""
    t = tables(spark, sf_dir)
    q = (
        t["embeddings"]
        .select(
            "vec_id",
            quantized_embedding().alias("v"),
        )
        .cache()
    )
    cents: dict[int, list[int]] = {
        r["vec_id"]: list(r["v"])
        for r in q.filter(F.col("vec_id") < _KM_K).collect()
    }

    def assign(df: DataFrame) -> DataFrame:
        choices = F.array(
            *[
                F.struct(
                    F.expr(
                        "aggregate(zip_with(v, array({lits}), (a, b) -> (a - b) * (a - b)), "
                        "0L, (acc, x) -> acc + x)".format(
                            lits=",".join(f"{c}L" for c in cents[j])
                        )
                    ).alias("dist"),
                    F.lit(j).alias("cid"),
                )
                for j in sorted(cents)
            ]
        )
        return df.select(
            "vec_id", "v", F.array_sort(choices).getItem(0).getField("cid").alias("cid")
        )

    sizes: dict[int, int] = {}
    for _ in range(_KM_ITERS):
        updated = (
            assign(q)
            .select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.expr("sum(val) div count(*)").alias("val"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        newc: dict[int, dict[int, int]] = {}
        # the per-(cid, pos) count is the cluster size — reusing it saves
        # the separate sizes job the naive form pays after the loop, and
        # it is the size of the LAST assignment (the oracle's a2)
        sizes = {r["cid"]: r["cnt"] for r in updated if r["pos"] == 0}
        for r in updated:
            newc.setdefault(r["cid"], {})[r["pos"]] = r["val"]
        for cid in cents:
            if cid in newc:
                cents[cid] = [newc[cid][p] for p in range(len(cents[cid]))]
    # the cache only serves the in-loop collects; the result is local
    q.unpersist()
    return local_frame(
        spark,
        [(cid, sizes[cid], sum(cents[cid])) for cid in sorted(sizes)],
        "cluster_id bigint, n_members bigint, centroid_sum bigint",
    )


@register(
    "sample_temperature_quota",
    # integer fixed-point weights (floor(sqrt(n·10^6))) keep the mixture
    # arithmetic exact in both engines — a float Σsqrt(n) would be
    # summation-order-dependent at the floor() boundary
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), w AS (
  SELECT source, n,
         CAST(FLOOR(SQRT(CAST(n * 1000000 AS DOUBLE))) AS BIGINT) AS wgt
  FROM counts
), tot AS (
  SELECT CAST(SUM(wgt) AS BIGINT) AS ws, CAST(SUM(n) AS BIGINT) AS nt FROM w
), tgt AS (
  SELECT source, n, CAST(nt * wgt // ws AS BIGINT) AS target FROM w, tot
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':tq'), 1, 15) AS BIGINT),
                    doc_id
         ) AS rk
  FROM documents
)
SELECT t.source, t.n AS n_docs, t.target AS target_docs,
  CAST(SUM(CASE WHEN r.rk <= t.target THEN r.doc_id ELSE 0 END) AS BIGINT)
    AS selected_checksum
FROM ranked r JOIN tgt t USING (source)
GROUP BY t.source, t.n, t.target
""",
)
def sample_temperature_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (T=2): per-source quota ∝
    √n_source (the LLaMA-style rebalancing that upweights small domains),
    filled by deterministic hash-rank so the same docs are picked on every
    run and every partitioning. Weights are integer fixed-point
    (floor(√(n·10⁶))) so quota arithmetic is exact; the selection
    checksum (Σ selected doc_id) pins WHICH docs were chosen, not just how
    many.

    Scale: source counts are a tiny partial agg joined back by broadcast;
    selection is one rank window partitioned by source — per-source
    parallel, no global sort. At 100 TB the rank window is the only
    shuffle and it carries (doc_id, hash), not documents."""
    from youcruit_tap_rawpostgresql_spark.functions.hashing import hash64

    from pyspark.sql import Window

    docs = tables(spark, sf_dir)["documents"]
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = counts.select(
        "source",
        "n",
        F.floor(F.sqrt((F.col("n") * 1_000_000).cast("double")))
        .cast("bigint")
        .alias("wgt"),
    )
    tot = w.agg(
        F.sum("wgt").alias("ws"), F.sum("n").cast("bigint").alias("nt")
    )
    tgt = w.crossJoin(F.broadcast(tot)).select(
        "source", "n", F.expr("nt * wgt div ws").alias("target")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":tq"))),
            "doc_id",
        )
    )
    ranked = docs.select("doc_id", "source", rk.alias("rk"))
    return (
        ranked.join(F.broadcast(tgt), "source")
        .groupBy("source", "n", "target")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("target"), F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("selected_checksum")
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("target").alias("target_docs"),
            "selected_checksum",
        )
    )


@register(
    "text_boilerplate_fraction",
    # df·20 ≥ N is the integer form of "appears in ≥5% of documents"
    oracle=r"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), bg AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1),
      i -> concat_ws(' ', t[i], t[i+1])) ELSE [] END)) AS bg
  FROM base
), dfc AS (
  SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg
), n AS (
  SELECT COUNT(*) AS c FROM documents
)
SELECT b.doc_id,
  COUNT(*) AS n_bigrams,
  COUNT(*) FILTER (WHERE dfc.df * 20 >= n.c) AS n_common,
  CAST(COUNT(*) FILTER (WHERE dfc.df * 20 >= n.c) AS DOUBLE) / COUNT(*)
    AS boilerplate_ratio
FROM bg b JOIN dfc USING (bg) CROSS JOIN n
GROUP BY b.doc_id
""",
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate score: the fraction of each document's
    distinct bigrams that occur in ≥5% of all documents (the CCNet-style
    signal for template/boilerplate text — distinct from text_repetition's
    WITHIN-document redundancy and text_ngram_topk's global list).

    Scale: bigram document-frequency is a vocabulary-sized aggregate with
    map-side partials; the ≥5% COMMON set it yields is bounded by
    20 × (average distinct bigrams per document) — a function of document
    LENGTH, not corpus size (Σ_d |bigrams_d| / (N/20)) — so it broadcasts
    at any N and the per-doc scoring is a map-side lookup, never a second
    corpus-wide shuffle. The 5% threshold is the integer compare
    df·20 ≥ N — no float in the cut. Round-5 census fixes retained: docs
    spread across cores before the interpreted bigram HOF work; df keys
    on ``xxhash64(bg)`` (grouping identical to the oracle's text grouping
    short of a 64-bit collision) so constant-width bytes shuffle. Round-8
    sf10 rework: the first shape JOINED every pair row back to the df
    table (a second full corpus shuffle) and re-ran the interpreted
    bigram explode for each join branch — 10.87×/decade at the sf10 step;
    the broadcast form with a scope-persisted single explode is one
    corpus pass + two bounded shuffles, re-measured 6.88×/decade (59.5 → 25.8 s at sf10), inside the token-linear band."""
    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        tokens,
        word_shingles,
    )
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        persist_scoped,
        spread,
    )

    raw = tables(spark, sf_dir)["documents"]
    n_total = raw.count()  # metadata count on the unspread table
    docs = spread(raw)
    # persist: the df aggregate AND the scoring pass both read the
    # exploded pairs — without it the interpreted shingle HOF runs twice
    pairs = persist_scoped(
        "text_boilerplate_fraction.pairs",
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(tokens("text"), 2))).alias("bg"),
        ).select("doc_id", F.xxhash64("bg").alias("bg")),
    )
    common_set = (
        pairs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") * 20 >= F.lit(n_total))
        .select("bg", F.lit(1).alias("_common"))
    )
    return (
        pairs.join(F.broadcast(common_set), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count(F.col("_common")).alias("n_common"),
            (
                F.count(F.col("_common")).cast("double") / F.count(F.lit(1))
            ).alias("boilerplate_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Linear algebra on DataFrames: dominant eigenvector by power iteration
# ---------------------------------------------------------------------------

_PI_ITERS = 2
_PI_ONE = 1000  # fixed-point unit for the iterate vector


def _pi_oracle() -> str:
    steps = []
    prev = "u0"
    for i in range(1, _PI_ITERS + 1):
        steps.append(f"""d{i} AS (
  SELECT ql.vec_id, CAST(SUM(ql.val * {prev}.u) AS BIGINT) AS dot
  FROM ql JOIN {prev} USING (pos) GROUP BY 1
), w{i} AS (
  SELECT ql.pos, CAST(SUM(ql.val * d{i}.dot) AS BIGINT) AS w
  FROM ql JOIN d{i} USING (vec_id) GROUP BY 1
), m{i} AS (
  SELECT MAX(ABS(w)) AS m FROM w{i}
), u{i} AS (
  SELECT pos, CAST(w * {_PI_ONE} // GREATEST(m, 1) AS BIGINT) AS u FROM w{i}, m{i}
)""")
        prev = f"u{i}"
    return f"""
WITH q AS (
  SELECT vec_id, {O_QUANTIZED} AS v
  FROM embeddings
), ql AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM q
), u0 AS (
  SELECT DISTINCT pos, CAST({_PI_ONE} AS BIGINT) AS u FROM ql
), {', '.join(steps)}
SELECT pos, u AS component FROM u{_PI_ITERS}
"""


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — matches Spark's ``div``
    and DuckDB's ``//``; Python's ``//`` floors instead, which differs for
    negative numerators."""
    return -((-a) // b) if a < 0 else a // b


@register("embed_power_iteration", oracle=_pi_oracle())
def embed_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embeddings' Gram matrix by 2 power
    iterations (u ← Aᵀ(Au), max-abs renormalized) in exact integer
    fixed-point — the PCA-direction primitive behind corpus drift
    detection and whitening, computed without ever materializing the
    64×64 Gram matrix. Same bit-exactness convention as
    graph_pagerank_trade / kmeans_embed_lloyd: quantized components,
    integer products/sums, truncating division in BOTH engines (the
    driver-side renormalize uses a truncating div helper because
    Python's // floors).

    Scale: each iteration is two matrix-free passes — Au is a per-row
    zip_with fold against the BROADCAST iterate (no shuffle), Aᵀ(Au) is
    one pos-keyed partial aggregate of dim-sized rows. The iterate (dim
    ints) is the only state that ever returns to the driver; the row
    matrix never shuffles. This is the shape distributed Lanczos/PCA
    takes on Spark at any corpus size."""
    t = tables(spark, sf_dir)
    q = (
        t["embeddings"]
        .select(
            "vec_id",
            quantized_embedding().alias("v"),
        )
        .cache()
    )
    dim = len(q.select("v").first()["v"])
    u = [_PI_ONE] * dim
    for _ in range(_PI_ITERS):
        lits = ",".join(f"{c}L" for c in u)
        dots = q.select(
            "v",
            F.expr(
                f"aggregate(zip_with(v, array({lits}), (a, b) -> a * b), "
                "0L, (acc, x) -> acc + x)"
            ).alias("dot"),
        )
        w_rows = (
            dots.select("dot", F.posexplode("v").alias("pos", "val"))
            .select("pos", (F.col("val") * F.col("dot")).alias("wv"))
            .groupBy("pos")
            .agg(F.sum("wv").alias("w"))
            .collect()
        )
        w = {r["pos"]: r["w"] for r in w_rows}
        m = max(abs(x) for x in w.values()) or 1
        u = [_tdiv(w[p] * _PI_ONE, m) for p in range(dim)]
    q.unpersist()
    # oracle positions are 1-based (generate_subscripts)
    return local_frame(
        spark, [(p + 1, c) for p, c in enumerate(u)], "pos int, component bigint"
    )


_JL_OUT_DIM = 8


@register(
    "embed_random_projection",
    # sign matrix entry (i,j) = parity of the portable md5-based hash of
    # "i:j" — data-independent, engine-independent, and exact: projected
    # component = Σ_i v_i · (±1)
    oracle=f"""
WITH q AS (
  SELECT vec_id, {O_QUANTIZED} AS v
  FROM embeddings
), ql AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM q
), proj AS (
  SELECT ql.vec_id, j.j,
    CAST(SUM(ql.val * (CASE WHEN
      CAST('0x' || substr(md5(CAST(ql.pos AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
      THEN 1 ELSE -1 END)) AS BIGINT) AS comp
  FROM ql CROSS JOIN (SELECT unnest(generate_series(1, {_JL_OUT_DIM})) AS j) j
  GROUP BY 1, 2
)
SELECT vec_id, j AS out_dim, comp FROM proj WHERE vec_id % 10 = 0
""",
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 → 8 dims) with a ±1
    sign matrix derived from a portable hash — the dimensionality
    reduction that preserves pairwise distances within (1±ε) and shrinks
    ANN index width 8×. Quantized integer components make the projection
    exact, and the hash-parity sign matrix needs no materialized matrix,
    no randomness state, and no broadcast: it is recomputed per (pos,
    out_dim) inside codegen in both engines.

    Scale: map-only — each row folds its own vector against the implicit
    sign matrix; output width is out_dim ints. The JL lemma does the
    heavy lifting: distance error is O(√(log n / out_dim)) independent
    of the input dimension."""
    from youcruit_tap_rawpostgresql_spark.functions.hashing import hash64

    t = tables(spark, sf_dir)
    ql = (
        t["embeddings"]
        .filter(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.posexplode(quantized_embedding()).alias("pos0", "val"),
        )
        .select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")
    )
    dims = spark.range(1, _JL_OUT_DIM + 1).select(F.col("id").alias("out_dim"))
    sign = F.when(
        hash64(
            F.concat(
                F.col("pos").cast("string"), F.lit(":"), F.col("out_dim").cast("string")
            )
        )
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        ql.crossJoin(F.broadcast(dims))
        .groupBy("vec_id", "out_dim")
        .agg(F.sum(F.col("val") * sign).alias("comp"))
    )


@register(
    "ts_time_bucket_stride",
    # Spark window(ts, stride).start == DuckDB time_bucket(stride, ts) for
    # strides that divide 24h (both origins sit at a UTC midnight, so the
    # bucket grids coincide); 90 minutes is deliberately NOT a date_trunc
    # unit — this is arbitrary-stride bucketing, not calendar truncation
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL '90 minutes', ts), '%Y-%m-%d %H:%M:%S')
    AS bucket_start,
  event_type,
  COUNT(*) AS n,
  {o_dsum('value', 'value_total')}
FROM events GROUP BY 1, 2
""",
)
def ts_time_bucket_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stride time bucketing (90-minute bins): the ``date_bin``/
    ``time_bucket`` surface other engines expose, expressed with Spark's
    ``window()`` — unlike ``date_trunc`` the stride is any interval, the
    grid every downsampling/rollup pipeline needs between 'minute' and
    'hour'.

    Scale: the bucket is a per-row expression (no session state — this is
    the BATCH form of the streaming tumbling window); partial aggregation
    collapses rows map-side to one per (bucket, type)."""
    e = tables(spark, sf_dir)["events"]
    return (
        e.groupBy(
            F.date_format(
                F.window("ts", "90 minutes").getField("start"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d("value")).cast("double").alias("value_total"),
        )
    )


@register(
    "scalar_array_lambda",
    # higher-order array-function surface (SURVEY §2.8 array family):
    # exists / forall / filter / aggregate over the quantized embedding —
    # all-integer payloads keep every engine's fold exact
    oracle=f"""
WITH q AS (
  SELECT vec_id, {{O_QUANTIZED}} AS v FROM embeddings WHERE vec_id % 20 = 0
)
SELECT vec_id,
  len(list_filter(v, x -> x > 0)) > 0 AS any_positive,
  len(list_filter(v, x -> x > -600)) = len(v) AS all_above_floor,
  CAST(len(list_filter(v, x -> x % 2 = 0)) AS INT) AS n_even,
  CAST(list_sum(list_transform(v, x -> CASE WHEN x > 0 THEN x ELSE 0 END))
       AS BIGINT) AS pos_sum
FROM q
""".replace("{O_QUANTIZED}", O_QUANTIZED),
)
def scalar_array_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas (exists / forall / filter / aggregate)
    over the quantized embeddings — the SQL-standard array-function family
    PG exposes via ANY/ALL/unnest subqueries, native and codegen'd in
    Spark. Integer payloads make the aggregate fold order-free."""
    e = tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        "vec_id", quantized_embedding().alias("v")
    )
    return q.select(
        "vec_id",
        F.exists("v", lambda x: x > 0).alias("any_positive"),
        F.forall("v", lambda x: x > -600).alias("all_above_floor"),
        F.size(F.filter("v", lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.transform("v", lambda x: F.when(x > 0, x).otherwise(F.lit(0))),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("pos_sum"),
    )


@register(
    "scalar_map_lambda",
    oracle="""
WITH t AS (
  SELECT event_id,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
    CAST(length(event_type) AS BIGINT) AS elen
  FROM events WHERE event_id % 10 = 0
), b AS (
  SELECT event_id, k_val, elen,
    (CASE WHEN k_val > 50 THEN 1 ELSE 0 END)
      + (CASE WHEN elen > 50 THEN 1 ELSE 0 END) AS n_big
  FROM t
)
SELECT event_id, n_big, 'k' AS mkey, k_val * 2 AS mval FROM b
UNION ALL
SELECT event_id, n_big, 'etype_len' AS mkey, elen * 2 AS mval FROM b
""",
)
def scalar_map_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType higher-order surface: ``from_json`` into ``map<string,bigint>``
    (schema-on-read of the props payload, the typed analogue of PG hstore /
    jsonb_each), ``map_concat`` enrichment, ``map_filter`` / ``transform_values``
    lambdas, and ``map_entries``+``explode`` back to relational rows.

    Scale: every map op here is a per-row JVM expression inside whole-stage
    codegen — map-only, no shuffle; the explode fan-out (2 rows/event) is
    constant. The oracle expresses the same pipeline as UNION ALL branches —
    PG reaches this surface via jsonb_each/hstore."""
    e = tables(spark, sf_dir)["events"]
    m = e.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        F.map_concat(
            F.from_json("props", "map<string,bigint>"),
            F.create_map(
                F.lit("etype_len"), F.length("event_type").cast("bigint")
            ),
        ).alias("pm"),
    )
    shaped = m.select(
        "event_id",
        F.size(F.map_filter("pm", lambda k, v: v > 50)).alias("n_big"),
        F.map_entries(F.transform_values("pm", lambda k, v: v * 2)).alias("kv"),
    )
    return shaped.select(
        "event_id",
        "n_big",
        F.explode("kv").alias("e"),
    ).select(
        "event_id",
        "n_big",
        F.col("e.key").alias("mkey"),
        F.col("e.value").alias("mval"),
    )


@register(
    "scalar_collation_ci",
    oracle="""
WITH mixed AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_mixed
  FROM documents
)
SELECT lower(lang_mixed) AS lang_norm,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN lower(lang_mixed) = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
FROM mixed GROUP BY lower(lang_mixed)
""",
)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 ``collate``): a deterministically
    case-mangled language column grouped under UTF8_LCASE collation — the
    engine-native form of PG's ``citext`` / ``COLLATE "und-u-ks-level2"``.
    Equality against a literal also resolves under the collation (the
    ``= 'EN'`` predicate matches 'en').

    Scale: collation-aware grouping hashes the collation key directly —
    one shuffle, no ``lower()`` materialization; the final ``lower`` is
    display-only. The oracle is the classic lower()-group rewrite."""
    docs = tables(spark, sf_dir)["documents"]
    mixed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("lang_mixed")
    )
    ci = F.collate(F.col("lang_mixed"), "UTF8_LCASE")
    return (
        mixed.groupBy(ci.alias("lang_ci"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(ci == F.lit("EN"), 1).otherwise(0)).alias("n_en"),
        )
        .select(
            F.lower(F.col("lang_ci")).cast("string").alias("lang_norm"),
            "n_docs",
            "n_en",
        )
    )


@register(
    "scalar_csv_roundtrip",
    oracle="""
SELECT p_partkey,
  concat(p_brand, ',', p_type) AS brand_type,
  p_retailprice AS price
FROM part WHERE p_partkey % 5 = 0
""",
)
def scalar_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scalar surface: ``to_csv`` serializes a struct (quoting the
    embedded-comma field), ``from_csv`` parses it back under a declared
    schema — the per-row form of the CSV source/sink the tap's batch layer
    uses for interchange. The double survives bit-exactly because Spark
    emits the shortest round-trip decimal repr.

    Scale: both are codegen'd per-row expressions — map-only; the pattern
    is how malformed-row quarantine (PERMISSIVE + columnNameOfCorruptRecord)
    plugs into a declared-schema ingest at any scale."""
    p = tables(spark, sf_dir)["part"]
    lines = p.filter(F.col("p_partkey") % 5 == 0).select(
        "p_partkey",
        F.to_csv(
            F.struct(
                F.col("p_partkey").alias("pk"),
                F.concat_ws(",", "p_brand", "p_type").alias("bt"),
                F.col("p_retailprice").alias("price"),
            )
        ).alias("line"),
    )
    parsed = lines.select(
        "p_partkey",
        F.from_csv(
            "line", "pk bigint, bt string, price double"
        ).alias("r"),
    )
    return parsed.select(
        "p_partkey",
        F.col("r.bt").alias("brand_type"),
        F.col("r.price").alias("price"),
    )
