"""Corpus-hygiene operators: cross-document chunk dedup and PII scanning.

The reference's delegated-SQL contract (tap.py:81-85 → client.py:300-304)
ends at what PostgreSQL can compute; these are the corpus-preparation passes
a training-data pipeline runs after extraction:

- **Chunk-level exact dedup** (Dolma/CCNet-style): boilerplate repeats
  *within* otherwise-distinct documents (headers, navigation, license
  blocks), so document-hash dedup misses it. Chunking each document into
  fixed token windows and keeping only the globally-first occurrence of
  each window removes repeated passages corpus-wide.
- **PII scan with checksum validation** (Luhn): regex digit-run candidates
  produce overwhelming false positives at corpus scale; the Luhn check
  (the card-number checksum) cuts candidates ~10× before human/model
  review, and masking keeps only the last 4 digits.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from youcruit_tap_rawpostgresql_spark.querybank.helpers import local_frame
from youcruit_tap_rawpostgresql_spark.querybank.llm import O_FINGERPRINT, O_TOKS
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables

_CHUNK = 8  # tokens per dedup window


@register(
    "dedup_paragraph_exact",
    headline=True,
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), chunks AS (
  SELECT doc_id,
    unnest(generate_series(0, CAST(ceil(len(ts) / {_CHUNK}.0) AS INT) - 1)) AS chunk_idx,
    ts
  FROM toks
), chunk_text AS (
  SELECT doc_id, chunk_idx,
    array_to_string(ts[(chunk_idx * {_CHUNK} + 1):(chunk_idx * {_CHUNK} + {_CHUNK})], ' ') AS chunk
  FROM chunks
), ranked AS (
  SELECT doc_id, chunk_idx,
    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunk_text
)
SELECT doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM ranked GROUP BY doc_id
""",
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-level exact dedup (Dolma-style): split every
    document into 8-token windows, keep only the globally-first
    occurrence of each window text (first = lowest (doc_id, chunk_idx)),
    report per-document kept/duplicate counts.

    Scale: the explode is a constant ~n_tokens/8 fan-out with ZERO extra
    exchanges before the dedup shuffle. The first-occurrence window
    partitions on ``xxhash64(chunk)`` — 8 bytes per chunk cross the wire,
    not the chunk text (the oracle partitions on the text itself; identical
    grouping, a 64-bit collision needs ~10^9 distinct chunks — production
    uses a 128-bit hash for the same plan shape). Partial aggregation then
    collapses the per-doc counts map-side."""
    docs = tables(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    chunks = toks.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("ts") / F.lit(float(_CHUNK))).cast("int") - 1,
            )
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(F.col("ts"), F.col("chunk_idx") * _CHUNK + 1, _CHUNK), " "
        ).alias("chunk"),
    )
    w = W.partitionBy(F.xxhash64("chunk")).orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_chunks"),
    )


@register(
    "pii_scan_luhn",
    oracle="""
WITH c AS (
  SELECT doc_id,
    lpad(CAST((doc_id * 2654435761 + 12345) % 10000000000000000 AS VARCHAR),
         16, '0') AS cand
  FROM documents
), v AS (
  SELECT doc_id, cand,
    (list_sum(list_transform(generate_series(1, 16), i ->
       CASE WHEN i % 2 = 1 THEN CAST(cand[-i] AS INT)
            ELSE CASE WHEN CAST(cand[-i] AS INT) * 2 > 9
                      THEN CAST(cand[-i] AS INT) * 2 - 9
                      ELSE CAST(cand[-i] AS INT) * 2 END
       END)) % 10 = 0) AS luhn_valid
  FROM c
)
SELECT doc_id, cand AS found, luhn_valid,
  CASE WHEN luhn_valid THEN '************' || cand[13:16] ELSE cand END AS masked
FROM v
""",
)
def pii_scan_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan with checksum validation: extract a card-number-shaped
    digit run (regexp over a deterministically synthesized payload — the
    fixtures carry no real PII), validate it with the Luhn checksum
    (``luhn_check``), and mask validated hits to their last 4 digits. The
    oracle re-implements Luhn as an explicit digit fold.

    Scale: regexp extraction + checksum + masking are per-row JVM
    expressions — map-only at any corpus size; the checksum prunes ~90% of
    regex candidates before any downstream review touches them."""
    docs = tables(spark, sf_dir)["documents"]
    synth = docs.select(
        "doc_id",
        F.concat(
            # digit-strip the real-text prefix: a 13+ digit run in the
            # document's own first 20 chars would be extracted as the
            # FIRST regex match while the oracle always scores the
            # synthesized number (round-7 self-review latent divergence)
            F.regexp_replace(F.substring("text", 1, 20), r"\d", ""),
            F.lit(" card "),
            F.lpad(
                ((F.col("doc_id") * F.lit(2654435761) + F.lit(12345))
                 % F.lit(10_000_000_000_000_000)).cast("string"),
                16,
                "0",
            ),
            F.lit(" end"),
        ).alias("payload"),
    )
    found = synth.select(
        "doc_id",
        F.regexp_extract("payload", r"(\d{13,19})", 1).alias("found"),
    )
    valid = found.withColumn("luhn_valid", F.expr("luhn_check(found)"))
    return valid.select(
        "doc_id",
        "found",
        "luhn_valid",
        F.when(
            F.col("luhn_valid"),
            F.concat(F.lit("************"), F.substring("found", -4, 4)),
        )
        .otherwise(F.col("found"))
        .alias("masked"),
    )


@register(
    "url_normalize_dedupe",
    oracle="""
WITH raw AS (
  SELECT doc_id,
    coalesce(nullif(regexp_replace(
      CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
      '[^A-Za-z0-9-]', '-', 'g'), ''), 'x') AS host_seg,
    lang, doc_id % 50 AS page
  FROM documents
), canon AS (
  SELECT doc_id,
    'https://' || lower(host_seg) || '.example.com/' || lang || '/'
      || CAST(page AS VARCHAR) || '?id=' || CAST(page AS VARCHAR) AS canonical
  FROM raw
)
SELECT canonical,
  COUNT(*) AS n_docs,
  MIN(doc_id) AS first_doc
FROM canon GROUP BY canonical
""",
)
def url_normalize_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (web-crawl hygiene): synthesized crawl
    URLs carry mixed-case hosts, tracking parameters (utm_*) and fragments;
    the canonical form is lowercased host + path + the id param only —
    extracted with ``parse_url`` (HOST / PATH / QUERY key probes), the
    engine-native URL parser. Docs sharing a canonical URL collapse to one
    group (keep the lowest doc_id). The oracle rebuilds the canonical form
    from the same inputs, so a parse_url extraction bug hash-mismatches.

    Scale: parsing and canonicalization are per-row JVM expressions; the
    dedup groupBy shuffles one canonical string per doc — the standard
    first-pass dedup on a crawl frontier before any content fetch."""
    docs = tables(spark, sf_dir)["documents"]
    # sanitize the host label BEFORE parse_url sees it: java.net.URI
    # rejects '_'/space/etc. in a reg-name (NULL host, or a thrown
    # INVALID_URL under ANSI), while the oracle's plain string concat
    # would sail on — mirrored sanitize on both sides keeps arbitrary
    # `source` values safe (round-7 self-review; fixtures are src0-19,
    # so this is a latent-robustness fix, not an on-fixture bug)
    host_seg = F.coalesce(
        F.nullif(
            F.regexp_replace(
                F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
                    F.col("source")
                ),
                "[^A-Za-z0-9-]",
                "-",
            ),
            F.lit(""),
        ),
        F.lit("x"),
    )
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            host_seg,
            F.lit(".Example.com/"),
            F.col("lang"),
            F.lit("/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("&utm_campaign=x#sec"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("url"),
    )
    canon = raw.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.lower(F.parse_url("url", F.lit("HOST"))),
            F.parse_url("url", F.lit("PATH")),
            F.lit("?id="),
            F.parse_url("url", F.lit("QUERY"), F.lit("id")),
        ).alias("canonical"),
    )
    return canon.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


_SPAN_W = 16  # tokens per rolling window
_SPAN_S = 8   # stride between window starts (overlapping)


@register(
    "dedup_span_windows",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), w AS (
  SELECT doc_id, unnest(generate_series(1, len(ts) - {_SPAN_W} + 1, {_SPAN_S})) AS s, ts
  FROM toks WHERE len(ts) >= {_SPAN_W}
), spans AS (
  SELECT doc_id, s, array_to_string(ts[s:s + {_SPAN_W} - 1], ' ') AS span FROM w
), sharing AS (
  SELECT span, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY span
)
SELECT p.doc_id,
  COUNT(*) AS n_windows,
  CAST(SUM(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_windows,
  CAST(SUM(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS shared_frac
FROM spans p JOIN sharing g USING (span)
GROUP BY p.doc_id
""",
)
def dedup_span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window substring dedup (the scalable approximation of
    exact-substring dedup, Lee et al. "Deduplicating Training Data Makes
    Language Models Better"): slide a 16-token window at stride 8 over
    every document and flag windows whose text also appears in ANOTHER
    document — per-doc shared-window fraction is the removal signal.
    Overlapping windows catch duplicated passages at arbitrary offsets,
    which the non-overlapping chunk dedup (``dedup_paragraph_exact``)
    misses when the copy is shifted by less than a chunk.

    Scale: the explode fans out ~n_tokens/stride rows, but only
    (doc_id, xxhash64(window)) — 16 bytes — ever crosses a shuffle
    (oracle groups by the text itself; identical grouping short of a
    64-bit collision — production uses 128-bit, same plan). ONE pass over
    the spans: partial-agg to (h, doc_id, cnt), then the docs-per-hash
    sharing count is a window count over the h partition of those
    collapsed rows (one row per (h, doc) — no countDistinct expand, no
    join-back, no second explode of the corpus; the round-4 join-back
    form measured 2.3× slower at sf1). Suffix arrays find
    arbitrary-length repeats; this fixed-window form is the
    shuffle-friendly standard at corpus scale."""
    docs = tables(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= _SPAN_W
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.size("ts") - F.lit(_SPAN_W - 1),
                F.lit(_SPAN_S),
            )
        ).alias("s"),
        "ts",
    ).select(
        "doc_id",
        F.xxhash64(
            F.array_join(F.slice(F.col("ts"), F.col("s"), _SPAN_W), " ")
        ).alias("h"),
    )
    per = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    # one row per (h, doc): counting rows over the h partition IS the
    # distinct-doc count
    per = per.withColumn("nd", F.count(F.lit(1)).over(W.partitionBy("h")))
    shared = F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0))
    return per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_windows"),
        shared.cast("bigint").alias("n_shared_windows"),
        (shared.cast("double") / F.sum("cnt")).alias("shared_frac"),
    )


@register(
    "text_bigram_logprob",
    # per-doc sums fold log-probs in POSITION order on both engines (array
    # fold vs list(… ORDER BY pos) + list_reduce), so the only cross-engine
    # difference is the last ulp of ln — absorbed by 6dp output rounding,
    # never amplified by reordering (same convention as
    # text_unigram_logprob)
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {O_TOKS} AS t FROM documents
), big AS (
  SELECT doc_id, i AS pos, t[i] AS p, t[i+1] AS c
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM docs WHERE len(t) >= 2)
), cpc AS (
  SELECT p, c, COUNT(*) AS cpc FROM big GROUP BY p, c
), cp AS (
  SELECT p, SUM(cpc) AS cp FROM cpc GROUP BY p
), lp AS (
  SELECT cpc.p, cpc.c, ln(CAST(cp.cp AS DOUBLE) / cpc.cpc) AS lp
  FROM cpc JOIN cp ON cpc.p = cp.p
), per AS (
  SELECT b.doc_id, list(l.lp ORDER BY b.pos) AS lps
  FROM big b JOIN lp l ON b.p = l.p AND b.c = l.c
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_bigrams,
  ROUND(list_reduce(lps, (x, y) -> x + y) / len(lps), 6) AS avg_neg_logp
FROM per
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality score: average per-bigram negative
    conditional log-probability ln(c(prev)/c(prev,cur)) — the next step up
    from the unigram perplexity proxy (CCNet-style LM filtering ranks
    documents by how predictable their token SEQUENCE is, which unigram
    frequency alone cannot see). Docs with < 2 tokens have no bigrams and
    are excluded, same as the oracle.

    Scale: bigrams are built ROW-LOCALLY (zip of shifted array slices —
    no window, no self-join); the model is two aggregates of the exploded
    bigram stream, where the context count derives from the bigram counts
    (sum per prev — no second corpus pass); probabilities broadcast back
    onto the stream and the per-doc fold is position-pinned."""
    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import tokens

    d = tables(spark, sf_dir)["documents"]
    t = tokens("text")
    n = F.size(t)
    pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("p"), b.alias("c")),
    )
    big = (
        d.filter(n >= 2)
        .select("doc_id", F.posexplode(pairs).alias("pos0", "pc"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.col("pc.p").alias("p"),
            F.col("pc.c").alias("c"),
        )
    )
    cpc = big.groupBy("p", "c").agg(F.count(F.lit(1)).alias("cpc"))
    cp = cpc.groupBy("p").agg(F.sum("cpc").alias("cp"))
    lp = cpc.join(cp, "p").select(
        "p", "c", F.log(F.col("cp").cast("double") / F.col("cpc")).alias("lp")
    )
    # no broadcast HINT: the model table grows with the corpus's distinct
    # bigrams, and a forced broadcast of an unbounded side dies at the
    # 8 GB limit exactly at scale (round-7 self-review). Unhinted, AQE
    # broadcasts while the model fits its threshold and falls back to a
    # shuffle join when it doesn't — both correct.
    per = (
        big.join(lp, ["p", "c"])
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "lp"))).alias("arr"))
    )
    folded = F.aggregate(
        F.transform("arr", lambda x: x["lp"]), F.lit(0.0), lambda acc, x: acc + x
    )
    return per.select(
        "doc_id",
        F.size("arr").cast("bigint").alias("n_bigrams"),
        F.round(folded / F.size("arr"), 6).alias("avg_neg_logp"),
    )


@register(
    "dedup_cascade_report",
    oracle=f"""
WITH d0 AS (
  SELECT doc_id, text FROM documents
), s1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS r
    FROM d0) WHERE r = 1
), s2 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      ROW_NUMBER() OVER (
        PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
        ORDER BY doc_id) AS r
    FROM s1) WHERE r = 1
), s3 AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      ROW_NUMBER() OVER (PARTITION BY {O_FINGERPRINT} ORDER BY doc_id) AS r
    FROM s2) WHERE r = 1
)
SELECT 1 AS stage_no, 'exact' AS stage,
  (SELECT COUNT(*) FROM d0) AS n_in, (SELECT COUNT(*) FROM s1) AS n_out
UNION ALL
SELECT 2, 'normalized',
  (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'token_bag',
  (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
""",
)
def dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE, composed and instrumented: exact-hash
    → whitespace/case-normalized → sorted-token-bag, each stage keeping
    the lowest doc_id per key and feeding its survivors to the next; one
    report row per stage with in/out counts. Stages are ordered
    cheapest-first so each pays its shuffle only on the previous stage's
    survivors — the standard cost structure of a corpus dedup pipeline
    (exact dedup is ~free and removes the bulk; fuzzier stages run on the
    residue).

    Scale: every stage is one hash-keyed window (WindowGroupLimit bounds
    the per-key exchange; the key is an md5 of the text/fingerprint, so
    constant-width bytes cross the wire, never the documents). The three
    count pairs are 1-row aggregates unioned into the report."""
    from pyspark import StorageLevel

    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        doc_fingerprint,
    )
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        keep_first_per_key,
    )

    d0 = tables(spark, sf_dir)["documents"].select("doc_id", "text")

    # s1/s2 each feed MULTIPLE report branches (own count, next stage's
    # input count, and the downstream stage lineage) — persist so the
    # base scan and each stage's window run once, not once per branch
    # (round-7 self-review: ~6 scans of documents for a 3-row report)
    s1 = keep_first_per_key(d0, F.md5("text")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    norm_key = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    )
    s2 = keep_first_per_key(s1, norm_key).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    s3 = keep_first_per_key(s2, doc_fingerprint("text"))

    def stage_row(no: int, name: str, fin: DataFrame, fout: DataFrame):
        return (
            fin.agg(F.count(F.lit(1)).alias("n_in"))
            .crossJoin(fout.agg(F.count(F.lit(1)).alias("n_out")))
            .select(
                F.lit(no).alias("stage_no"),
                F.lit(name).alias("stage"),
                "n_in",
                "n_out",
            )
        )

    report = (
        stage_row(1, "exact", d0, s1)
        .unionByName(stage_row(2, "normalized", s1, s2))
        .unionByName(stage_row(3, "token_bag", s2, s3))
    )
    # the report is 3 rows by construction — collect it, release the
    # stage caches, and hand back a local frame (round-8 advisory: the
    # persists otherwise accumulate across long-lived sessions)
    try:
        rows = report.collect()
    finally:
        s1.unpersist(blocking=False)
        s2.unpersist(blocking=False)
    return local_frame(spark, rows, report.schema)


@register(
    "dedup_canonical_map",
    oracle=f"""
WITH k AS (
  SELECT doc_id, {O_FINGERPRINT} AS k FROM documents
), canon AS (
  SELECT k, MIN(doc_id) AS kept FROM k GROUP BY k
)
SELECT a.doc_id AS removed_doc, c.kept AS kept_doc
FROM k a JOIN canon c ON a.k = c.k
WHERE a.doc_id <> c.kept
""",
)
def dedup_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup LINEAGE: the (removed → kept) mapping for every
    fingerprint-level duplicate (sorted token bag — the shared
    doc_fingerprint contract), not just the survivor set — what a dataset card / audit
    trail needs to answer "where did this document go", and what
    downstream joins need to re-point references at the canonical doc.

    Scale: group keys are md5 fingerprints (constant width); the canonical
    member is a plain min aggregate (partial map-side), and the map-back
    join is keyed on the same hash — no text crosses an exchange."""
    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        doc_fingerprint,
    )

    d = tables(spark, sf_dir)["documents"]
    k = d.select("doc_id", doc_fingerprint("text").alias("k"))
    canon = k.groupBy("k").agg(F.min("doc_id").alias("kept"))
    return (
        k.join(canon, "k")
        .filter(F.col("doc_id") != F.col("kept"))
        .select(
            F.col("doc_id").alias("removed_doc"), F.col("kept").alias("kept_doc")
        )
    )


@register(
    "pipeline_resumable_cascade",
    oracle=f"""
WITH s1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS r
    FROM documents) WHERE r = 1
), s2 AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      ROW_NUMBER() OVER (PARTITION BY {O_FINGERPRINT} ORDER BY doc_id) AS r
    FROM s1) WHERE r = 1
)
SELECT
  (SELECT COUNT(*) FROM documents) AS n_raw,
  (SELECT COUNT(*) FROM s1) AS n_exact,
  (SELECT COUNT(*) FROM s2) AS n_final,
  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM s2) AS survivor_id_sum
""",
)
def pipeline_resumable_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup cascade executed THROUGH the resumable pipeline runner
    (``ytrs/pipeline.py``): extract → exact-dedup → fingerprint-dedup as
    materialized DAG stages with lineage-fingerprinted skip. The case
    runs the DAG twice and asserts the second run served every stage
    from its artifact (resume works), then reports the per-stage counts
    — which the DuckDB oracle recomputes directly, so a stale or
    corrupted artifact read hash-mismatches.

    Scale: each stage is a normal distributed job whose output is a
    durable parquet artifact; a failed 12-hour curation run resumes at
    the failed stage, and editing one stage's logic (version bump)
    recomputes only its downstream cone."""
    import shutil
    import tempfile
    import uuid as _uuid

    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        doc_fingerprint,
    )
    from youcruit_tap_rawpostgresql_spark.pipeline import (
        MaterializedPipeline,
        Stage,
    )
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        keep_first_per_key,
    )

    def extract(sp, inputs):
        return tables(sp, sf_dir)["documents"].select("doc_id", "text")

    def exact(sp, inputs):
        return keep_first_per_key(inputs["extract"], F.md5("text"))

    def fingerprint(sp, inputs):
        return keep_first_per_key(inputs["exact"], doc_fingerprint("text"))

    stages = [
        Stage("extract", extract),
        Stage("exact", exact, deps=("extract",)),
        Stage("fingerprint", fingerprint, deps=("exact",)),
    ]
    # Artifact root: a driver-local tempdir only works in LOCAL mode — on
    # a real cluster executors would write their parquet parts to their
    # own /tmp (round-7 self-review). Deployments set
    # `spark_graft.pipeline.root` to a shared-FS URI; such roots are
    # durable by design and are NOT cleaned up here.
    conf_root = spark.conf.get("spark_graft.pipeline.root", "")
    if conf_root:
        root = conf_root.rstrip("/") + "/case_" + _uuid.uuid4().hex[:12]
        cleanup_local = None
    else:
        root = tempfile.mkdtemp(prefix="spark_graft_pipeline_")
        cleanup_local = root
    try:
        p = MaterializedPipeline(spark, root, stages)
        first = p.run()
        # explicit raises, not bare asserts: `python -O` strips asserts
        # and the case's whole point is checking that resume works
        if any(r.skipped for r in first.values()):
            raise RuntimeError(
                "pipeline_resumable_cascade: first run served a stage "
                "from a pre-existing artifact — the case root is dirty"
            )
        second = p.run()  # resume: every artifact reused
        if not all(r.skipped for r in second.values()):
            raise RuntimeError(
                "pipeline_resumable_cascade: second run recomputed a "
                "stage — artifact resume is broken"
            )
        report = (
            p.read("extract")
            .agg(F.count(F.lit(1)).alias("n_raw"))
            .crossJoin(p.read("exact").agg(F.count(F.lit(1)).alias("n_exact")))
            .crossJoin(
                p.read("fingerprint").agg(
                    F.count(F.lit(1)).alias("n_final"),
                    F.sum("doc_id").cast("bigint").alias("survivor_id_sum"),
                )
            )
        )
        rows = report.collect()
        return local_frame(spark, rows, report.schema)
    finally:
        if cleanup_local:
            shutil.rmtree(cleanup_local, ignore_errors=True)


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH s AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest({{shingles}}) AS sh
    FROM (SELECT doc_id, {O_TOKS} AS t FROM documents)
  )
), m AS (
  SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh
)
SELECT s.doc_id,
  COUNT(*) AS n_shingles,
  CAST(SUM(CASE WHEN m.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  ROUND(CAST(SUM(CASE WHEN m.first_doc = s.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS novelty_frac
FROM s JOIN m ON s.sh = m.sh
GROUP BY s.doc_id
""".replace(
        "{shingles}",
        "CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t) - 2), "
        "i -> concat_ws(' ', t[i], t[i+1], t[i+2])) ELSE [] END",
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-corpus novelty: per document, the fraction of its distinct
    trigram shingles that FIRST appear in it (doc order = ingestion
    order). The novelty curve is the standard redundancy instrument for
    a growing corpus — when marginal novelty collapses, more crawl of
    the same sources stops adding training signal.

    Scale: distinct (shingle, doc) pairs collapse map-side; the
    first-occurrence doc is a window MIN over the shingle partition of
    those collapsed rows (same one-pass shape as dedup_span_windows —
    no join-back, no second corpus pass), keyed on ``xxhash64(shingle)``
    so constant-width bytes cross the exchange, never shingle text.
    Docs with < 3 tokens have no shingles and are excluded, same as the
    oracle."""
    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        tokens,
        word_shingles,
    )
    from youcruit_tap_rawpostgresql_spark.querybank.helpers import spread

    d = spread(tables(spark, sf_dir)["documents"])
    s = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens("text")))).alias("sh"),
    ).select("doc_id", F.xxhash64("sh").alias("h"))
    first = F.min("doc_id").over(W.partitionBy("h"))
    per = s.withColumn("first_doc", first)
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        novel.cast("bigint").alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against an already-ingested corpus (Bloom prefilter)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20  # FLOOR bitmap size (128 KiB); power of 2 → mod is a mask
_BLOOM_BITS_MAX = 1 << 27  # 16 MiB cap per partial bitmap / broadcast copy
_BLOOM_K = 5  # hash functions (xxhash64 with k seed columns)


def _bloom_bits_for(n_ref: int) -> int:
    """Bitmap size for ``n_ref`` reference keys: ≥10 bits/key (FPR ≈1%
    at k=5), next power of two, floored at ``_BLOOM_BITS`` and capped at
    ``_BLOOM_BITS_MAX``. Without sizing, a fixed bitmap SATURATES at the
    scale the operator exists for — P(bit set) → 1, every batch row
    becomes a 'candidate', and the broadcast-verify step balloons to the
    whole batch (round-7 self-review). Past the cap the FPR degrades
    gracefully (still exact output — the verify join removes false
    positives); a deployment beyond ~10^8 keys shards the filter by
    fingerprint prefix instead of growing one bitmap."""
    bits = _BLOOM_BITS
    while bits < min(10 * max(n_ref, 1), _BLOOM_BITS_MAX):
        bits <<= 1
    return bits


def _bloom_hash_cols(col: str):
    """k JVM-side xxhash64 values (seed folded in as a literal column) —
    Python never re-hashes text; bit positions derive from these."""
    return [
        F.xxhash64(F.lit(i), F.col(col)).alias(f"_bh{i}")
        for i in range(_BLOOM_K)
    ]


_BLOOM_TREE_FANIN = 32  # driver never ORs more than this many bitmaps


def _build_bloom(ref_hashed: DataFrame, bits: int = _BLOOM_BITS) -> bytes:
    """OR-reduce per-partition bitmaps into one ``bits``-wide Bloom filter.

    mapInPandas emits ONE bits/8-byte bitmap row per partition (folded
    across that partition's Arrow batches). When the input has more
    partitions than ``_BLOOM_TREE_FANIN`` (a 1000-executor scan), one
    executor-side tree level ORs the partials down to ≤32 rows first, so
    the driver materializes at most ``32 × bits/8`` bytes regardless of
    cluster size."""
    import numpy as np

    mask = bits - 1

    def partial(batches):
        bitmap = np.zeros(bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            for c in pdf.columns:
                pos = pdf[c].to_numpy(dtype=np.int64) & mask
                # bitwise_or.AT, not fancy-index |=: buffered assignment
                # keeps only one write per duplicate byte index, silently
                # dropping bits → Bloom false negatives (caught by
                # test_bloom_tree_reduce_matches_flat)
                np.bitwise_or.at(
                    bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
                )
        if any_rows:
            yield pd.DataFrame({"bits": [bitmap.tobytes()]})

    def combine(batches):
        bitmap = np.zeros(bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            for raw in pdf["bits"]:
                any_rows = True
                bitmap |= np.frombuffer(raw, dtype=np.uint8)
        if any_rows:
            yield pd.DataFrame({"bits": [bitmap.tobytes()]})

    partials = ref_hashed.mapInPandas(partial, "bits binary")
    if ref_hashed.rdd.getNumPartitions() > _BLOOM_TREE_FANIN:
        partials = partials.repartition(_BLOOM_TREE_FANIN).mapInPandas(
            combine, "bits binary"
        )
    out = np.zeros(bits // 8, dtype=np.uint8)
    for row in partials.collect():
        out |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out.tobytes()


@register(
    "dedup_bloom_incremental",
    # the Bloom filter is a pure physical-plan optimization: false
    # positives are removed by the exact verification join and false
    # negatives cannot exist, so the OUTPUT is exactly the anti-join.
    # Membership is the shared doc_fingerprint contract (raw fixture
    # texts are unique; fingerprint-level dupes DO cross the split — 27
    # batch hits at sf0.01 — so the verify path is exercised for real)
    oracle=f"""
WITH k AS (SELECT doc_id, source, {O_FINGERPRINT} AS fp FROM documents)
SELECT d.doc_id, d.source FROM k d
WHERE d.doc_id % 3 = 0
  AND NOT EXISTS (SELECT 1 FROM k r
                  WHERE r.doc_id % 3 <> 0 AND r.fp = d.fp)
""",
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: keep only new-batch documents whose text
    is NOT already in the ingested corpus — the nightly-crawl-vs-lake
    membership check. Exact anti-join semantics, Bloom-accelerated:

    1. build a Bloom filter over the corpus fingerprints (one map-only
       pass; per-partition bitmaps OR-reduced — see ``_build_bloom``),
    2. prefilter the batch with the broadcast bitmap (Arrow-vectorized;
       hash columns are computed JVM-side) — at a typical ~1% dup rate
       this drops ~99% of the batch from all further joins with ZERO
       shuffle,
    3. exact-verify only the Bloom-positive candidates: broadcast their
       (small) fingerprint set against the corpus in a semi join, then
       broadcast the actually-present set back as an anti join.

    No full-table shuffle anywhere: the corpus is only ever scanned
    map-only, and both joins broadcast candidate-sized sides. The
    filter is a physical optimization only — false positives fall out in
    step 3, false negatives can't happen — so the result is bit-identical
    to the plain anti-join the oracle runs.
    """
    from youcruit_tap_rawpostgresql_spark.functions.text_funcs import (
        doc_fingerprint,
    )

    d = tables(spark, sf_dir)["documents"].select(
        "doc_id", "source", doc_fingerprint("text").alias("fp")
    )
    ref = d.filter(F.col("doc_id") % 3 != 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)

    # size the bitmap to the corpus BEFORE building (count() prunes to a
    # doc_id scan — negligible next to the fingerprint pass); a fixed
    # bitmap saturates at exactly the scale this operator exists for
    n_bits = _bloom_bits_for(ref.count())
    bloom = _build_bloom(ref.select(*_bloom_hash_cols("fp")), bits=n_bits)

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
        broadcast_scoped,
        persist_scoped,
    )

    mask = n_bits - 1
    # ship the bitmap as a Spark BROADCAST, not a closure capture: a
    # closure-captured bitmap travels inside every pickled task command
    # (at the 16 MiB cap that bloats each stage submission), a broadcast
    # ships once per executor (round-8 advisory). Scoped: the previous
    # invocation's bitmap is destroyed, so repeated runs hold ONE copy
    bc_bloom = broadcast_scoped("dedup_bloom_incremental.bitmap", spark, bloom)

    # explicit arity: pandas_udf's type-hint inference rejects *args
    @pandas_udf("boolean")
    def maybe_seen(
        h0: pd.Series, h1: pd.Series, h2: pd.Series, h3: pd.Series,
        h4: pd.Series,
    ) -> pd.Series:
        bits = np.frombuffer(bc_bloom.value, dtype=np.uint8)
        hit = np.ones(len(h0), dtype=bool)
        for h in (h0, h1, h2, h3, h4):
            pos = h.to_numpy(dtype=np.int64) & mask
            hit &= (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
        return pd.Series(hit)

    hcols = [F.col(f"_bh{i}") for i in range(_BLOOM_K)]
    # ONE batch pass: the scan + fingerprint + Arrow prefilter run once
    # and both branches (plus the verify join's probe side) read the
    # persisted flags — previously the fresh/candidates/verified branches
    # each re-evaluated the whole chain, 3 passes (round-7 self-review).
    # persist_scoped bounds the cache to one live copy across repeated
    # invocations in a long-lived session (round-8 advisory)
    flagged = persist_scoped(
        "dedup_bloom_incremental.flagged",
        batch.select("doc_id", "source", "fp", *_bloom_hash_cols("fp"))
        .withColumn("_seen", maybe_seen(*hcols))
        .select("doc_id", "source", "fp", "_seen"),
    )
    candidates = flagged.filter(F.col("_seen")).select(
        "doc_id", "source", "fp"
    )
    fresh = flagged.filter(~F.col("_seen")).select("doc_id", "source")

    present = ref.join(
        F.broadcast(candidates.select("fp").distinct()), "fp", "semi"
    ).select("fp").distinct()
    verified_new = candidates.join(
        F.broadcast(present), "fp", "left_anti"
    ).select("doc_id", "source")
    return fresh.unionByName(verified_new)
