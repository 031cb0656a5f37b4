"""Graph analytics over relations derived from the fixture star schema.

The reference's delegated-SQL contract (tap.py:81-85) lets users run any
analysis PostgreSQL can express — iterative graph algorithms are the classic
case where that breaks down (PG needs recursive CTEs with engine-specific
restrictions). Here the engine provides them as first-class fixed-point
loops over DataFrames, and the oracle proves each step.

Exactness strategy: **integer fixed-point arithmetic** — ranks are held in
parts-per-million (BIGINT), every division is integer division, so there is
no float accumulation order to disagree on; both engines produce identical
bits at every iteration. This is also the honest 100 TB design: fixed-point
rank vectors halve the shuffle width vs doubles and make convergence checks
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youcruit_tap_rawpostgresql_spark.querybank.helpers import persist_scoped
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables

# edge weight floor = |lineitem| / _W_FRAC: scale-relative so the graph has
# the same selectivity (varied out-degrees, 1..12 at sf0.01) at every SF —
# a fixed absolute floor degenerates to the empty graph at smaller scales
_W_FRAC = 500
_ITERS = 3
_ONE = 1_000_000  # rank unit: parts-per-million
_DAMP = 850_000  # 0.85 damping in ppm
_BASE = 150_000  # (1 - 0.85) in ppm



# THE trade-graph edge rule, shared by both graph analytics (and both
# oracles via _O_EDGES): an edge cust_nation -> supp_nation exists where
# that lane carries >= |lineitem| / _W_FRAC lineitems. One definition —
# a weight-floor change applied to one case but not the other would make
# the two "same graph" analytics silently analyze different graphs.
_O_EDGES = f"""e AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= (SELECT COUNT(*) FROM lineitem) // {_W_FRAC}
)"""


def _trade_edges(t: dict, keep_weight: bool = False) -> DataFrame:
    """(src, dst[, w]) edge list of the nation-level trade graph — the
    Spark half of _O_EDGES (broadcast star join, partial agg before the
    (src, dst) shuffle). ``keep_weight`` exposes the lane count for the
    weighted analytics; the edge RULE stays this one definition."""
    li, o = t["lineitem"], t["orders"]
    c, s = t["customer"], t["supplier"]
    min_w = li.count() // _W_FRAC
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= F.lit(min_w))
    )
    return edges if keep_weight else edges.select("src", "dst")


def _o_iter(prev: str, idx: int) -> str:
    """One PageRank step as chained CTEs (the oracle unrolls the fixed
    iteration count instead of recursing — aggregation over the recursive
    table is restricted in most engines' WITH RECURSIVE)."""
    return f"""c{idx} AS (
  SELECT e.dst AS node, SUM(p.r // d.outdeg) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN {prev} p ON p.node = e.src
  GROUP BY e.dst
), i{idx} AS (
  SELECT n.node,
    CAST({_BASE} + ({_DAMP} * COALESCE(c{idx}.s, 0)) // {_ONE} AS BIGINT) AS r
  FROM {prev} n LEFT JOIN c{idx} ON c{idx}.node = n.node
)"""


@register(
    "graph_pagerank_trade",
    headline=True,
    oracle=f"""
WITH {_O_EDGES}, deg AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), i0 AS (
  SELECT n_nationkey AS node, CAST({_ONE} AS BIGINT) AS r FROM nation
), {_o_iter('i0', 1)}, {_o_iter('i1', 2)}, {_o_iter('i2', 3)}
SELECT node AS nationkey, r AS rank_ppm FROM i{_ITERS}
""",
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the nation-level trade
    graph: an edge cust_nation → supp_nation exists where that lane carries
    ≥ |lineitem|/500 lineitems. Ranks are BIGINT parts-per-million; every
    step is
    integer arithmetic, so the DataFrame loop and the oracle's unrolled
    CTE chain agree bit-for-bit at every iteration.

    Scale: the expensive part is the one-off edge derivation — a star join
    with both dimension sides broadcast, partial-aggregated before the
    (src, dst) shuffle. The iteration itself touches only node/edge-sized
    data: the rank vector broadcasts onto the edge list (nodes ≪ edges ≪
    facts), so each step is a broadcast join + one edge-keyed aggregate —
    no fact-table rescans, no growing lineage (each step is a new small
    DataFrame; at real scale checkpoint every ~10 steps)."""
    t = tables(spark, sf_dir)
    n = t["nation"]
    e = _trade_edges(t)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (src, dst, outdeg) is static across iterations and edge-sized (tiny);
    # without the cache every iteration's lineage re-runs the fact-table
    # star join — 3× the scan cost for identical rows
    # deg is node-sized (≤ |nation| rows) but its post-agg size ESTIMATE
    # descends from the fact-table star join, so the static planner chose
    # SortMergeJoin (2 exchanges + 2 sorts) for this tiny join in the
    # non-adaptive plan; the explicit broadcast pins the hash join without
    # waiting for AQE's runtime rewrite (guide §3.1: estimates are often
    # wrong after aggregation — hint when you know a side is small)
    ed = persist_scoped(
        "graph_pagerank_trade.edges", e.join(F.broadcast(deg), "src")
    )
    ranks = n.select(
        F.col("n_nationkey").alias("node"), F.lit(_ONE).cast("bigint").alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            ed.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select("dst", F.expr("r div outdeg").alias("p"))
            .groupBy("dst")
            .agg(F.sum("p").alias("s"))
        )
        ranks = (
            ranks.select("node")
            .join(F.broadcast(contrib).withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.expr(
                    f"cast({_BASE} + ({_DAMP} * coalesce(s, 0L)) div {_ONE} as bigint)"
                ).alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("nationkey"), F.col("r").alias("rank_ppm"))


@register(
    "graph_triangle_count",
    # triangle enumeration over the canonically-oriented (lo < hi) edge
    # list: e1=(a,b), e2=(b,c), e3=(a,c) with a < b < c counts each
    # triangle exactly once; per-node counts credit all three corners
    oracle=f"""
WITH {_O_EDGES}, ue AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM e
), tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM ue e1
  JOIN ue e2 ON e2.lo = e1.hi
  JOIN ue e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS nationkey, COUNT(*) AS n_triangles
FROM corners GROUP BY node
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected trade graph — the
    clustering-coefficient numerator (community density of each nation's
    trade neighborhood). Canonical edge orientation (lo < hi) makes the
    3-way self-join enumerate each triangle exactly once.

    Scale: the classic trick is ordering by degree before orienting (each
    edge's joins then fan out on the lower-degree endpoint); node-scale
    joins here are equi-joins on edge endpoints — shuffle carries edge
    pairs, never the fact table, and the edge list itself derives once via
    broadcast star join."""
    t = tables(spark, sf_dir)
    e = (
        _trade_edges(t)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
    )
    # three self-join branches below — scope-persist the (tiny) edge list
    # or the fact-table star join runs three times
    e = persist_scoped("graph_triangle_count.edges", e)
    e1 = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("nationkey"))
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_BFS_CAP = 4  # frontier iterations; nation graph diameter is well under this


@register(
    "graph_bfs_hops",
    oracle=f"""
WITH RECURSIVE {_O_EDGES}, bfs AS (
  SELECT 0 AS node, 0 AS hop
  UNION ALL
  SELECT e.dst AS node, b.hop + 1 AS hop
  FROM bfs b JOIN e ON e.src = b.node
  WHERE b.hop < {_BFS_CAP}
)
SELECT node, MIN(hop) AS hops FROM bfs GROUP BY node
""",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hop counts from nation 0 over the directed trade graph
    (same edge rule as PageRank/triangles) — the reachability/radius
    primitive under supply-chain "how many intermediaries" questions. The
    oracle is a recursive CTE with MIN(hop) de-duplication; the engine runs
    the level-synchronous frontier loop, which visits each node once.

    Scale: frontier BFS is the textbook Pregel pattern — each iteration is
    one equi-join frontier⋈edges plus an anti-join against the visited set,
    all partitioned by node id. The nation graph is tiny, but the loop shape
    is the one that works when the graph is billions of edges: the frontier
    (not the whole graph) drives each step's shuffle width, and the unrolled
    path enumeration the oracle does (paths ≤ cap, exponential in branching)
    is exactly what the engine avoids."""
    t = tables(spark, sf_dir)
    edges = persist_scoped("graph_bfs_hops.edges", _trade_edges(t))
    # seed via range(1): createDataFrame([...]) yields a Scan ExistingRDD
    # leaf whose UNKNOWN size estimate poisons every downstream join into
    # SortMergeJoin (r13 measurement on the sibling shortest-cost loop:
    # 7–15 s of exchange/sort stages for ≤|nation| rows); a plan-visible
    # leaf keeps the frontier broadcastable (guide §3.1)
    reached = spark.range(1).select(
        F.lit(0).alias("node"), F.lit(0).alias("hops")
    )
    frontier = reached
    for i in range(1, _BFS_CAP + 1):
        # frontier/visited sets are node-bounded (≤ |nation|): broadcast
        # both frontier-side joins so each round is map-only over the
        # persisted edge list — no per-round shuffle of edges
        nxt = (
            F.broadcast(frontier).join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(reached), "node", "left_anti")
            .withColumn("hops", F.lit(i))
        )
        reached = reached.union(nxt)
        frontier = nxt
    return reached


_SP_ROUNDS = 4


@register(
    "graph_shortest_cost",
    oracle=f"""
WITH RECURSIVE {_O_EDGES}, ew AS (
  SELECT src, dst, 1 + (w % 7) AS cost FROM e
), walk AS (
  SELECT 0 AS node, CAST(0 AS BIGINT) AS d, 0 AS hops
  UNION ALL
  SELECT ew.dst AS node, w.d + ew.cost AS d, w.hops + 1 AS hops
  FROM walk w JOIN ew ON ew.src = w.node
  WHERE w.hops < {_SP_ROUNDS}
)
SELECT node, MIN(d) AS cost FROM walk GROUP BY node
""",
)
def graph_shortest_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path from nation 0 (Bellman-Ford, 4 relaxation
    rounds) over the trade graph with integer lane costs (busier lanes
    get different costs via the count-mod rule — deterministic, exact).
    After round i the distance equals the cheapest path using ≤ i edges,
    so the unrolled relaxation matches the oracle's bounded path
    enumeration + MIN exactly — in integers, no float accumulation.

    Scale: each round is ONE equi-join frontier⋈edges + a min-aggregate
    on node id — the Pregel/Bellman-Ford shape that runs at billions of
    edges; the oracle's path enumeration is exponential in the cap and
    exists only as the proof harness."""
    t = tables(spark, sf_dir)
    edges = (
        _trade_edges(t, keep_weight=True)
        .select("src", "dst", (1 + F.col("w") % 7).cast("bigint").alias("cost"))
    )
    edges = persist_scoped("graph_shortest_cost.edges", edges)
    # seed via range(1): createDataFrame([...]) becomes a Scan ExistingRDD
    # leaf with an UNKNOWN size estimate, which forced every relaxation
    # round into SortMergeJoin — 2 exchanges + 2 sorts per round for
    # ≤|nation| rows of distance state (r13 measurement: 7–15 s exec at
    # sf0.1, pure stage overhead). A plan-visible leaf plus an explicit
    # broadcast of the node-bounded distance table makes each round one
    # broadcast join + one small aggregate exchange (guide §3.1)
    dist = spark.range(1).select(
        F.lit(0).alias("node"), F.lit(0).cast("long").alias("d")
    )
    for _ in range(_SP_ROUNDS):
        relaxed = (
            F.broadcast(dist).join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("cost")).alias("d"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return dist.select("node", F.col("d").alias("cost"))


_LP_ROUNDS = 3


def _o_lp_round(prev: str, idx: int) -> str:
    """One synchronous min-label round as plain join+group-by CTEs — a
    correlated-subquery formulation re-evaluates the edge derivation per
    node and is quadratically slower at larger SFs."""
    # AS MATERIALIZED: each round references the previous label set
    # TWICE — left inlined, the CTE chain re-evaluates the upstream star
    # join exponentially (measured: minutes at sf0.1 vs instant
    # materialized)
    return f"""c{idx} AS MATERIALIZED (
  SELECT b.a AS node, MIN(p.label) AS nmin
  FROM bi b JOIN l{idx - 1} p ON p.node = b.b
  GROUP BY b.a
), l{idx} AS MATERIALIZED (
  SELECT n.node, LEAST(n.label, COALESCE(c{idx}.nmin, n.label)) AS label
  FROM l{idx - 1} n LEFT JOIN c{idx} ON c{idx}.node = n.node
)"""


@register(
    "graph_label_propagation",
    oracle=f"""
WITH {_O_EDGES}, ue AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM e
), bi AS MATERIALIZED (
  SELECT lo AS a, hi AS b FROM ue UNION ALL SELECT hi, lo FROM ue
), l0 AS MATERIALIZED (
  SELECT n_nationkey AS node, n_nationkey AS label FROM nation
), {", ".join(_o_lp_round("", i + 1) for i in range(_LP_ROUNDS))}
SELECT node, label AS community FROM l{_LP_ROUNDS}
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation over the
    undirected trade graph: every node starts as its own label and
    repeatedly adopts the minimum label in its closed neighborhood — after
    k rounds, labels equal the minimum node id within k hops, so connected
    components emerge as label plateaus (the deterministic, integer-exact
    variant of LPA; the same loop underlies dedup_components).

    Scale: each round is one edges⋈labels equi-join + a min-aggregate on
    node id — Pregel shape, node/edge-sized data only; the oracle's
    correlated-min round expansion is the proof harness."""
    t = tables(spark, sf_dir)
    n = t["nation"]
    ue = (
        _trade_edges(t)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
    )
    ue = persist_scoped("graph_label_propagation.edges", ue)
    both = ue.unionByName(
        ue.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    labels = n.select(
        F.col("n_nationkey").alias("node"), F.col("n_nationkey").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        neigh_min = (
            both.join(labels, both["hi"] == labels["node"])
            .groupBy(F.col("lo").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(neigh_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
        )
    return labels.select("node", F.col("label").alias("community"))


@register(
    "graph_link_prediction",
    oracle=f"""
WITH {_O_EDGES}, ue AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM e
), bi AS MATERIALIZED (
  SELECT lo AS a, hi AS b FROM ue UNION ALL SELECT hi, lo FROM ue
), deg AS MATERIALIZED (
  SELECT a AS node, COUNT(*) AS d FROM bi GROUP BY a
), wedge AS (
  SELECT x.a AS u, y.a AS v, COUNT(*) AS common
  FROM bi x JOIN bi y ON x.b = y.b AND x.a < y.a
  GROUP BY x.a, y.a
), cand AS (
  SELECT w.u, w.v, w.common, du.d AS du, dv.d AS dv
  FROM wedge w
  JOIN deg du ON du.node = w.u
  JOIN deg dv ON dv.node = w.v
  WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.lo = w.u AND ue.hi = w.v)
)
SELECT u, v, CAST(common AS BIGINT) AS common_neighbors,
  ROUND(CAST(common AS DOUBLE) / (du + dv - common), 6) AS jaccard
FROM cand WHERE common >= 2
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the undirected trade graph: for every
    NON-edge pair sharing ≥2 neighbors, the common-neighbor count and
    Jaccard score |N(u)∩N(v)| / |N(u)∪N(v)| — the classic "which trade
    lanes open next" / friend-suggestion primitive. Exact integers plus
    one rounded division.

    Scale: the wedge join (bi⋈bi on the shared endpoint) is the same
    fan-out as triangle counting — bounded by Σdeg²; hub nodes are the
    skew hazard (cap or sample neighbor lists past a degree threshold).
    The anti-join removes existing edges; degree join is node-sized."""
    t = tables(spark, sf_dir)
    ue = (
        _trade_edges(t)
        .select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .distinct()
    )
    ue = persist_scoped("graph_link_prediction.edges", ue)
    bi = ue.unionByName(
        ue.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    ).select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    deg = bi.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    x = bi.select(F.col("a").alias("u"), F.col("b").alias("w1"))
    y = bi.select(F.col("a").alias("v"), F.col("b").alias("w2"))
    wedge = (
        x.join(y, (F.col("w1") == F.col("w2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = (
        wedge.join(
            ue,
            (wedge["u"] == ue["lo"]) & (wedge["v"] == ue["hi"]),
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .filter(F.col("common") >= 2)
    )
    return cand.select(
        "u",
        "v",
        F.col("common").cast("bigint").alias("common_neighbors"),
        F.round(
            F.col("common").cast("double")
            / (F.col("du") + F.col("dv") - F.col("common")),
            6,
        ).alias("jaccard"),
    )
