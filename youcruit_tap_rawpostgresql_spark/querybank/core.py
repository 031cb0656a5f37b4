"""Core relational query cases: projections, filters, joins, aggregations,
sorts/limits/top-k, set operations (SURVEY.md §2.2-2.5, §2.7).

The reference delegates all of these to PostgreSQL via raw stream SQL
(reference ``tap.py:81-85`` executed at ``client.py:300-304``); here each is
an idiomatic Spark DataFrame plan. Scale notes are per-case in docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from youcruit_tap_rawpostgresql_spark.querybank.helpers import (
    DEC,
    O_REV,
    d,
    davg,
    dsum,
    iso_date,
    local_frame,
    o_davg,
    o_dsum,
    o_iso_date,
    rev_col,
)
from youcruit_tap_rawpostgresql_spark.querybank.registry import register, tables

# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    headline=True,
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {o_dsum('l_quantity', 'sum_qty')},
  {o_dsum('l_extendedprice', 'sum_base_price')},
  CAST(SUM({O_REV}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({O_REV} * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  {o_davg('l_quantity', 'avg_qty')},
  {o_davg('l_extendedprice', 'avg_price')},
  {o_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (flagship).

    Scale: single hash aggregate with map-side partial aggregation; the
    shipdate filter and 7-column projection push into the parquet scan.
    Cardinality of the group key is tiny, so the shuffle is a few KB
    regardless of input size — this plan holds at 100 TB unchanged.
    """
    l = tables(spark, sf_dir)["lineitem"]
    one = F.lit(1).cast(DEC)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(rev_col()).cast("double").alias("sum_disc_price"),
            F.sum(rev_col() * (one + d("l_tax"))).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_supp,
  COUNT(DISTINCT l_partkey) AS n_part,
  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_distinct_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates (COUNT/SUM DISTINCT). Scale: Spark expands
    distinct aggs into a two-phase plan automatically; partial dedup happens
    before the final shuffle."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(d("l_quantity")).cast("double").alias("sum_distinct_qty"),
    )


@register(
    "agg_approx_distinct",
    # HLL estimates are engine-specific, so the oracle pins the EXACT
    # distinct count plus a tolerance-gate boolean: the Spark side emits
    # within_tolerance = |approx - exact| <= 3*rsd*exact, the oracle emits
    # TRUE — if the sketch path breaks, the boolean flips and the value
    # hash mismatches (same pattern as sketch_hll_mergeable)
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_orderkey) AS exact_orders,
  TRUE AS within_tolerance
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) gated against the exact count
    (±3·rsd — HLL++ error is approximately Gaussian with σ=rsd, so 3σ is a
    deterministic-in-practice bound at every SF).

    Scale: constant-memory sketch per group, mergeable map-side — the
    right distinct at 100 TB; the exact countDistinct here exists only to
    make the estimate oracle-checkable."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    ).select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.06 * F.col("exact_orders")
        ).alias("within_tolerance"),
    )


@register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
  GROUPING(l_returnflag, l_linestatus) AS gid,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id to disambiguate the NULL subtotal rows.
    Scale: Spark expands rollup to a union of grouping sets over one shuffle."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
  GROUPING(l_returnflag, l_linestatus) AS gid,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^k grouping combinations
    in one pass (SURVEY §2.5) — partial-agg applies per grouping set."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        dsum("l_extendedprice", "sum_price"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over the registered views."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_filter_clause",
    oracle="""
SELECT l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS qty_returned,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
  COUNT(*) AS n
FROM lineitem GROUP BY l_linestatus
""",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates as conditional aggregation."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", d("l_quantity")))
        .cast("double")
        .alias("qty_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
  ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
  ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
  ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
  ROUND(MIN(l_extendedprice), 2) AS min_price,
  ROUND(MAX(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (rounded to 6dp: fp summation order differs
    across engines by design)."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_string_agg",
    oracle="""
SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_agg equivalent: sort inside the aggregate for determinism
    (collect_list order is nondeterministic in a distributed engine)."""
    t = tables(spark, sf_dir)
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"))
    )


@register(
    "agg_having",
    oracle="""
SELECT c_nationkey, COUNT(*) AS n_cust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 5
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation filter (SURVEY §2.5) — planned as a
    Filter above the final HashAggregate, never a second scan."""
    c = tables(spark, sf_dir)["customer"]
    return (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), davg("c_acctbal", "avg_bal"))
        .filter(F.col("n_cust") >= 5)
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_top_orders",
    headline=True,
    oracle=f"""
SELECT o.o_orderkey, {o_iso_date('o.o_orderdate', 'orderdate')}, o.o_orderpriority,
  CAST(SUM({O_REV}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey LIMIT 10
""",
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + deterministic top-10.

    Scale: customer is the small side after the segment filter → broadcast;
    orders⋈lineitem is the only real shuffle, on the join key both sides
    already share. Top-k is TakeOrderedAndProject (no global sort)."""
    t = tables(spark, sf_dir)
    cutoff = F.lit("1997-06-30").cast("timestamp")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].filter(F.col("o_orderdate") < cutoff)
    l = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_col()).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            iso_date("o_orderdate", "orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    headline=True,
    oracle=f"""
SELECT n.n_name, CAST(SUM({O_REV}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join.

    Scale: supplier/nation/region are dimension tables → broadcast joins
    (no shuffle); the fact-fact join orders⋈lineitem shuffles once on
    orderkey. Catalyst + AQE reorder and pick broadcast automatically; the
    explicit broadcast hints pin the intent."""
    t = tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(rev_col()).cast("double").alias("revenue"))
    )


@register(
    "join_inner",
    oracle="""
SELECT o.o_orderstatus, COUNT(*) AS n_items,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join nation⋈region (SURVEY §2.4) — Catalyst picks
    broadcast-hash for the dim-sized sides."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "total_price"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) GROUP BY n_orders
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + order-count histogram (customers with 0 orders
    survive the join as NULL o_orderkey)."""
    t = tables(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "join_right_outer",
    oracle="""
SELECT n.n_name, COUNT(s.s_suppkey) AS n_supp
FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: unmatched right rows null-extend (SURVEY §2.4)."""
    t = tables(spark, sf_dir)
    return (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_supp"))
    )


@register(
    "join_full_outer",
    oracle="""
SELECT day, n_orders, n_items FROM (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
) o FULL JOIN (
  SELECT strftime(l_shipdate, '%Y-%m-%d') AS day, COUNT(*) AS n_items
  FROM lineitem GROUP BY 1
) l USING (day)
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily aggregates (days present on one side
    only keep NULL counts on the other)."""
    t = tables(spark, sf_dir)
    o = (
        t["orders"]
        .groupBy(iso_date("o_orderdate", "day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    l = (
        t["lineitem"]
        .groupBy(iso_date("l_shipdate", "day"))
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    return o.join(l, ["day"], "full").select("day", "n_orders", "n_items")


@register(
    "join_semi",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_active FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
) GROUP BY c_mktsegment
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS. Scale: semi-join only ships the join key of
    the probe side; no row multiplication."""
    t = tables(spark, sf_dir)
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "join_anti",
    # every customer has SOME order in the fixture, so the unrestricted
    # anti-join is always empty (vacuous) — anti-join against the URGENT
    # subset so the result is a real non-empty complement
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS (customers with no URGENT order)."""
    t = tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "join_cross",
    oracle="""
SELECT a.r_name AS region_a, b.r_name AS region_b
FROM region a CROSS JOIN region b
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (all region pairs — bounded output)."""
    t = tables(spark, sf_dir)
    a = t["region"].select(F.col("r_name").alias("region_a"))
    b = t["region"].select(F.col("r_name").alias("region_b"))
    return a.crossJoin(b)


@register(
    "join_theta_pairs",
    oracle="""
SELECT a.n_name AS nation_a, b.n_name AS nation_b
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
""",
)
def join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi on region + inequality on key (unordered pairs
    within a region). Catalyst uses the equi part as the hash key and
    applies the inequality as a post-join filter."""
    t = tables(spark, sf_dir)
    a = t["nation"].alias("a")
    b = t["nation"].alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(
            F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b")
        )
    )


@register(
    "join_range_quantity",
    oracle="""
SELECT p.p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem l JOIN part p
  ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
GROUP BY p.p_brand
""",
)
def join_range_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range join: hash on partkey, range predicate as residual filter.
    Scale: part is a dimension → broadcast; no shuffle of lineitem."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"]),
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") > F.col("p_size")),
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price"))
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / set ops
# ---------------------------------------------------------------------------


@register(
    "sort_limit",
    oracle="""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (per-partition top-k then
    merge on the driver; never a global sort)."""
    o = tables(spark, sf_dir)["orders"]
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", iso_date("o_orderdate", "orderdate"), "o_totalprice")
    )


@register(
    "topk_per_group",
    oracle="""
SELECT p_brand, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via ranked window (deterministic tie-break on key).
    Scale: one shuffle on the group key; AQE handles group skew."""
    p = tables(spark, sf_dir)["part"]
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "set_union_all",
    oracle="""
SELECT nationkey, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) GROUP BY nationkey
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL: bag concatenation (SURVEY §2.7) — plan-level, no
    shuffle, no dedup."""
    t = tables(spark, sf_dir)
    u = t["customer"].select(F.col("c_nationkey").alias("nationkey")).unionAll(
        t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    )
    return u.groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT: concatenation + dedup shuffle on all columns
    (SURVEY §2.7)."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@register(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): planned as a left-semi join + distinct
    (SURVEY §2.7)."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@register(
    "set_except",
    # supplier covers every nation, so an unfiltered difference is always
    # empty (a vacuous check) — restrict the right side so the result is a
    # real non-empty set difference
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_nationkey < 13
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): left-anti join + distinct (SURVEY §2.7)."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .subtract(
            t["supplier"]
            .filter(F.col("s_nationkey") < 13)
            .select(F.col("s_nationkey").alias("nationkey"))
        )
    )


@register(
    "set_intersect_all",
    # multiplicity-preserving intersection: quantity value q appears
    # min(#R, #A) times — ~19k rows on the fixture, so bag semantics (not
    # set semantics) are genuinely exercised
    oracle="""
SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'R'
INTERSECT ALL
SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'A'
""",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection, SURVEY §2.7): Spark plans this as a
    single hash aggregate per side + count-min join — no row explosion."""
    t = tables(spark, sf_dir)["lineitem"]
    r = t.filter(F.col("l_returnflag") == "R").select(F.col("l_quantity").alias("qty"))
    a = t.filter(F.col("l_returnflag") == "A").select(F.col("l_quantity").alias("qty"))
    return r.intersectAll(a)


@register(
    "set_except_all",
    oracle="""
SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'R'
EXCEPT ALL
SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'A'
""",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, SURVEY §2.7): multiplicity #R − #A per
    value, positive part — 618 surviving rows on the fixture."""
    t = tables(spark, sf_dir)["lineitem"]
    r = t.filter(F.col("l_returnflag") == "R").select(F.col("l_quantity").alias("qty"))
    a = t.filter(F.col("l_returnflag") == "A").select(F.col("l_quantity").alias("qty"))
    return r.exceptAll(a)


# ---------------------------------------------------------------------------
# Projections / filters (reference's own observable surface)
# ---------------------------------------------------------------------------


@register(
    "proj_literals_pg_dialect",
    oracle="""
SELECT 'Ichi' AS one, 2 AS two, '3' AS three, '4' AS four,
  '1441c21d-9921-4a1d-b239-9c6ea18af234' AS id,
  '2021-11-22 11:45:11' AS ts
""",
)
def proj_literals_pg_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal-projection test SQL, in PG dialect, through
    the dialect translator (``::uuid`` cast, ``timestamptz`` literal —
    reference ``tests/test_postgres.py:25,153-157``)."""
    from youcruit_tap_rawpostgresql_spark.plans.executor import run_sql

    # register_testdata pins spark.sql.session.timeZone=UTC; this case has
    # no table inputs, so without the call a stock session on a non-UTC
    # machine would date_format the timestamptz literal in local time
    tables(spark, sf_dir)
    df = run_sql(
        spark,
        "SELECT 'Ichi' AS one, 2 AS two, '3' AS three, '4' AS four, "
        "'1441c21d-9921-4a1d-b239-9c6ea18af234'::uuid AS id, "
        "timestamptz '2021-11-22T11:45:11+00:00' AS ts",
    )
    return df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).withColumn(
        "two", F.col("two").cast("int")
    )


@register(
    "filter_predicates",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_returnflag IN ('A', 'R')
  AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND (l_discount < 0.03 OR l_tax > 0.06)
""",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound WHERE predicates (BETWEEN / IN / OR) — all pushed to the
    parquet scan by Catalyst (verify: PushedFilters in explain)."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & ((F.col("l_discount") < 0.03) | (F.col("l_tax") > 0.06))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "agg_array_agg_distinct",
    # PG array_agg(DISTINCT x ORDER BY x): Spark collect_set order is
    # engine-internal, so both sides sort the distinct set and emit the
    # canonical CSV form
    oracle="""
SELECT l_returnflag,
  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
    AS statuses,
  array_to_string(list_sort(list_distinct(list(CAST(FLOOR(l_quantity) AS BIGINT)))), ',')
    AS quantities
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_array_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg(DISTINCT … ORDER BY …) (PG delegated surface): distinct
    collected sets, canonically sorted — collect_set + array_sort, emitted
    as CSV so the unordered engine-internal set order never leaks."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set(F.floor("l_quantity"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("quantities"),
    )


@register(
    "tablefunc_regexp_matches",
    # PG regexp_matches(text, pat, 'g') is a set-returning function; the
    # Spark form is regexp_extract_all + posexplode
    oracle="""
SELECT doc_id, CAST(k - 1 AS INT) AS match_idx, m[k] AS word
FROM (
  SELECT doc_id, regexp_extract_all(text, '[a-z]{6,}') AS m FROM documents
), unnest(generate_series(1, len(m))) AS u(k)
""",
)
def tablefunc_regexp_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-returning regex (PG `regexp_matches(..., 'g')`, SURVEY §2.8):
    every ≥6-letter word per document with its match index, via
    regexp_extract_all + posexplode — a per-row columnar fan-out with no
    shuffle."""
    d = tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.posexplode(F.expr(r"regexp_extract_all(text, '[a-z]{6,}', 0)")).alias(
            "match_idx", "word"
        ),
    )


@register(
    "agg_bool_and_or",
    oracle="""
SELECT l_returnflag,
  bool_and(l_quantity > 0) AS all_positive_qty,
  bool_or(l_discount > 0.09) AS any_high_discount,
  bool_and(l_shipdate >= TIMESTAMP '1992-01-01') AS all_after_1992
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bool_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOL_AND / BOOL_OR aggregates (PG delegated surface; Spark names
    them bool_and/bool_or too). Integer-exact threshold predicates."""
    l = tables(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.expr("bool_and(l_quantity > 0)").alias("all_positive_qty"),
        F.expr("bool_or(l_discount > 0.09)").alias("any_high_discount"),
        F.expr("bool_and(l_shipdate >= TIMESTAMP '1992-01-01')").alias(
            "all_after_1992"
        ),
    )


@register(
    "subquery_notin_vs_notexists",
    # the classic three-valued-logic trap, pinned as a case: a single NULL
    # in the NOT IN subquery empties the result (x <> NULL is UNKNOWN for
    # every x), while NOT EXISTS keeps its rows — both engines implement
    # the same standard semantics, and the pair makes the trap visible
    oracle="""
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (
     SELECT NULLIF(o_custkey, 7) FROM orders WHERE o_orderpriority = '1-URGENT'
   )) AS n_not_in_with_null,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (
     SELECT 1 FROM orders o
     WHERE NULLIF(o.o_custkey, 7) = c.c_custkey
       AND o.o_orderpriority = '1-URGENT'
   )) AS n_not_exists
""",
)
def subquery_notin_vs_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs (delegated-surface semantics the
    reference's users hit constantly): NULLIF plants one NULL in the
    subquery, NOT IN collapses to 0 rows, NOT EXISTS still returns the
    true anti-join count — identical standard behavior in Spark and
    DuckDB, asserted side by side."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (
             SELECT NULLIF(o_custkey, 7) FROM orders
             WHERE o_orderpriority = '1-URGENT'
           )) AS n_not_in_with_null,
          (SELECT COUNT(*) FROM customer c
           WHERE NOT EXISTS (
             SELECT 1 FROM orders o
             WHERE NULLIF(o.o_custkey, 7) = c.c_custkey
               AND o.o_orderpriority = '1-URGENT'
           )) AS n_not_exists
        """
    )


@register(
    "agg_share_of_parent",
    # each (flag, status) leaf's share of its flag subtotal: exact decimal
    # sums, one IEEE division, 6dp output
    oracle="""
WITH leaf AS (
  SELECT l_returnflag, l_linestatus,
    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem GROUP BY l_returnflag, l_linestatus
), parent AS (
  SELECT l_returnflag, SUM(qty) AS flag_qty FROM leaf GROUP BY l_returnflag
)
SELECT l.l_returnflag, l.l_linestatus,
  CAST(l.qty AS DOUBLE) AS qty,
  ROUND(CAST(l.qty AS DOUBLE) / CAST(p.flag_qty AS DOUBLE), 6)
    AS share_of_flag
FROM leaf l JOIN parent p ON l.l_returnflag = p.l_returnflag
""",
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent reporting: each (flag, status) leaf as a fraction of
    its flag subtotal — computed with a window over the LEAF aggregate, so
    the fact table is scanned and shuffled once (the oracle's join-back
    formulation reads the aggregate twice).

    Scale: the window input is group-count-sized; decimal sums keep the
    division exact-operand on both engines."""
    l = tables(spark, sf_dir)["lineitem"]
    leaf = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty")
    )
    w = W.partitionBy("l_returnflag")
    return leaf.select(
        "l_returnflag",
        "l_linestatus",
        F.col("qty").cast("double").alias("qty"),
        F.round(
            F.col("qty").cast("double") / F.sum("qty").over(w).cast("double"), 6
        ).alias("share_of_flag"),
    )


@register(
    "sort_limit_offset",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10 OFFSET 20
""",
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (SURVEY §2.7; Spark SQL has OFFSET since
    3.4) over a deterministic ordering. Scale note: OFFSET still evaluates
    the prefix — keyset pagination (WHERE key > last_seen) is the 100 TB
    form; this case pins the syntax surface."""
    tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10 OFFSET 20
        """
    )


@register(
    "agg_weighted_avg",
    # price-weighted average discount: both Σ(w·x) and Σw are exact
    # decimals (products stay within the 38-digit cap), one division
    oracle="""
SELECT l_returnflag,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
    AS weighted_avg_discount,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average (price-weighted discount) — exact decimal
    numerator and denominator, one IEEE division; the reporting primitive
    plain AVG silently gets wrong."""
    l = tables(spark, sf_dir)["lineitem"]
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    dsc = F.col("l_discount").cast("decimal(12,2)")
    return l.groupBy("l_returnflag").agg(
        (F.sum(p * dsc).cast("double") / F.sum(p).cast("double")).alias(
            "weighted_avg_discount"
        ),
        F.sum(p).cast("double").alias("total_price"),
    )


@register(
    "sort_keyset_page",
    # keyset (seek) pagination: the page AFTER a known (price, key) cursor
    # via row-value comparison — the scalable form of OFFSET (the filter
    # pushes down; no prefix is evaluated)
    oracle="""
WITH cur AS (
  SELECT o_totalprice AS cp, o_orderkey AS ck FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1 OFFSET 19
)
SELECT o_orderkey, o_totalprice
FROM orders, cur
WHERE o_totalprice < cp OR (o_totalprice = cp AND o_orderkey > ck)
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def sort_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination: rows after the 20th cursor under
    (price DESC, key) order, via lexicographic struct comparison — same
    page as sort_limit_offset's OFFSET 20, but the predicate prunes
    instead of evaluating the prefix (the 100 TB pagination form).

    The seek predicate is the explicit OR form
    ``price < cp OR (price = cp AND key > ck)`` — the mixed-direction
    order (price DESC, key ASC) makes the lexicographic row-value ``<``
    tiebreak the WRONG way on duplicate prices (which DO occur in the
    fixtures), re-emitting one row and dropping another whenever a
    duplicate straddles the page boundary."""
    t = tables(spark, sf_dir)["orders"]
    cursor = (
        t.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey").desc())
        .limit(1)
        .collect()[0]
    )
    cp, ck = cursor["o_totalprice"], cursor["o_orderkey"]
    return (
        t.filter(
            (F.col("o_totalprice") < F.lit(cp))
            | (
                (F.col("o_totalprice") == F.lit(cp))
                & (F.col("o_orderkey") > F.lit(ck))
            )
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "join_null_safe",
    # NULLIF plants NULL keys on both sides (nation 13): plain equality
    # drops every NULL pair, the null-safe operator matches them — both
    # counts pin the three-valued-logic difference
    oracle="""
WITH c AS (
  SELECT c_custkey, NULLIF(c_nationkey, 13) AS nk FROM customer
), s AS (
  SELECT s_suppkey, NULLIF(s_nationkey, 13) AS nk FROM supplier
)
SELECT
  (SELECT COUNT(*) FROM c JOIN s ON c.nk = s.nk) AS n_plain_eq,
  (SELECT COUNT(*) FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk)
    AS n_null_safe
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join (Spark `<=>` / PG-DuckDB `IS NOT DISTINCT FROM`):
    NULL keys match each other under the null-safe operator and never
    match under plain equality — the join-key-nullability trap, pinned by
    both counts side by side.

    Scale note: Spark plans `<=>` as an equi hash join (NULL hashes to a
    bucket), NOT a nested loop — null-safe keys keep the scalable path."""
    t = tables(spark, sf_dir)
    c = t["customer"].select(
        "c_custkey", F.nullif("c_nationkey", F.lit(13)).alias("nk")
    )
    s = t["supplier"].select(
        "s_suppkey", F.nullif("s_nationkey", F.lit(13)).alias("nk")
    )
    plain = c.join(s, c["nk"] == s["nk"]).count()
    nullsafe = c.join(s, c["nk"].eqNullSafe(s["nk"])).count()
    return local_frame(
        spark, [(plain, nullsafe)], "n_plain_eq bigint, n_null_safe bigint"
    )
