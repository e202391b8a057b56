"""Relational operator surface: joins (SURVEY §2.3 J1–J6), aggregations
(§2.4 A1–A5), sorts/limits (§2.6 O3), set ops (§2.7), distinct.

Every query is declared with the DataFrame API so Catalyst handles
pushdown/pruning/join selection; dimension tables broadcast
automatically (session autoBroadcastJoinThreshold) — at 100 TB the
fact-table side scales out while dims stay broadcast, so these plans
survive the scale-up unchanged.

Hash-stability rules (see registry docstring): money sums rounded to
integer and cast to long; averages rounded; every LIMIT ordered with a
unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, money_from_cents, pct100
from ..sources.tables import load_table
from .registry import query


# ---------------------------------------------------------------------------
# Flagship: revenue by nation (scan + filter + 3 joins + agg + sort + limit).
# Mirrors the shape of TPC-H Q5. SURVEY §7.1 step 2.
# ---------------------------------------------------------------------------


@query(
    "flagship_revenue_by_nation",
    oracle="""
    SELECT n_name,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                          * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                      AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    LIMIT 10
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship slice (SURVEY §7.2): lineitem⋈orders⋈customer⋈nation with a ship-date filter, revenue by nation, top 10 — scan, filter, 3 joins, agg, sort, limit in one declarative plan."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    revenue_units = cents("l_extendedprice") * (100 - pct100("l_discount"))
    return (
        lineitem
        # Filter first → predicate pushes into the parquet scan.
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(money_from_cents(F.sum(revenue_units), scale=10_000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A1/A2/A4: TPC-H Q1-shaped pricing summary (grouped multi-aggregate).
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_quantity,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS e,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT)      AS d,
             CAST(ROUND(l_tax * 100, 0) AS BIGINT)           AS t
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    )
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT)                            AS sum_qty,
           ROUND(CAST(SUM(e) AS DOUBLE) / 100, 2)                     AS sum_base_price,
           ROUND(CAST(SUM(e * (100 - d)) AS DOUBLE) / 10000, 2)       AS sum_disc_price,
           ROUND(CAST(SUM(e * (100 - d) * (100 + t)) AS DOUBLE) / 1000000, 2) AS sum_charge,
           ROUND(SUM(l_quantity) / COUNT(*), 2)                       AS avg_qty,
           ROUND(CAST(SUM(e) AS DOUBLE) / 100 / COUNT(*), 2)          AS avg_price,
           ROUND(CAST(SUM(d) AS DOUBLE) / 100 / COUNT(*), 4)          AS avg_disc,
           COUNT(*)                                                   AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical wide aggregate (8 measures × 4 groups) over a date-filtered scan; exact integer-cents arithmetic end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    e, d, t = cents("l_extendedprice"), pct100("l_discount"), pct100("l_tax")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            money_from_cents(F.sum(e)).alias("sum_base_price"),
            money_from_cents(F.sum(e * (100 - d)), scale=10_000).alias("sum_disc_price"),
            money_from_cents(
                F.sum(e * (100 - d) * (100 + t)), scale=1_000_000
            ).alias("sum_charge"),
            F.round(F.sum("l_quantity") / n, 2).alias("avg_qty"),
            F.round(F.sum(e).cast("double") / 100 / n, 2).alias("avg_price"),
            F.round(F.sum(d).cast("double") / 100 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# J2: outer join — order counts per customer including customers with none.
# ---------------------------------------------------------------------------


@query(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           ROUND(CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)), 0)
                      AS DOUBLE) / 100, 2) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join (J2) + count: zero-order customers kept via the null-key count."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            money_from_cents(
                F.coalesce(F.sum(cents("o_totalprice")), F.lit(0).cast("long"))
            ).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# J2: full outer join over per-nation customer/supplier presence.
# ---------------------------------------------------------------------------


@query(
    "join_full_outer_nation_presence",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk)      AS nationkey,
           COALESCE(n_cust, 0)       AS n_cust,
           COALESCE(n_supp, 0)       AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (J2) over disjoint key subsets: both unmatched sides survive with NULLs."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(supp, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# ---------------------------------------------------------------------------
# J3: semi / anti joins.
# ---------------------------------------------------------------------------


@query(
    "join_semi_customers_with_big_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def join_semi_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (J3): customers having at least one big order — EXISTS with early-out, emits each left row once."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J3): customers with no orders — the distributed NOT EXISTS, no row duplication."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J6: cross join (bounded: two tiny dims).
# ---------------------------------------------------------------------------


@query(
    "join_cross_region_segment_grid",
    oracle="""
    SELECT r_name, seg AS mktsegment
    FROM region
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    """,
)
def join_cross_region_segment_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join (J6) of two tiny dimension projections — the bounded-input grid shape (deliberately never fact×fact)."""
    region = load_table(spark, sf_dir, "region")
    segs = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("mktsegment"))
        .distinct()
    )
    return region.crossJoin(segs).select("r_name", "mktsegment")


# ---------------------------------------------------------------------------
# J5: theta/range join — price-band bucketing of parts against an inline
# band table. The band side is tiny → broadcast nested-loop, which is the
# right physical plan at any scale (band table is O(1)).
# ---------------------------------------------------------------------------

_BANDS = [  # p_retailprice spans [900, 1000) in the synthetic data
    ("budget", 0.0, 925.0),
    ("mid", 925.0, 950.0),
    ("premium", 950.0, 975.0),
    ("luxury", 975.0, 1e9),
]


@query(
    "join_range_price_bands",
    oracle="""
    SELECT band, COUNT(*) AS n_parts,
           ROUND(CAST(SUM(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100 / COUNT(*), 2) AS avg_price
    FROM part
    JOIN (VALUES ('budget', 0.0, 925.0),
                 ('mid', 925.0, 950.0),
                 ('premium', 950.0, 975.0),
                 ('luxury', 975.0, 1000000000.0)) AS bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join (J5) against a tiny bands table — BNL over a broadcast side; the banded equi-join variant for big inputs lives in rangejoin.py."""
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(cents("p_retailprice")).cast("double") / 100 / F.count(F.lit(1)), 2
            ).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# A1: count distinct (exact) + A2 stats.
# ---------------------------------------------------------------------------


@query(
    "agg_global_stats",
    oracle="""
    SELECT COUNT(*)                                    AS n_rows,
           COUNT(DISTINCT l_partkey)                   AS n_parts,
           CAST(SUM(l_quantity) AS BIGINT)             AS sum_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100 / COUNT(*), 2)                  AS avg_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 2)      AS sd_price,
           CAST(ROUND(MIN(l_extendedprice) * 100, 0) AS BIGINT) AS min_price_cents,
           CAST(ROUND(MAX(l_extendedprice) * 100, 0) AS BIGINT) AS max_price_cents
    FROM lineitem
    """,
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table aggregate without GROUP BY (A1/A2): one partial state per task, single final combine."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(
            F.sum(cents("l_extendedprice")).cast("double") / 100 / F.count(F.lit(1)), 2
        ).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.min("l_extendedprice") * 100, 0).cast("long").alias("min_price_cents"),
        F.round(F.max("l_extendedprice") * 100, 0).cast("long").alias("max_price_cents"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE                      AS within_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP HyperLogLog++ distinct-count sketch — mergeable
    map-side, O(KB) state per group vs a full shuffle of keys for the
    exact count. Hash-certified via the repo's within-bounds pattern
    (`agg_approx_distinct_bounds` is the global precedent): the output
    carries the exact per-flag count (oracle-matched) plus a boolean
    asserting the sketch estimate lands within 5× its configured rsd
    (0.02 → ±10%, generous). The estimate is engine-specific but
    deterministic per input, so estimator drift hash-mismatches instead
    of hiding behind a rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 5 * 0.02 * F.col("exact_parts")
            ).alias("within_bounds"),
        )
    )


@query(
    "agg_approx_distinct_bounds",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE                      AS within_bounds
    FROM lineitem
    """,
)
def agg_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion to the HLL++ sketch: the exact distinct
    count plus a boolean asserting the sketch estimate lands within
    5× its configured relative standard deviation (rsd=0.02 → ±10% —
    generous; HLL++ error is ~rsd with overwhelming probability). The
    sketch value itself is engine-specific but DETERMINISTIC per input,
    so if Spark's estimate ever drifts out of bounds this row
    hash-mismatches instead of hiding behind a rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
    ).select(
        "exact_parts",
        (
            F.abs(F.col("_approx") - F.col("exact_parts"))
            <= 5 * 0.02 * F.col("exact_parts")
        ).alias("within_bounds"),
    )


# ---------------------------------------------------------------------------
# A3: rollup / cube / grouping sets.
# ---------------------------------------------------------------------------


@query(
    "agg_rollup_region_nation",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS r_name,
           COALESCE(n_name, 'ALL') AS n_name,
           COUNT(c_custkey)        AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy (A3): per-nation, per-region, and grand-total rows from one scan."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_cust"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "n_cust",
        )
    )


@query(
    "agg_cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           COUNT(*)                         AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100, 2)                  AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) (A3): all 4 grouping sets in one pass; NULL marks the rolled-up dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_from_cents(F.sum(cents("o_totalprice"))).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# A4: conditional aggregation.
# ---------------------------------------------------------------------------


@query(
    "agg_conditional_returns",
    oracle="""
    SELECT l_linestatus,
           ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R'
                               THEN CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                               ELSE 0 END) AS DOUBLE) / 100, 2) AS returned_value,
           COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END)  AS n_returned,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END)   AS n_discounted
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_conditional_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (A4): sum/count under CASE predicates in one pass — the pivot-free way to split measures by flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        money_from_cents(
            F.sum(
                F.when(F.col("l_returnflag") == "R", cents("l_extendedprice")).otherwise(
                    F.lit(0).cast("long")
                )
            )
        ).alias("returned_value"),
        F.count(F.when(F.col("l_returnflag") == "R", F.lit(1))).alias("n_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


# ---------------------------------------------------------------------------
# A5: collect_set/collect_list — stringified + sorted for stable hashing.
# ---------------------------------------------------------------------------


@query(
    "agg_collect_segments_per_nation",
    oracle="""
    SELECT c_nationkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer
    GROUP BY c_nationkey
    """,
)
def agg_collect_segments_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregation (A5): per-nation set of market segments, emitted sorted+joined so the hash is order-stable."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments")
    )


# ---------------------------------------------------------------------------
# O3: global top-k (TakeOrderedAndProject — no full sort at scale).
# ---------------------------------------------------------------------------


@query(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (O3): orderBy+limit plans as TakeOrderedAndProject — per-partition heaps, no full sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", cents("o_totalprice").alias("totalprice_cents"))
    )


# ---------------------------------------------------------------------------
# §2.7 set operations.
# ---------------------------------------------------------------------------


@query(
    "set_union_distinct_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_distinct_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT: concatenate then dedup — one shuffle on the key."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@query(
    "set_intersect_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): keys present on both sides."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference, distinct semantics) on key projections."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)  # EXCEPT (set semantics); exceptAll would keep multiplicity


@query(
    "set_except_all_multiplicity",
    oracle="""
    SELECT nationkey, COUNT(*) AS n
    FROM (SELECT c_nationkey AS nationkey FROM customer
          EXCEPT ALL
          SELECT s_nationkey FROM supplier)
    GROUP BY nationkey
    """,
)
def set_except_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL keeps per-key multiplicity: |customers(k)| − |suppliers(k)|."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Distinct (exact dedup on a projection; SURVEY §2.10 F8 relational form).
# ---------------------------------------------------------------------------


@query(
    "distinct_flag_status_pairs",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def distinct_flag_status_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection = group-by-all-columns; hash-shuffle on the pair."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )
