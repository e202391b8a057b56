"""TPC-H classic query shapes, part 2 (SURVEY §2.3/§2.4/§2.6 EXT).

The driver star schema is reduced TPC-H (no partsupp, no
l_commitdate/l_receiptdate, no c_phone — `TESTDATA.md`), so the
remaining classic queries are adapted to the available columns while
keeping their distributed plan shapes intact:

- Q7/Q8/Q9  multi-way join + year roll-up (+ share-of-total ratio)
- Q12       join + conditional counts (late-shipment variant)
- Q13       outer join + double aggregation (histogram of counts)
- Q15       aggregate, then filter on the aggregate's global max
- Q16       count(distinct) grouped by dim attrs (lineitem as the link)
- Q17       correlated per-key average (agg + broadcast join back)
- Q18       HAVING on a fact roll-up, joined back to dims, top-k
- Q19       OR-of-ANDs disjunctive pushdown
- Q22       scalar-subquery threshold + anti join (idle customers)
- Q2        per-key min over a restricted offer set (window min)

The reference (`waldfalke/catme-etl`) has no joins/aggregations of any
kind (`unified_code.py:296-334` is a single-input pipeline; SURVEY
§2.3); this whole surface is mandated by the driver contract.

Scale notes: constant-size dims (nation/region) and one-row
aggregates broadcast unconditionally; SF-scaling dims (customer/
supplier/part) broadcast through the size-gated `maybe_broadcast`
(operators/_shared.py) so at 100× the plan degrades to a shuffle join
instead of pinning an OOM-sized build side. Fact-fact joins shuffle
on their join key once; aggregates are partial→final hash
aggs; money arithmetic uses exact integer cents
(catme_etl_spark/functions/money.py) so a 1000-executor sum is
bit-identical to the oracle's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, half_up, money_from_cents, pct100
from ..sources.tables import load_table
from ._shared import maybe_broadcast
from .registry import query


_REV = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"
_CENTS = "CAST(ROUND({c} * 100, 0) AS BIGINT)"


def _rev() -> F.Column:
    return cents("l_extendedprice") * (100 - pct100("l_discount"))


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bidirectional trade volume between two nations by ship year.

    The two-nation filter is applied to the broadcast nation copies
    *before* the join, so the fact-side shuffle only carries matching
    rows; the OR pair keeps both directions in one plan.
    """
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(money_from_cents(F.sum(_rev()), scale=10_000).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV} ELSE 0 END) AS DOUBLE)
                 / CAST(SUM({_REV}) AS DOUBLE), 4) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: one nation's share of ECONOMY-part revenue sold into AMERICA,
    by order year. Share = conditional-sum / total-sum in one aggregate
    pass — exact integer units until the final ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = _rev()
    nat = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat).cast("double") / F.sum(rev).cast("double"), 4
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q9_product_type_revenue",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'PROMO'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (adapted: no partsupp supply cost → revenue, not profit):
    PROMO-part revenue by supplier nation and order year."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(money_from_cents(F.sum(_rev()), scale=10_000).alias("revenue"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "tpch_q12_late_shipping_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def tpch_q12_late_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (adapted: no l_shipmode/commitdate → 'shipped >90 days after
    order' plays the late-delivery role): high- vs low-priority line
    counts per line status. The cross-column date predicate cannot push
    to the scan, but the year-range on l_shipdate does."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "tpch_q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q13: histogram of per-customer order counts. Left outer join so
    zero-order customers survive (COUNT of the null key gives 0); two
    aggregation levels — the second input is one row per customer, tiny."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV}) AS total_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_c AS DOUBLE) / 10000, 2) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_c = (SELECT MAX(total_c) FROM rev)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum quarterly revenue. The global
    max is a one-row aggregate broadcast back onto the per-supplier
    roll-up (no second scan of lineitem); equality compares exact
    integer cents, never floats."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_c")
    )
    top = rev.agg(F.max("total_c").alias("max_c"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("total_c") == F.col("max_c"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            money_from_cents(F.col("total_c"), scale=10_000).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16_supplier_count_by_part",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 15, 25, 35, 45, 50)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (adapted: no partsupp → lineitem is the part↔supplier link):
    distinct shipping suppliers per (brand, type, size) for selected
    sizes. count(distinct) expands to a two-phase de-dup + count; the
    NOT-filters land on the broadcast part side."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 15, 25, 35, 45, 50))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
    SELECT ROUND(CAST(SUM({_CENTS.format(c="l_extendedprice")}) AS DOUBLE)
                 / 100.0 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#7'
      AND l_quantity < 0.2 * (
        SELECT AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue lost if small-quantity orders for Brand#7 parts went
    unfilled. The correlated per-part AVG decorrelates into a per-part
    aggregate broadcast-joined back to the fact — one lineitem shuffle
    on l_partkey, no re-scan. Quantities are whole-number doubles, so
    the AVG is exact and engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#7")
        .select("p_partkey")
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("aq_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("aq_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(cents("l_extendedprice")).cast("double") / 100.0 / 7.0, 2
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: orders whose total quantity exceeds 300, with their
    customers. The HAVING roll-up produces few keys, so it joins back
    to the fact as a broadcast semi-filter rather than a second
    shuffle; top-k is fully tie-broken (o_orderkey unique)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle=f"""
    SELECT ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunctive (OR-of-ANDs) brand/size/quantity predicate over
    a fact-dim join. Catalyst extracts the common join key and keeps the
    disjunction as a post-join filter; the brand/size legs prune the
    broadcast part side via an OR-pushdown."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(money_from_cents(F.sum(_rev()), scale=10_000).alias("revenue"))
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-07-01'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 (adapted: no c_phone → nation plays the country-code role):
    well-funded customers with no recent orders. The scalar average is
    an exact-cents one-row aggregate broadcast into the filter; the NOT
    EXISTS is a left-anti join against the date-pruned orders scan."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(cents("c_acctbal")).cast("double")
                / 100.0
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_from_cents(F.sum(cents("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "tpch_q2_min_price_supplier",
    oracle="""
    WITH offers AS (
      SELECT p_partkey, s_suppkey, s_name,
             floor(s_acctbal * 100 + 0.5) / 100 AS s_acctbal,
             n_name, l_extendedprice / l_quantity AS unit_price
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
    )
    SELECT DISTINCT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
           floor(unit_price * 10000 + 0.5) / 10000 AS min_unit_price
    FROM (
      SELECT *, MIN(unit_price) OVER (PARTITION BY p_partkey) AS min_p
      FROM offers
    )
    WHERE unit_price = min_p
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    """,
)
def tpch_q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (adapted: no partsupp → observed lineitem unit prices are the
    'offers'): for each STANDARD size-15 part, the European supplier(s)
    that shipped it cheapest per unit. The correlated MIN decorrelates
    into a window over p_partkey; equality compares the identical IEEE
    division both engines computed, so no float flake. Display rounding
    uses the repo's half-away ``floor(x·10^k + 0.5)/10^k`` written
    identically on both engines — Spark ``F.round`` vs DuckDB ``ROUND``
    disagree on binary ties (a real 4th-decimal tie at sf0.001 caught
    this in round 7)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    offers = (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            half_up(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_p", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_p"))
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
            half_up(F.col("unit_price"), 4).alias("min_unit_price"),
        )
        .distinct()
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
    )
