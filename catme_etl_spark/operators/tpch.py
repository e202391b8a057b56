"""TPC-H-classic query shapes over the driver star schema (SURVEY §2.3/
§2.4 composition coverage): Q3 shipping priority, Q5 local-supplier
volume, Q6 forecast revenue, Q10 returned-item reporting.

These are the canonical multi-join/agg plans the engine must keep
100-TB-shaped: fact-side filters push into the parquet scan; constant
dims (nation/region) broadcast unconditionally while SF-scaling dims
(supplier/part) go through the size-gated `maybe_broadcast`; aggregates
run partial→final over one hash shuffle.
Money arithmetic uses the exact integer-cents idiom
(catme_etl_spark/functions/money.py) for cross-engine hash stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, money_from_cents, pct100
from ..sources.tables import load_table
from ._shared import maybe_broadcast
from .registry import query


_REV = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-order revenue — date-filtered fact joins, grouped revenue, top 10 by (revenue, date, key)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    rev = cents("l_extendedprice") * (100 - pct100("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_from_cents(F.sum(rev), scale=10_000).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join; the c_nationkey = s_nationkey clause makes it the
    classic 'local supplier' semi-cyclic shape. nation/region/supplier
    broadcast; the two fact tables shuffle on the join key once."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = cents("l_extendedprice") * (100 - pct100("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            maybe_broadcast(s, sf_dir, "supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(money_from_cents(F.sum(rev), scale=10_000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                           * CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                  AS DOUBLE) / 10000, 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-and-aggregate: every predicate pushes into the parquet
    scan, no join, no shuffle beyond the final scalar combine."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = cents("l_extendedprice") * pct100("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(money_from_cents(F.sum(rev), scale=10_000).alias("revenue"))
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-subquery shape: planned as a LEFT SEMI join (the correct
    distributed EXISTS — no duplication, early-out per key)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                       THEN {_REV} ELSE 0 END) AS DOUBLE)
                 / CAST(SUM({_REV}) AS DOUBLE), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share: fact-dim broadcast join + conditional
    aggregate, exact integer units until the final ratio."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents("l_extendedprice") * (100 - pct100("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 4
            ).alias("promo_pct")
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           ROUND(CAST(SUM({_REV}) AS DOUBLE) / 10000, 2) AS revenue,
           ROUND(c_acctbal, 2) AS c_acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer — 3 joins, group, exact-cents revenue, top 20 fully tie-broken."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (100 - pct100("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_from_cents(F.sum(rev), scale=10_000).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )
