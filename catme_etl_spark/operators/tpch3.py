"""TPC-H classic query shapes, part 3 (SURVEY §2.3/§2.6 EXT): the
correlated-subquery trio q11 / q20 / q21 that rounds out the 22-query
suite (tpch.py + tpch2.py carry the other 19).

These three exercise decorrelation patterns nothing else in the
registry touches:

- Q11  scalar subquery of a GLOBAL total filtering a grouped roll-up
       (HAVING value > fraction * SUM(value) OVER the same derived
       table).
- Q20  nested IN subqueries with a correlated per-key aggregate in the
       HAVING (supplier IN (... HAVING qty > 0.5 * per-part total)).
- Q21  correlated EXISTS + NOT EXISTS against the same fact
       (multi-supplier order where ONLY this supplier was late) —
       decorrelated into a left-semi and a left-anti join, never a
       nested-loop re-scan.

Schema adaptations (reduced star schema, `TESTDATA.md`: no partsupp,
no l_commitdate/l_receiptdate):

- Q11's partsupp stock value → per-part revenue shipped by one
  nation's suppliers (same plan shape: group, global-total scalar
  subquery, threshold filter).
- Q20's availqty-vs-shipped test → "supplier dominates a PROMO part's
  1996 volume" (> 50% of that part's total — same nested-IN +
  correlated-aggregate shape).
- Q21's receipt-after-commit lateness → shipped more than 90 days
  after the order date (the same proxy tpch2.py's q12 uses).

The reference (`waldfalke/catme-etl`) has no joins or subqueries of
any kind (`unified_code.py:296-334`); this surface is mandated by the
driver contract's relational coverage (SURVEY §2.10).

Exactness: thresholds compare in integer domain (``value_c * 2000 >
total_c`` instead of ``value_c > total_c * 0.0005``) so both engines
decide boundaries identically. int64 headroom: total revenue-cents at
sf1 is ~6e13, ×2000 ≈ 1.2e17 < 9.2e18; beyond ~sf50 move the scaled
comparison to decimal(38,0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from .tpch2 import _REV, _rev


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH val AS (
      SELECT l_partkey, SUM({_REV}) AS value_c
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST((value_c + 50) // 100 AS DOUBLE) / 100 AS stock_value
    FROM val
    WHERE value_c * 2000 > (SELECT SUM(value_c) FROM val)
    ORDER BY stock_value DESC, l_partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (adapted: no partsupp → revenue shipped by NATION_7's
    suppliers plays the stock-value role): parts whose value exceeds
    0.05% of the nation's total.

    The scalar subquery decorrelates into a one-row aggregate of the
    SAME grouped roll-up, rounded half-up in integer domain
    (``(c+50) div 100``) because cents×pct / 10000 lands exactly on
    .xx5 ties that IEEE ROUND breaks differently across engines.
    The scalar total broadcasts back as a threshold — lineitem is
    scanned and shuffled exactly once; the global total re-aggregates
    the (small) per-part table, not the fact. Threshold compares
    ``value_c * 2000 > total_c`` in exact int64 on both engines.
    """
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nat_sup = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey"
    )
    val = (
        li.join(F.broadcast(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("value_c"))
    )
    total = val.agg(F.sum("value_c").alias("total_c"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("value_c") * 2000 > F.col("total_c"))
        .select(
            "l_partkey",
            (F.expr("(value_c + 50) div 100").cast("double") / 100).alias(
                "stock_value"
            ),
        )
        .orderBy(F.col("stock_value").desc(), "l_partkey")
    )


@query(
    "tpch_q20_potential_promotion_suppliers",
    oracle="""
    WITH sixq AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey FROM sixq q
        WHERE qty * 2 > (SELECT SUM(qty) FROM sixq q2
                         WHERE q2.l_partkey = q.l_partkey)
      )
    ORDER BY s_name
    """,
)
def tpch_q20_potential_promotion_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q20 (adapted: no partsupp availqty → "dominates the part's 1996
    volume"): NATION_3 suppliers who shipped more than half of some
    PROMO part's 1996 quantity.

    Both nesting levels decorrelate: the part IN-list is a broadcast
    semi-filter on the scan, the correlated per-part total is a
    re-aggregation of the (small) per-(part,supplier) roll-up joined
    back by part key, and the outer supplier IN becomes a broadcast
    left-semi join. One fact shuffle total; quantities are whole-number
    doubles so ``qty * 2 > part_qty`` is exact in both engines.
    """
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    sixq = (
        li.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_tot = sixq.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("qty").alias("part_qty")
    )
    dominant = (
        sixq.join(part_tot, F.col("l_partkey") == F.col("pt_partkey"))
        .filter(F.col("qty") * 2 > F.col("part_qty"))
        .select(F.col("l_suppkey").alias("dom_suppkey"))
        .distinct()
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(dominant),
            F.col("s_suppkey") == F.col("dom_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


@query(
    "tpch_q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE n_name = 'NATION_1'
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (adapted lateness proxy, see module docstring): NATION_1
    suppliers who were the ONLY late supplier on a finished
    multi-supplier order, ranked by how often.

    The correlated EXISTS becomes a left-semi join on (same order,
    different supplier) and the NOT EXISTS a left-anti join against
    the late-lines table — both hash/sort-merge joins on l_orderkey
    with the inequality as a residual condition, never a per-row
    re-scan (BNL). The late-lines intermediate feeds both the outer
    block and the anti side; at 100 TB materialize it to storage once
    (here Spark's shuffle reuse covers it).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_1")
        .select("n_nationkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    l1 = late.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    waited = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
