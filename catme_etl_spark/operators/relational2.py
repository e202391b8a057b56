"""Second relational coverage batch: GROUPING SETS, INTERSECT ALL,
exact median, scalar subquery, corpus-mix reporting (SURVEY §2.4/§2.7
completions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..sources.tables import load_table
from .registry import query


@query(
    "agg_grouping_sets_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (A3 beyond rollup/cube) via Spark SQL —
    one pass, each row fans into its grouping sets map-side."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "set_intersect_all_multiplicity",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_intersect_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — multiplicity = min of the two
    sides), completing the set-op family."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    return a.intersectAll(b)


@query(
    "agg_median_price_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.5) / 100.0
               AS median_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_median_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (continuous-interpolation) per group, computed on
    the integer-cents grid so the even-count midpoint is exact in both
    engines. Exact medians need the group's values together (sort or
    full pass) — at 100 TB prefer approx_percentile unless exactness
    is contractual."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        (F.median(cents("o_totalprice")) / 100.0).alias("median_price")
    )


@query(
    "agg_percentiles_order_price",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.5) / 100.0
               AS p50,
           quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.9) / 100.0
               AS p90,
           quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.99) / 100.0
               AS p99
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (p50/p90/p99) on the integer-cents
    grid. Exact percentiles materialize each group's values — at 100 TB
    use ``approx_percentile`` (t-digest sketch, mergeable map-side)
    unless the number is contractual."""
    o = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    return o.groupBy("o_orderstatus").agg(
        (F.percentile(c, F.lit(0.5)) / 100.0).alias("p50"),
        (F.percentile(c, F.lit(0.9)) / 100.0).alias("p90"),
        (F.percentile(c, F.lit(0.99)) / 100.0).alias("p99"),
    )


@query(
    "agg_approx_percentile_bounds",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 0.5) / 100.0
               AS exact_p50,
           TRUE AS within_bounds
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion for the t-digest-style sketch (the
    scale path the exact-percentile docstrings point to): per group,
    the exact p50 plus a boolean asserting ``approx_percentile``'s
    estimate lands between the exact p45 and p55 (rank error at
    accuracy=10000 is 1e-4 — the ±5-point envelope is generous by
    orders of magnitude). Sketch values are engine-specific but
    deterministic per input, so a drifting estimate hash-mismatches
    here instead of hiding behind a rows-only check; the pattern
    matches ``agg_approx_distinct_bounds``."""
    o = load_table(spark, sf_dir, "orders")
    c = cents("o_totalprice")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile(c, F.lit(0.5)).alias("_exact50"),
            F.percentile(c, F.lit(0.45)).alias("_lo"),
            F.percentile(c, F.lit(0.55)).alias("_hi"),
            F.percentile_approx(c, F.lit(0.5), F.lit(10000)).alias("_approx"),
        )
        .select(
            "o_orderstatus",
            (F.col("_exact50") / 100.0).alias("exact_p50"),
            (
                (F.col("_approx") >= F.col("_lo"))
                & (F.col("_approx") <= F.col("_hi"))
            ).alias("within_bounds"),
        )
    )


@query(
    "subquery_above_avg_customers",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer) + 1e-9
    """,
)
def subquery_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance.
    The aggregate is a 1-row DataFrame broadcast-cross-joined against
    the table — the distributed plan for any uncorrelated scalar
    subquery (Catalyst produces the same shape for the SQL form).
    The epsilon guards the comparison: rows AT the average (possible on
    a 2-decimal money grid) would otherwise flip on last-ulp AVG
    differences between engines."""
    c = load_table(spark, sf_dir, "customer")
    avg = c.agg((F.sum(cents("c_acctbal")) / (100.0 * F.count(F.lit(1)))).alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg))
        .filter(F.col("c_acctbal") > F.col("avg_bal") + 1e-9)
        .select("c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


@query(
    "scalar_try_functions",
    oracle="""
    SELECT p_partkey,
           CASE WHEN (p_size - 5) = 0 THEN NULL
                ELSE CAST(p_retailprice / (p_size - 5) AS DOUBLE) END AS price_per,
           TRY_CAST(p_brand AS INTEGER) AS brand_as_int,
           TRY_CAST(SUBSTRING(p_name, 1, 2) AS INTEGER) AS name_prefix_int
    FROM part
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic (Spark 4 enables ANSI by default, so
    plain division by zero would FAIL the job): ``try_divide`` /
    ``try_cast`` return NULL instead — the distributed-job-friendly
    behavior (one poisoned row must not kill a 100 TB pass; pair with a
    quarantine filter to collect offenders)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.try_divide(F.col("p_retailprice"), F.col("p_size") - 5).alias("price_per"),
        F.col("p_brand").try_cast("int").alias("brand_as_int"),
        F.substring("p_name", 1, 2).try_cast("int").alias("name_prefix_int"),
    )


@query(
    "agg_having_heavy_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def agg_having_heavy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = filter over the aggregate (planned as one hash-agg +
    post-filter; no second shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'retailprice' AS metric, ROUND(p_retailprice, 2) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (inverse of pivot): wide metric columns → long
    (key, metric, value) rows — a narrow map-side explode, no shuffle."""
    p = load_table(spark, sf_dir, "part")
    w = p.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return w.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "text_corpus_mix",
    oracle="""
    WITH m AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents
      GROUP BY lang, source
    )
    SELECT lang, source, n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
    FROM m
    """,
)
def text_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mix report a training pipeline budgets from: docs,
    tokens, and token share per (lang, source) stratum. Agg, then the
    global token total as a one-row aggregate broadcast-cross-joined
    back onto the (tiny) mix table — no unpartitioned window — so the
    big table is touched once."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    tot = m.agg(F.sum("n_tokens").alias("_tot_tokens"))
    return m.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("_tot_tokens"), 6).alias(
            "token_share"
        ),
    )


@query(
    "join_null_safe_segment_counts",
    oracle="""
    WITH a AS (
      SELECT nullif(c_mktsegment, 'BUILDING') AS seg, COUNT(*) AS n_low
      FROM customer WHERE c_acctbal < 1000 GROUP BY 1
    ),
    b AS (
      SELECT nullif(c_mktsegment, 'BUILDING') AS seg, COUNT(*) AS n_high
      FROM customer WHERE c_acctbal >= 1000 GROUP BY 1
    )
    SELECT a.seg AS seg, n_low, n_high
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    ORDER BY seg NULLS FIRST
    """,
)
def join_null_safe_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the NULL
    segment buckets (here manufactured via nullif) match each other,
    where plain `=` would silently drop them — the semantics gap that
    corrupts outer-join-then-group pipelines. Plans exactly like an
    equi-join (hashable key), so the scale story is unchanged."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    a = (
        c.filter(F.col("c_acctbal") < 1000)
        .groupBy(seg.alias("seg"))
        .agg(F.count(F.lit(1)).alias("n_low"))
    )
    b = (
        c.filter(F.col("c_acctbal") >= 1000)
        .groupBy(seg.alias("seg_b"))
        .agg(F.count(F.lit(1)).alias("n_high"))
    )
    return (
        a.join(b, F.col("seg").eqNullSafe(F.col("seg_b")))
        .select("seg", "n_low", "n_high")
        .orderBy(F.col("seg").asc_nulls_first())
    )


@query(
    "agg_bool_count_if_orders",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 0)        AS all_positive,
           bool_or(o_orderstatus = 'F')      AS any_finished,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_bool_count_if_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean / conditional aggregates (ALL / ANY / COUNT IF) — the
    declarative constraint-check shape; one hash-agg with boolean
    partial states (three booleans+one long per group cross the
    shuffle, nothing else)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "scd2_priority_intervals",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_p
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(LEAD(o_orderdate) OVER v, '%Y-%m-%d'), '9999-12-31')
               AS valid_to,
           CAST(LEAD(o_orderdate) OVER v IS NULL AS BOOLEAN) AS is_current
    FROM changes
    WINDOW v AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_priority_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from an event log: per
    customer, collapse the order stream into validity intervals of its
    priority attribute (row survives only when the value changes; end
    date = next change's start; open interval = current). Two window
    passes over ONE shuffle — both windows partition on the same key,
    so Spark reuses the partitioning; this is the standard
    dimension-history build a warehouse runs incrementally at scale.
    Ties are impossible: (o_orderdate, o_orderkey) is unique per row.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_p", F.lag("o_orderpriority").over(w))
        .filter(
            F.col("prev_p").isNull()
            | (F.col("prev_p") != F.col("o_orderpriority"))
        )
        .drop("prev_p")
    )
    v = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(v)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        nxt.isNull().alias("is_current"),
    )


@query(
    "join_lateral_top2_customers",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) c
    """,
)
def join_lateral_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL join (Spark 4 ``DataFrame.lateralJoin`` with a
    correlated ``.outer()`` column): for every nation, the top-2
    customers by balance from a per-row correlated subquery — the
    relational form of "top-k per group" that SQL users reach for
    before window functions. Catalyst decorrelates the limit-per-key
    subquery instead of executing it row-at-a-time, so the plan stays
    set-oriented; the window-function formulation
    (`window_top3_orders_per_customer`) remains the idiom of choice
    when the per-group work is heavy."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    top2 = (
        c.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return n.lateralJoin(top2).select("n_name", "c_custkey", "c_acctbal")


@query(
    "join_point_in_time_priority",
    oracle="""
    WITH dim AS (
      SELECT o_custkey, o_orderdate, o_orderpriority FROM (
        SELECT o_custkey, o_orderdate, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rd
        FROM orders) x
      WHERE rd = 1
    )
    SELECT priority, COUNT(*) AS n_items FROM (
      SELECT d.o_orderpriority AS priority
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      ASOF LEFT JOIN dim d
        ON o.o_custkey = d.o_custkey AND l.l_shipdate >= d.o_orderdate
    ) GROUP BY priority
    """,
)
def join_point_in_time_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) join — the feature-store correctness
    primitive: each lineitem is decorated with the customer's priority
    AS OF its ship date (the latest per-day state at or before it),
    never a later state — the leakage rule training pipelines must
    enforce when joining features to events. Dim = last order per
    (customer, day) via one argmax hash-agg; probe = lineitem×orders
    equi-join for the customer key; the temporal lookup reuses
    :func:`catme_etl_spark.operators.asof.asof_join` (union + running
    last-ignorenulls over one (key, time) shuffle — the distributed
    merge shape). Verified against DuckDB's native ASOF LEFT JOIN —
    LEFT, because a probe with no state at-or-before it must surface
    as a NULL-priority row (the leakage audit wants to SEE rows that
    have no legal feature value, not silently drop them). Output
    aggregates to per-priority counts so the check pins the whole
    600k-row decoration without hashing 600k rows."""
    from .asof import asof_join

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    dim = (
        o.groupBy("o_custkey", "o_orderdate")
        .agg(F.max_by("o_orderpriority", F.col("o_orderkey")).alias("prio"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("state_ts"),
            "prio",
        )
    )
    probe = li.join(
        o.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ship_ts"),
    )
    matched = asof_join(
        probe,
        dim,
        on="custkey",
        left_ts="ship_ts",
        right_ts="state_ts",
        value_cols=["prio"],
    )
    return matched.groupBy(F.col("prio_asof").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_items")
    )


@query(
    "scd2_snapshot_as_of",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             LAG(o_orderpriority) OVER w AS prev_p
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    ),
    scd AS (
      SELECT o_custkey AS custkey,
             o_orderpriority AS priority,
             strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
             COALESCE(strftime(LEAD(o_orderdate) OVER v, '%Y-%m-%d'),
                      '9999-12-31') AS valid_to
      FROM changes
      WINDOW v AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT custkey, priority, valid_from
    FROM scd
    WHERE valid_from <= '1996-07-01' AND '1996-07-01' < valid_to
    """,
)
def scd2_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SNAPSHOT over the SCD2 dimension — the time-travel
    read every slowly-changing dimension exists for: each customer's
    priority AS OF 1996-07-01, i.e. the one interval containing the
    snapshot date. Consumes the certified `scd2_priority_intervals`
    table; the snapshot is a single narrow filter on the interval
    bounds (ISO-8601 strings compare lexicographically = by date), so
    at scale this reads the materialized SCD2 artifact — never the
    order history — exactly like `join_point_in_time_priority` but for
    the whole population at one instant instead of per-event instants.
    """
    scd = scd2_priority_intervals(spark, sf_dir)
    d = F.lit("1996-07-01")
    return scd.filter(
        (F.col("valid_from") <= d) & (d < F.col("valid_to"))
    ).select("custkey", "priority", "valid_from")
