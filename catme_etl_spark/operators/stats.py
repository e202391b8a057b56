"""Statistical aggregates (SURVEY §2.4 EXT): correlation, covariance,
dispersion, and shape moments over the fact tables.

The reference computes no statistics of any kind (its only reductions
are row counts and byte sizes, `unified_code.py:187,380-388`); this is
driver-contract query surface.

Cross-engine float discipline: these are ratio-of-moments quantities,
so exact integer-cents tricks don't apply. Both engines accumulate
doubles in (potentially) different orders, giving ~1e-12 relative
drift — ROUND(…, 3) leaves ≥9 orders of magnitude of margin.
Definitional parity matters more: Spark's ``skewness`` is the
*population* g1 = m3/m2^1.5 while DuckDB's is the *sample*-adjusted
G1 = g1·√(n(n−1))/(n−2); the oracle converts explicitly rather than
pretending they're the same function. The oracle's ``+ 0.0`` maps IEEE
−0.0 to +0.0: DuckDB's ROUND preserves the sign of zero, Spark's does
not, and a near-zero correlation rounds to signed zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, half_up, money_sum
from ..functions.texttools import hex_prefix_long, sql_hex_long
from ..sources.tables import load_table
from ._shared import maybe_broadcast
from .registry import query


@query(
    "agg_stats_lineitem_by_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 3) + 0.0 AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 3) + 0.0 AS covar_qty_price,
           ROUND(stddev_samp(l_extendedprice), 3) + 0.0 AS std_price,
           ROUND(var_samp(l_quantity), 3) + 0.0 AS var_qty,
           ROUND(skewness(l_extendedprice)
                 * (COUNT(*) - 2)
                 / sqrt(COUNT(*) * (COUNT(*) - 1.0)), 3) + 0.0 AS skew_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats_lineitem_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag second/third-moment statistics in ONE hash-agg pass —
    Spark's moment aggregates are single-pass streaming (Welford-style)
    with map-side partials, so a 100-TB scan shuffles one small moment
    state per group, never raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 3).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 3).alias("std_price"),
            F.round(F.var_samp("l_quantity"), 3).alias("var_qty"),
            # Spark skewness = population g1; DuckDB converts on its side
            F.round(F.skewness("l_extendedprice"), 3).alias("skew_price"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count states (SURVEY §2.4 EXT): the pre-aggregation
# pattern behind every 100 TB dashboard — partial states that REAGGREGATE
# across days/partitions, where COUNT(DISTINCT) would need the raw rows
# again.
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type from mergeable bitmap
    partials: day-level bitmaps (`bitmap_construct_agg` over
    `bitmap_bit_position`, bucketed by `bitmap_bucket_number`) are
    OR-merged across days, then `bitmap_count` + sum gives the exact
    total. One scan, three strictly-shrinking shuffles
    (type×day×bucket partials → type×bucket merge → type sum).

    Why this matters at 100 TB: the day-level bitmap table is a tiny
    materializable artifact that answers distinct-count queries over
    ANY date range by re-merging — COUNT(DISTINCT) forces a full
    rescan of raw events per question. Exactness (unlike HLL) makes it
    oracle-checkable end to end."""
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bkt"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    per_bkt = partial.groupBy("event_type", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("n_bkt")
    )
    return per_bkt.groupBy("event_type").agg(
        F.sum("n_bkt").cast("long").alias("distinct_users")
    )


@query(
    "agg_hll_union_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bounds
    FROM events GROUP BY event_type
    """,
)
def agg_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches `hll_sketch_agg`): one
    sketch per (event_type, day), `hll_union_agg`-merged to a per-type
    estimate — the approximate sibling of the bitmap rollup for key
    spaces too wide for bitmaps. Validated like
    `agg_approx_distinct_bounds`: the output carries the exact count
    (oracle-matched) plus a boolean asserting the merged estimate
    lands within 5% — the sketch value is engine-specific but
    deterministic, so estimator drift hash-mismatches instead of
    hiding behind a rows-only check. The exact branch rescans events
    by construction (that is the point being demonstrated: the sketch
    table answers without the rescan)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_bounds"),
    )


@query(
    "agg_entropy_lang_by_source",
    oracle="""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           ROUND(log2(CAST(SUM(n) AS DOUBLE))
                 - SUM(n * log2(CAST(n AS DOUBLE)))
                   / CAST(SUM(n) AS DOUBLE), 4) + 0.0
             AS lang_entropy
    FROM c GROUP BY source
    """,
)
def agg_entropy_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of the language distribution inside each
    source — the corpus-diversity number a data-mixing run monitors
    (a source collapsing to one language shows up as entropy → 0
    before the doc counts move).

    Uses the closed form H = log2(Σn) − (Σ n·log2 n)/Σn, which needs
    the per-stratum counts only — TWO cascaded hash-aggs, no join back
    for the total (the naive p·log2 p form costs an extra shuffle +
    join to attach Σn first). Raw rows shuffle once as (source, lang)
    partial counts; everything after is count-row-sized. The ``+ 0.0``
    maps IEEE −0.0 → +0.0 for single-language sources (the closed form
    yields exactly log2(n) − log2(n) there; Spark's ROUND normalizes
    signed zero, DuckDB's preserves it)."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").cast("double")
    return c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(
            F.log2(tot) - F.sum(F.col("n") * F.log2(F.col("n"))) / tot, 4
        ).alias("lang_entropy"),
    )


@query(
    "agg_mode_priority_by_status",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY n DESC, o_orderpriority DESC) AS rn
      FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           n AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group. Engine-builtin ``mode()`` leaves
    ties unspecified (Spark picks an arbitrary winner, DuckDB its own),
    so cross-engine the tie MUST be broken explicitly: the mode here is
    argmax over the lexicographic pair (count, value) — most frequent,
    ties to the greatest value — computed as ``max(struct(n, v))``,
    one extra hash-agg over the tiny count table. Struct-max is a
    mergeable aggregate, so at 100 TB this is two map-side-combined
    shuffles of count rows, never raw rows."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = c.groupBy("o_orderstatus").agg(
        F.max(F.struct(F.col("n"), F.col("o_orderpriority"))).alias("_m")
    )
    return m.select(
        "o_orderstatus",
        F.col("_m.o_orderpriority").alias("mode_priority"),
        F.col("_m.n").alias("mode_count"),
    )


@query(
    "agg_minmax_by_customer_per_nation",
    oracle="""
    WITH r AS (
      SELECT c_nationkey, c_name,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rhi,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal ASC, c_custkey ASC) AS rlo
      FROM customer
    )
    SELECT c_nationkey,
           MAX(CASE WHEN rhi = 1 THEN c_name END) AS richest,
           MAX(CASE WHEN rlo = 1 THEN c_name END) AS poorest
    FROM r GROUP BY c_nationkey
    """,
)
def agg_minmax_by_customer_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``max_by`` / ``min_by`` (argmax/argmin) with a deterministic
    composite ordering: the richest and poorest customer name per
    nation, ties broken by custkey via struct comparison. One hash-agg
    carrying a constant-size (ordering, value) state per group — the
    single-pass argmax a 100 TB scan wants, vs. the oracle's
    two-window formulation which would sort every partition."""
    c = load_table(spark, sf_dir, "customer")
    key = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
    )


@query(
    "agg_histogram_extprice_bins",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bin,
           COUNT(*) AS n_items,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS sum_price
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram_extprice_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (5000-dollar bins) of extended price with
    per-bin exact money totals — the profiling pass that sizes
    skew-handling and partition budgets before a heavy job. One
    hash-agg over ~21 bins; FLOOR of an IEEE division is bit-identical
    cross-engine, and the sum uses the integer-cents discipline
    (functions/money.py) so bin totals never flake at rounding
    boundaries."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "agg_welch_ttest_click_view",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE)::VARCHAR AS day,
           COUNT(*) FILTER (event_type = 'click') AS n_click,
           COUNT(*) FILTER (event_type = 'view') AS n_view,
           ROUND(AVG(value) FILTER (event_type = 'click'), 3) + 0.0
             AS mean_click,
           ROUND(AVG(value) FILTER (event_type = 'view'), 3) + 0.0
             AS mean_view,
           ROUND((AVG(value) FILTER (event_type = 'click')
                  - AVG(value) FILTER (event_type = 'view'))
                 / sqrt(VAR_SAMP(value) FILTER (event_type = 'click')
                          / COUNT(*) FILTER (event_type = 'click')
                        + VAR_SAMP(value) FILTER (event_type = 'view')
                          / COUNT(*) FILTER (event_type = 'view')),
                 3) + 0.0 AS welch_t
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY 1
    """,
)
def agg_welch_ttest_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic (unequal-variance two-sample test) between
    click and view values per day — the A/B-experiment readout, as ONE
    conditional hash-agg: each group's (n, mean, var) comes from
    FILTER-style conditional aggregates in a single pass, so the scan
    never runs twice and only constant-size moment states shuffle.
    The t denominator combines per-group variances (Welch), computed
    identically from the same moments in both engines; ROUND(3) + the
    signed-zero guard absorb accumulation-order drift."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    n_c, n_v = F.count(click), F.count(view)
    m_c, m_v = F.avg(click), F.avg(view)
    v_c, v_v = F.var_samp(click), F.var_samp(view)
    t = (m_c - m_v) / F.sqrt(v_c / n_c + v_v / n_v)
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        n_c.alias("n_click"),
        n_v.alias("n_view"),
        F.round(m_c, 3).alias("mean_click"),
        F.round(m_v, 3).alias("mean_view"),
        F.round(t, 3).alias("welch_t"),
    )


@query(
    "agg_gini_order_concentration",
    oracle="""
    WITH s AS (
      SELECT c.c_nationkey, o.o_custkey,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY x, o_custkey) AS rk
      FROM s
    )
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           ROUND(2.0 * SUM(CAST(rk AS DOUBLE) * x)
                   / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
                 - (COUNT(*) + 1.0) / COUNT(*), 4) + 0.0 AS gini
    FROM r GROUP BY c_nationkey
    """,
)
def agg_gini_order_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of order spend per nation — the revenue-
    concentration number (0 = everyone spends equally, →1 = one
    customer is the book). Uses the rank formulation
    G = 2·Σ r_i·x_i / (n·Σx) − (n+1)/n over integer-cents totals: one
    keyed window rank + one hash-agg, both on the nation partitioning,
    so a single shuffle of per-customer totals. Σ r·x accumulates as
    double (order-dependent); ROUND(4) absorbs the ~1e-15 drift."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("x"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "o_custkey")
    r = s.select("*", F.row_number().over(w).alias("rk"))
    n = F.count(F.lit(1))
    return r.groupBy("c_nationkey").agg(
        n.alias("n_customers"),
        F.round(
            2.0
            * F.sum(F.col("rk").cast("double") * F.col("x"))
            / (n * F.sum("x").cast("double"))
            - (n + 1.0) / n,
            4,
        ).alias("gini"),
    )


@query(
    "agg_cms_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS exact_cnt
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY exact_cnt DESC, user_id ASC) AS rk
      FROM c
    )
    SELECT event_type, CAST(rk AS INTEGER) AS rk, user_id, exact_cnt,
           TRUE AS within_bounds
    FROM r WHERE rk <= 3
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters — the FREQUENCY member of the
    mergeable-sketch family (bitmap = exact distinct, HLL = approx
    distinct, t-digest = percentile, CMS = per-item counts): one
    ``count_min_sketch`` aggregate per event type (map-side mergeable,
    O(KB) state), then the per-series top-3 users' exact counts are
    checked against the sketch's point estimates via the pure-Python
    reader for the public CountMinSketch serialization
    (``functions/cms.py`` — no private ``_jvm`` gateway). Validated
    like `agg_hll_union_rollup`: the output carries the exact counts
    (oracle-matched) plus a boolean asserting the CMS guarantee
    exact ≤ est ≤ exact + ⌈eps·N⌉ — a drifting sketch hash-mismatches
    instead of hiding behind a rows-only check.

    The two driver collects are the tiny aggregate tables (|types|
    sketch rows, 3·|types| candidate rows), both budget-enforced — at
    100 TB the sketch table IS the point: it answers "how often does
    item x occur" for any x from kilobytes of state, no rescan."""
    from ._shared import bounded_collect

    eps, conf, seed = 0.001, 0.99, 42
    ev = load_table(spark, sf_dir, "events")
    sk_rows = bounded_collect(
        ev.groupBy("event_type").agg(
            F.count_min_sketch(
                "user_id", F.lit(eps), F.lit(conf), F.lit(seed)
            ).alias("sk"),
            F.count(F.lit(1)).alias("n"),
        ),
        what="CMS sketch table (one row per event type)",
    )
    top = bounded_collect(
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .select(
            "*",
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy(
                    F.col("exact_cnt").desc(), F.col("user_id").asc()
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") <= 3),
        what="per-type top-3 heavy-hitter candidates",
    )
    import math

    from ..functions.cms import CountMinSketch

    readers = {
        r.event_type: (CountMinSketch.from_bytes(bytes(r.sk)), r.n)
        for r in sk_rows
    }
    out = []
    for t in top:
        cms, n = readers[t.event_type]
        est = cms.estimate_count(t.user_id)
        ok = t.exact_cnt <= est <= t.exact_cnt + math.ceil(eps * n)
        out.append((t.event_type, int(t.rk), t.user_id, t.exact_cnt, ok))
    return spark.createDataFrame(
        out,
        "event_type string, rk int, user_id long, exact_cnt long, "
        "within_bounds boolean",
    )


@query(
    "agg_ks_drift_halves",
    oracle="""
    WITH bounds AS (
      SELECT (MIN(CAST(floor(epoch(ts)) AS BIGINT))
              + MAX(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0 AS mid
      FROM events WHERE value IS NOT NULL
    ),
    grid AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             COUNT(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < mid
                        THEN 1 END) AS na,
             COUNT(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= mid
                        THEN 1 END) AS nb
      FROM events, bounds
      WHERE value IS NOT NULL
      GROUP BY event_type, vc
    ),
    cum AS (
      SELECT event_type,
             SUM(na) OVER (PARTITION BY event_type ORDER BY vc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ca,
             SUM(nb) OVER (PARTITION BY event_type ORDER BY vc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cb,
             SUM(na) OVER (PARTITION BY event_type) AS ta,
             SUM(nb) OVER (PARTITION BY event_type) AS tb
      FROM grid
    )
    SELECT event_type,
           CAST(MAX(ta) AS BIGINT) AS n_a,
           CAST(MAX(tb) AS BIGINT) AS n_b,
           floor(MAX(ABS(CAST(ca AS DOUBLE) / ta
                         - CAST(cb AS DOUBLE) / tb)) * 1000000 + 0.5)
             / 1000000 AS ks_d
    FROM cum
    GROUP BY event_type
    HAVING MAX(ta) > 0 AND MAX(tb) > 0
    """,
)
def agg_ks_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event type,
    comparing the value distribution of the first half of the time
    range against the second half — the standard "did my feature
    distribution drift?" monitor for a training-data pipeline.

    The ECDF difference is evaluated on the collapsed (type, cent)
    grid, not per event: one hash-agg reduces N events to distinct
    cent values with per-half counts, then a keyed cumulative window
    (partitioned by type — the natural stratum at scale) walks each
    grid once. Types with an EMPTY half are dropped on both engines
    (a 0 denominator is NULL in Spark but inf/NaN under DuckDB's IEEE
    float ops — the one divergence class a skewed fixture could hit). Integer cents make the grid key and the tie-handling
    (both ECDFs step together at equal values) identical across
    engines; the final D is a pure ratio of exact integers, rounded.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = e.agg(
        ((F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))) / 2.0)
        .alias("mid")
    )
    grid = (
        e.join(F.broadcast(bounds))
        .select(
            "event_type",
            cents("value").alias("vc"),
            (F.unix_timestamp("ts") < F.col("mid")).alias("is_a"),
        )
        .groupBy("event_type", "vc")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).alias("na"),
            F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        )
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("event_type")
    c = grid.select(
        "event_type",
        F.sum("na").over(cum_w).alias("ca"),
        F.sum("nb").over(cum_w).alias("cb"),
        F.sum("na").over(tot_w).alias("ta"),
        F.sum("nb").over(tot_w).alias("tb"),
    )
    # empty-half guard BEFORE the ratio (ANSI mode makes x/0 an error,
    # not NULL): ta/tb are group constants, so dropping their rows here
    # is exactly the oracle's HAVING on the aggregated totals
    c = c.filter((F.col("ta") > 0) & (F.col("tb") > 0))
    return c.groupBy("event_type").agg(
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
        # half-away on the binary double (see ts_interpolate_linear)
        half_up(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            ),
            6,
        ).alias("ks_d"),
    )


@query(
    "agg_chi2_independence",
    oracle="""
    WITH cell AS (
      SELECT event_type, user_id % 4 AS ub, COUNT(*) AS o
      FROM events GROUP BY event_type, ub
    ),
    rt AS (SELECT event_type, SUM(o) AS r FROM cell GROUP BY event_type),
    ct AS (SELECT ub, SUM(o) AS c FROM cell GROUP BY ub),
    n AS (SELECT SUM(o) AS n FROM cell)
    SELECT cell.event_type, cell.ub,
           CAST(o AS BIGINT) AS n_obs,
           ROUND(CAST(r AS DOUBLE) * c / n, 4) AS n_exp,
           ROUND(POW(o - CAST(r AS DOUBLE) * c / n, 2)
                 / (CAST(r AS DOUBLE) * c / n), 6) AS chi2_term
    FROM cell
    JOIN rt ON rt.event_type = cell.event_type
    JOIN ct ON ct.ub = cell.ub, n
    """,
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event_type × user-bucket
    contingency table (buckets = user_id mod 4) — "does behavior vary
    by cohort?", the categorical sibling of the Welch-t and KS tests in
    this module. Emits the full per-cell decomposition (observed,
    expected under independence, chi-square contribution) so the
    offending cells are visible, not just the statistic.

    One hash-agg collapses events to |types|×4 cells; the row/column/
    grand totals re-aggregate those cells (count-row-sized shuffles)
    and attach via broadcast joins. Expected counts are ratios of
    exact integers — deterministic doubles into one final ROUND.
    """
    e = load_table(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(4)).alias("ub")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("ub").agg(F.sum("o").alias("c"))
    n = cell.agg(F.sum("o").alias("n"))
    e_ = F.col("r").cast("double") * F.col("c") / F.col("n")
    return (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "ub")
        .join(F.broadcast(n))
        .select(
            "event_type",
            "ub",
            F.col("o").cast("long").alias("n_obs"),
            F.round(e_, 4).alias("n_exp"),
            F.round(F.pow(F.col("o") - e_, 2) / e_, 6).alias("chi2_term"),
        )
    )


@query(
    "agg_mann_whitney_u",
    oracle="""
    WITH grid AS (
      SELECT ((CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7) + 7) % 7 AS dow,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS na,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS nb
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
      GROUP BY dow, vc
    ),
    cum AS (
      SELECT dow, vc, na, nb,
             SUM(na + nb) OVER (PARTITION BY dow ORDER BY vc
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - (na + nb) AS cbefore
      FROM grid
    ),
    agg AS (
      SELECT dow,
             CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             CAST(SUM(na * (2 * cbefore + na + nb + 1)) AS BIGINT) AS ra2
      FROM cum GROUP BY dow
    )
    SELECT dow, n_a, n_b,
           (ra2 - n_a * (n_a + 1)) / 2.0 AS u_a,
           floor(((ra2 - n_a * (n_a + 1)) / 2.0 / n_a / n_b) * 1000000
                 + 0.5) / 1000000 AS auc
    FROM agg
    WHERE n_a > 0 AND n_b > 0
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test per epoch-day-mod-7 stratum
    (a tz-free weekday proxy — calendar DOW numbering differs between
    engines): do
    'click' and 'view' events draw their values from the same
    distribution? The nonparametric sibling of the Welch t-test (no
    normality assumption) — U/(n_a·n_b) is the AUC: P(click value >
    view value), the effect size a drift monitor actually thresholds.

    Exact-integer rank arithmetic: midranks over the collapsed
    (stratum, cent) grid give 2·R_A = Σ na_v·(2·C_<v + t_v + 1) — a
    pure int64 sum (ties handled by construction), so U and AUC are
    ratios of exact integers, bit-identical cross-engine into the
    final half-away floor-round. Same shape as the KS statistic: one
    hash-agg to the grid, one keyed cumulative window over grid rows,
    one final agg — raw events shuffle once.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    )
    grid = (
        e.select(
            F.pmod(
                F.floor(F.unix_timestamp("ts") / 86400).cast("long"), F.lit(7)
            ).alias("dow"),
            cents("value").alias("vc"),
            (F.col("event_type") == "click").alias("is_a"),
        )
        .groupBy("dow", "vc")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).alias("na"),
            F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        )
    )
    cum_w = (
        Window.partitionBy("dow")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "dow",
        "na",
        "nb",
        (F.sum(F.col("na") + F.col("nb")).over(cum_w) - F.col("na") - F.col("nb"))
        .alias("cbefore"),
    )
    agg = cum.groupBy("dow").agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            F.col("na") * (2 * F.col("cbefore") + F.col("na") + F.col("nb") + 1)
        )
        .cast("long")
        .alias("ra2"),
    )
    u_a = (F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1)) / 2.0
    # strata missing one group are dropped on both engines (0
    # denominator: NULL in Spark, inf/NaN under DuckDB IEEE floats)
    agg = agg.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    return agg.select(
        "dow",
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        half_up(u_a / F.col("n_a") / F.col("n_b"), 6).alias("auc"),
    )


@query(
    "agg_trend_regression",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(regr_slope(value, floor(epoch(ts)) - 1700000000) * 86400, 3)
             + 0.0 AS slope_per_day,
           ROUND(regr_intercept(value, floor(epoch(ts)) - 1700000000), 3)
             + 0.0 AS intercept,
           ROUND(regr_r2(value, floor(epoch(ts)) - 1700000000), 4) + 0.0 AS r2
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def agg_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of value over time in ONE streaming aggregate
    pass — `regr_slope/intercept/r2` are moment aggregates (like
    corr/covar) with map-side partials, so the trend monitor costs a
    single scan at any size: the "is this metric drifting and how
    fast" readout, reported as dollars-per-day.

    The time axis is epoch seconds re-centered near the data (−1.7e9)
    BEFORE the moments: x² sums of raw 1.7e9-scale epochs eat ~19 of
    the 53 mantissa bits and the slope's catastrophic cancellation
    amplifies engine-order drift above the rounding grid — recentering
    keeps x ~1e6 so cross-engine drift stays ~1e-10 under ROUND(…, 3).
    The moment-family float discipline (module docstring) applies:
    ratio-of-moments quantities, rounded once, signed zero normalized.

    The oracle floors ``epoch(ts)`` because Spark's
    ``unix_timestamp`` truncates to seconds — same x by definition on
    both engines (the repo's floor(epoch) rule).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = (F.unix_timestamp("ts") - F.lit(1_700_000_000)).cast("double")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.regr_slope("value", x) * 86400, 3) + F.lit(0.0)).alias(
            "slope_per_day"
        ),
        (F.round(F.regr_intercept("value", x), 3) + F.lit(0.0)).alias(
            "intercept"
        ),
        (F.round(F.regr_r2("value", x), 4) + F.lit(0.0)).alias("r2"),
    )


@query(
    "agg_seasonality_strength",
    oracle="""
    WITH g AS (
      SELECT event_type,
             ((CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24) + 24) % 24 AS h,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS ss
      FROM events
      WHERE value IS NOT NULL
      GROUP BY event_type, h
    ),
    t AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS st,
             CAST(SUM(ss) AS BIGINT) AS sst,
             SUM(CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sse_w
      FROM g GROUP BY event_type
    ),
    peak AS (
      SELECT event_type, h AS peak_hour
      FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (
                 PARTITION BY event_type
                 ORDER BY floor((CAST(s AS DOUBLE) / n / 100.0) * 10000
                                + 0.5) DESC, h) AS rn
        FROM g
      ) WHERE rn = 1
    )
    SELECT t.event_type, nn AS n,
           CASE WHEN (CAST(sst AS DOUBLE)
                      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nn) > 0
                THEN floor((1.0 - sse_w
                             / (CAST(sst AS DOUBLE)
                                - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nn))
                      * 10000 + 0.5) / 10000
           END AS eta_sq,
           peak.peak_hour
    FROM t JOIN peak ON peak.event_type = t.event_type
    """,
)
def agg_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type: η² = the share
    of value variance explained by the 24-hour profile (1 − within-
    hour SSE / total SSE), plus the peak hour — the diagnostic that
    says whether the seasonal-naive baseline (`ts_seasonal_naive_
    backtest`) should work at all (η² ≈ 0 ⇒ no daily rhythm to
    exploit; η² → 1 ⇒ the hour label alone predicts the value).

    One hash-agg collapses events to 24×|types| exact-integer moment
    rows (n, Σcents, Σcents²); everything after is ANOVA arithmetic on
    those integers, cast to double at the same points in both engines
    (the per-group s² crosses int64 range, so the squaring is
    double-side on both). Hours are epoch-hour mod 24 — tz-free. One
    half-away rounding on η² and on the peak-hour ordering key.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vc = cents("value")
    g = e.groupBy(
        "event_type",
        F.pmod(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long"), F.lit(24)
        ).alias("h"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).alias("s"),
        F.sum(vc * vc).alias("ss"),
    )
    sse_w_term = F.col("ss").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("n")
    mean_r = F.floor(
        (F.col("s").cast("double") / F.col("n") / 100.0) * 10000 + F.lit(0.5)
    )
    t = g.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(sse_w_term).alias("sse_w"),
        F.max_by("h", F.array(mean_r, (-F.col("h")).cast("double"))).alias(
            "peak_hour"
        ),
    )
    sse_t = F.col("sst").cast("double") - F.col("st").cast("double") * F.col(
        "st"
    ).cast("double") / F.col("nn")
    return t.select(
        "event_type",
        F.col("nn").alias("n"),
        # sse_t = 0 (all values identical) -> NULL on both engines;
        # matches the oracle's CASE guard
        F.when(
            sse_t > 0,
            half_up(1.0 - F.col("sse_w") / sse_t, 4),
        ).alias("eta_sq"),
        "peak_hour",
    )


@query(
    "agg_weighted_median_price",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS w
      FROM lineitem GROUP BY l_returnflag, pc
    ),
    c AS (
      SELECT l_returnflag, pc,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY pc
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g
    )
    SELECT l_returnflag,
           CAST(MAX(tw) AS BIGINT) AS total_qty,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN pc END) AS BIGINT) / 100.0
             AS wmedian_price
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median price per return flag — "the price at
    which half the shipped units were cheaper": the inventory-weighted
    location statistic a plain median (one vote per line) misstates
    whenever order sizes correlate with price.

    Exact and deterministic by construction: weights collapse onto the
    integer-cent price grid (one hash-agg), a keyed cumulative window
    walks each flag's grid once, and the weighted median is the
    smallest price whose cumulative weight reaches half the total
    (lower weighted median — a pure integer comparison, no
    interpolation to disagree on). Same shape as the KS/Mann-Whitney
    grid walks; at 100 TB the grid is |distinct prices| per flag, not
    |rows|.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    ).agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("w"))
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "pc",
        F.sum("w").over(cum_w).alias("cw"),
        F.sum("w").over(tot_w).alias("tw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.max("tw").cast("long").alias("total_qty"),
        (
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("pc")))
            .cast("long")
            / 100.0
        ).alias("wmedian_price"),
    )


@query(
    "agg_hhi_market_concentration",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey, o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS r
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    t AS (
      SELECT c_nationkey,
             COUNT(*) AS n_customers,
             CAST(SUM(r) AS BIGINT) AS tot
      FROM rev GROUP BY c_nationkey
    )
    SELECT rev.c_nationkey,
           CAST(MAX(n_customers) AS BIGINT) AS n_customers,
           floor(SUM((CAST(r AS DOUBLE) / tot) * (CAST(r AS DOUBLE) / tot))
                 * 1000000 + 0.5) / 1000000 AS hhi
    FROM rev JOIN t ON t.c_nationkey = rev.c_nationkey
    GROUP BY rev.c_nationkey
    """,
)
def agg_hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of customer revenue concentration per
    nation — Σ share² over each nation's customers, the antitrust-
    grade concentration number completing the inequality family (Gini
    coefficient, Pareto deciles): HHI → 1/n means revenue spread
    evenly, HHI → 1 means one customer IS the market.

    Exact integer cents aggregate to per-customer revenue; shares are
    exact-int ratios; the share² sum accumulates ≤ |customers-per-
    nation| doubles (drift ~1e-13 against a 1e-6 rounding grid). Two
    cascaded hash-aggs + one broadcast total attach — never a window,
    never a second scan of orders.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(maybe_broadcast(c, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("r"))
    )
    t = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("r").cast("long").alias("tot"),
    )
    share = F.col("r").cast("double") / F.col("tot")
    return (
        rev.join(F.broadcast(t), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.max("n_customers").cast("long").alias("n_customers"),
            half_up(F.sum(share * share), 6).alias("hhi"),
        )
    )


@query(
    "agg_theil_index",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey, o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    t AS (
      SELECT c_nationkey, COUNT(*) AS n, CAST(SUM(r) AS BIGINT) AS tot
      FROM rev GROUP BY c_nationkey
    )
    SELECT rev.c_nationkey,
           CAST(MAX(t.n) AS BIGINT) AS n_customers,
           floor(SUM((CAST(r AS DOUBLE) * t.n / tot)
                     * ln(CAST(r AS DOUBLE) * t.n / tot)) / MAX(t.n)
                 * 1000000 + 0.5) / 1000000 AS theil_t
    FROM rev JOIN t ON t.c_nationkey = rev.c_nationkey
    GROUP BY rev.c_nationkey
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer-revenue inequality per nation —
    Σ (x/μ)·ln(x/μ) / n, completing the inequality family (Gini:
    rank-based; HHI: share-squared; Pareto deciles: tail mass) with
    the DECOMPOSABLE entropy measure: unlike Gini, Theil splits
    exactly into within-group + between-group terms, which is why
    income-distribution and corpus-concentration monitors prefer it
    for drill-down.

    Plan shape mirrors `agg_hhi_market_concentration`: exact-cents
    per-customer roll-up (size-gated customer broadcast), per-nation
    totals re-attached as a tiny broadcast, one more hash-agg. The
    x/μ ratio is computed with the identical op order on both engines
    (r·n/tot); ln of the shared double is the same libm call class as
    the certified entropy/logprob queries; one half-away 1e-6 round.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(maybe_broadcast(c, sf_dir, "customer"),
               F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("r"))
    )
    t = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").cast("long").alias("tot"),
    )
    ratio = F.col("r").cast("double") * F.col("n") / F.col("tot")
    return (
        rev.join(F.broadcast(t), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            half_up(F.sum(ratio * F.log(ratio)) / F.max("n"), 6).alias("theil_t"),
        )
    )


@query(
    "agg_pareto_alpha_hill",
    oracle="""
    WITH tail AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders WHERE o_totalprice > 50000.0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           floor((COUNT(*) / SUM(ln(CAST(pc AS DOUBLE) / 5000000.0)))
                 * 10000 + 0.5) / 10000 AS alpha_hill
    FROM tail GROUP BY o_orderpriority
    """,
)
def agg_pareto_alpha_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail exponent of order values
    per priority class: α = n / Σ ln(xᵢ/x_min) over the tail above a
    fixed threshold ($50k). The quantitative sibling of
    `events_pareto_user_deciles` — instead of reporting tail MASS, it
    fits the tail SHAPE, the number that says whether "top 1% of
    orders carries X%" will keep holding as the corpus grows (α ≤ 2 ⇒
    unbounded variance ⇒ plan for whales).

    A fixed threshold (not an order statistic) keeps the estimator a
    single filtered hash-agg — no global sort, no per-group top-k; the
    filter pushes to the parquet scan. ln runs on exact-integer cents
    over the shared constant, one half-away 1e-4 round.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 50000.0
    )
    pc = cents("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        half_up(
            F.count(F.lit(1)) / F.sum(F.log(pc.cast("double") / 5000000.0)), 4
        ).alias("alpha_hill"),
    )


@query(
    "agg_winsorized_mean_price",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             COUNT(*) AS k
      FROM lineitem GROUP BY l_returnflag, pc
    ),
    c AS (
      SELECT l_returnflag, pc, k,
             SUM(k) OVER (PARTITION BY l_returnflag ORDER BY pc
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ck,
             SUM(k) OVER (PARTITION BY l_returnflag) AS tk
      FROM g
    ),
    b AS (
      SELECT l_returnflag,
             CAST(MAX(tk) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN 20 * ck >= tk THEN pc END) AS BIGINT) AS lo,
             CAST(MIN(CASE WHEN 20 * ck >= 19 * tk THEN pc END) AS BIGINT)
               AS hi
      FROM c GROUP BY l_returnflag
    )
    SELECT g.l_returnflag, b.n,
           b.lo / 100.0 AS p05,
           b.hi / 100.0 AS p95,
           floor((CAST(SUM(LEAST(GREATEST(g.pc, b.lo), b.hi) * g.k)
                       AS DOUBLE) / b.n / 100.0) * 10000 + 0.5) / 10000
             AS winsorized_mean
    FROM g JOIN b ON b.l_returnflag = g.l_returnflag
    GROUP BY g.l_returnflag, b.n, b.lo, b.hi
    """,
)
def agg_winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean price per return flag — the robust location
    estimate that survives fat tails by CLIPPING (not dropping) values
    at the exact lower p05/p95: the reporting-grade mean for
    whale-heavy money columns, pairing with the MAD/IQR outlier audits
    (which FLAG tails) and `agg_weighted_median_price` (which ignores
    them entirely).

    Same exact integer-cent grid walk as the weighted median (one
    hash-agg to the price grid, keyed cumulative window, lower-
    quantile rule 20·ck ≥ tk / 20·ck ≥ 19·tk — pure integer
    comparisons), then one broadcast of the 3-value bounds row back
    onto the grid for the clipped sum — the raw table shuffles once,
    clipping arithmetic is exact int64, one half-away 1e-4 round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        "l_returnflag", cents("l_extendedprice").alias("pc")
    ).agg(F.count(F.lit(1)).alias("k"))
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "pc",
        "k",
        F.sum("k").over(cum_w).alias("ck"),
        F.sum("k").over(tot_w).alias("tk"),
    )
    b = c.groupBy("l_returnflag").agg(
        F.max("tk").cast("long").alias("n"),
        F.min(F.when(20 * F.col("ck") >= F.col("tk"), F.col("pc")))
        .cast("long")
        .alias("lo"),
        F.min(F.when(20 * F.col("ck") >= 19 * F.col("tk"), F.col("pc")))
        .cast("long")
        .alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("pc"), F.col("lo")), F.col("hi"))
    return (
        g.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag", "n", "lo", "hi")
        .agg(
            half_up(
                F.sum(clipped * F.col("k")).cast("double") / F.col("n") / 100.0, 4
            ).alias("winsorized_mean")
        )
        .select(
            "l_returnflag",
            "n",
            (F.col("lo") / 100.0).alias("p05"),
            (F.col("hi") / 100.0).alias("p95"),
            "winsorized_mean",
        )
    )


@query(
    "agg_join_cardinality_audit",
    oracle="""
    WITH ok AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_o
      FROM orders GROUP BY 1
    ),
    lk AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_l
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT ok.k, n_o * n_l AS prod,
             {bkt} % 10 AS bkt
      FROM ok JOIN lk USING (k)
    ),
    agg AS (
      SELECT CAST(SUM(prod) AS BIGINT) AS predicted_rows,
             CAST(SUM(prod) FILTER (bkt = 0) * 10 AS BIGINT)
               AS sampled_est_rows
      FROM j
    ),
    act AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT predicted_rows, actual_rows, sampled_est_rows,
           CAST(floor(abs(sampled_est_rows - actual_rows) * 10000.0
                      / actual_rows + 0.5) AS BIGINT) AS sample_err_bp
    FROM agg, act
    """.format(bkt=sql_hex_long("md5(CAST(ok.k AS VARCHAR))", 14, 1)),
)
def agg_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-style join-cardinality estimation, audited against the
    join it predicts: |orders ⋈ lineitem| is (a) computed exactly from
    the two per-key count histograms (Σₖ n_o(k)·n_l(k) — the textbook
    formula a cost-based optimizer evaluates), (b) estimated from a
    deterministic 10% key sample scaled ×10 (what a planner does at
    100 TB, where full histograms are too big), and (c) measured by
    running the join. The output row carries all three plus the
    sample's error in basis points — so the estimator's accuracy is
    itself a certified, monitorable number.

    The histogram route never materializes the join: two
    map-side-combinable aggs on the join key, one co-partitioned
    key-to-key join (|keys| rows, not |rows|), one scalar agg. The
    actual-count leg is the real shuffle join, kept deliberately as
    the audit target. Sampling is md5-bucket-on-key — consistent
    (both sides keep the same keys), which is the property that makes
    the Σ n_o·n_l estimator unbiased under key sampling.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    ok = o.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_o"))
    lk = li.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_l"))
    j = ok.join(lk, "k").select(
        (F.col("n_o") * F.col("n_l")).alias("prod"),
        (hex_prefix_long(F.md5(F.col("k").cast("string")), 14, 1) % 10).alias(
            "bkt"
        ),
    )
    agg = j.agg(
        F.sum("prod").cast("long").alias("predicted_rows"),
        (F.sum(F.when(F.col("bkt") == 0, F.col("prod"))) * 10)
        .cast("long")
        .alias("sampled_est_rows"),
    )
    act = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("actual_rows"))
    )
    return agg.crossJoin(F.broadcast(act)).select(
        "predicted_rows",
        "actual_rows",
        "sampled_est_rows",
        F.floor(
            F.abs(F.col("sampled_est_rows") - F.col("actual_rows"))
            * 10000.0
            / F.col("actual_rows")
            + 0.5
        )
        .cast("long")
        .alias("sample_err_bp"),
    )


@query(
    "stats_kaplan_meier_churn",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MAX(floor(epoch(ts) * 1000000)) AS BIGINT) AS end_us
      FROM events
    ),
    u AS (
      SELECT user_id,
             CAST(MIN(floor(epoch(ts) * 1000000)) AS BIGINT) AS first_us,
             CAST(MAX(floor(epoch(ts) * 1000000)) AS BIGINT) AS last_us
      FROM events GROUP BY user_id
    ),
    life AS (
      SELECT (last_us - first_us) // 86400000000 AS t_days,
             CASE WHEN last_us <= end_us - 7 * 86400000000
                  THEN 1 ELSE 0 END AS died
      FROM u CROSS JOIN bounds
    ),
    g AS (
      SELECT t_days,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) - SUM(died) AS BIGINT) AS censored,
             CAST(COUNT(*) AS BIGINT) AS n_at_t
      FROM life GROUP BY t_days
    ),
    k AS (
      SELECT t_days, d, censored,
             CAST((SELECT COUNT(*) FROM life) AS BIGINT)
               - CAST(COALESCE(SUM(n_at_t) OVER (
                   ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
      FROM g
    )
    SELECT t_days, n_risk, d, censored,
           CASE WHEN SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_days) > 0
                THEN 0.0
                ELSE floor(exp(SUM(ln(CASE WHEN d >= n_risk THEN 1.0
                       ELSE CAST(n_risk - d AS DOUBLE) / n_risk END))
                       OVER (ORDER BY t_days)) * 10000 + 0.5) / 10000
           END AS survival
    FROM k
    """,
)
def stats_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between a
    user's first and last event), with the last 7 days of the timeline
    treated as the censoring horizon: a user still active inside that
    window hasn't churned — their lifetime is censored, which the
    naive "average lifetime" metric silently miscounts and the KM
    estimator handles correctly (censored users leave the risk set
    without contributing a death). S(t) = Π_{s≤t} (1 − d_s/n_s) over
    the observed day grid; the curve is the retention analyst's
    time-to-churn artifact.

    Scale shape: one per-user min/max hash-agg collapses the event
    stream to |users| rows; lifetimes collapse again to the day grid
    (bounded by the timeline span — require_bounded guards it), and
    the cumulative windows walk that tiny grid only. The scalar
    timeline end attaches as a 1-row broadcast.

    Float discipline: lifetimes, deaths, and risk counts are exact
    integers off the microsecond epoch grid (``floor(epoch)`` both
    engines); S(t) folds ln factors in the same ascending-t window
    order on both engines and rounds half-away at 4 decimals; the
    d == n terminal point short-circuits to exactly 0.0 before ln."""
    from pyspark.sql import Window

    from ._shared import require_bounded

    us = F.unix_micros("ts")
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max(us).alias("end_us"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"), F.max(us).alias("last_us")
    )
    day_us = 86_400_000_000
    life = u.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"(last_us - first_us) div {day_us}").alias("t_days"),
        F.when(
            F.col("last_us") <= F.col("end_us") - 7 * day_us, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("died"),
    )
    g = life.groupBy("t_days").agg(
        F.sum("died").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("died")).cast("long").alias("censored"),
        F.count(F.lit(1)).cast("long").alias("n_at_t"),
    )
    require_bounded(
        g,
        100_000,
        what="Kaplan-Meier day grid",
        hint=(
            "lifetimes span more than 100,000 distinct days (~274 "
            "years) — the events timeline has corrupt timestamps; "
            "clean them or coarsen the lifetime unit"
        ),
    )
    total = life.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wk = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = g.crossJoin(F.broadcast(total)).select(
        "t_days",
        "d",
        "censored",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at_t").over(wc), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    factor = F.when(F.col("d") >= F.col("n_risk"), F.lit(1.0)).otherwise(
        (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")
    )
    hit_zero = (
        F.sum(
            F.when(F.col("d") >= F.col("n_risk"), F.lit(1)).otherwise(F.lit(0))
        ).over(wk)
        > 0
    )
    survival = F.when(hit_zero, F.lit(0.0)).otherwise(
        half_up(F.exp(F.sum(F.log(factor)).over(wk)), 4)
    )
    return k.select(
        "t_days", "n_risk", "d", "censored", survival.alias("survival")
    )


@query(
    "agg_jackknife_mean_se",
    oracle=f"""
    WITH b AS (
      SELECT {sql_hex_long("md5(CAST(o_orderkey AS VARCHAR))", 14, 1)} % 10
               AS bkt,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    per AS (
      SELECT bkt, CAST(SUM(c) AS BIGINT) AS s_b,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM b GROUP BY bkt
    ),
    tot AS (
      SELECT CAST(SUM(s_b) AS BIGINT) AS s,
             CAST(SUM(n_b) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM per
    ),
    rep AS (
      SELECT CASE WHEN tot.n > per.n_b
                  THEN ((tot.s - per.s_b) * 10) // (tot.n - per.n_b)
                  ELSE CAST(error('jackknife undefined at B=1: all rows hash to one bucket')
                            AS BIGINT)
             END AS r
      FROM per CROSS JOIN tot
    ),
    agg AS (
      SELECT CAST(SUM(r) AS BIGINT) AS sr,
             CAST(SUM(r * r) AS BIGINT) AS ssq
      FROM rep
    ),
    raw AS (
      SELECT tot.n AS n_orders,
             floor(CAST(tot.s AS DOUBLE) / tot.n / 100 * 10000 + 0.5)
               / 10000 AS mean_total,
             floor(sqrt(CAST((tot.nb - 1) * (tot.nb * agg.ssq - agg.sr * agg.sr)
                             AS DOUBLE))
                   / tot.nb / 10 / 100 * 10000 + 0.5) / 10000 AS jk_se
      FROM tot CROSS JOIN agg
    )
    SELECT n_orders, mean_total, jk_se,
           floor((mean_total - 1.96 * jk_se) * 10000 + 0.5) / 10000 AS ci95_lo,
           floor((mean_total + 1.96 * jk_se) * 10000 + 0.5) / 10000 AS ci95_hi
    FROM raw
    """,
)
def agg_jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error of the mean order
    total — the error bar every fleet-scale mean should ship with,
    computed WITHOUT resampling the data: orders are hashed into 10
    deterministic buckets, each replicate mean leaves one bucket out,
    and the jackknife variance (B−1)/B·Σ(r_i−r̄)² prices the estimate's
    stability. One pass, mergeable, no RNG — the distributed answer to
    "how sure are we of that average?".

    Scale shape: one hash-agg collapses orders to 10 (bucket, sum,
    count) rows; everything after is 10-row math against a broadcast
    1-row total. At 100 TB the bucket partials fold map-side; nothing
    but 11 rows ever reaches the final stage.

    Float discipline: bucket sums are exact integer cents; replicate
    means land on an exact tenth-of-a-cent integer grid (``div``), and
    the variance numerator (B−1)·(B·Σr²−(Σr)²) is EXACT int64 algebra
    (headroom to ~sf1: r≈1.5e8 ⇒ B·Σr²≈2e18 < 2⁶³) — order-insensitive
    where a float Σ(dev²) would hash-flake on agg order. The only
    floats are one final sqrt/division chain and the ±1.96·se CI, both
    computed from already-rounded terms in the identical op order.
    Degenerate edge, guarded EXPLICITLY on both engines: a corpus so
    small that every key hashes to ONE bucket leaves N - n_b = 0,
    where the jackknife is undefined (B = 1). Neither engine fails
    loudly on its own here — DuckDB integer division by zero is a
    silent NULL, and Spark's behavior depends on the ANSI flag — so
    the replicate expression raises explicitly (``raise_error`` /
    ``error()``) rather than let a NULL flow into the variance and
    emit a silent lie about the error bar."""
    o = load_table(spark, sf_dir, "orders").select(
        (
            hex_prefix_long(F.md5(F.col("o_orderkey").cast("string")), 14, 1)
            % 10
        ).alias("bkt"),
        cents("o_totalprice").alias("c"),
    )
    per = o.groupBy("bkt").agg(
        F.sum("c").cast("long").alias("s_b"),
        F.count(F.lit(1)).cast("long").alias("n_b"),
    )
    tot = per.agg(
        F.sum("s_b").cast("long").alias("s"),
        F.sum("n_b").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    rep = per.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("n") > F.col("n_b"),
            F.expr("((s - s_b) * 10) div (n - n_b)"),
        )
        .otherwise(
            F.expr(
                "raise_error('jackknife undefined at B=1:"
                " all rows hash to one bucket')"
            )
        )
        .alias("r")
    )
    agg = rep.agg(
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("ssq"),
    )
    raw = tot.crossJoin(F.broadcast(agg)).select(
        F.col("n").alias("n_orders"),
        half_up(F.col("s").cast("double") / F.col("n") / 100, 4).alias("mean_total"),
        half_up(
            F.sqrt(
                (
                    (F.col("nb") - 1)
                    * (F.col("nb") * F.col("ssq") - F.col("sr") * F.col("sr"))
                ).cast("double")
            )
            / F.col("nb")
            / 10
            / 100,
            4,
        ).alias("jk_se"),
    )
    return raw.select(
        "n_orders",
        "mean_total",
        "jk_se",
        half_up(F.col("mean_total") - 1.96 * F.col("jk_se"), 4).alias("ci95_lo"),
        half_up(F.col("mean_total") + 1.96 * F.col("jk_se"), 4).alias("ci95_hi"),
    )


_BOOT_N = 500  # fixed md5-order sample panel (O(N·B) at any scale)
_BOOT_B = 32   # resamples; CI reads ranks 2 and B-1 (~93.75% coverage)


@query(
    "stats_bootstrap_ci_md5",
    oracle=f"""
    WITH panel AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS vc,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rk
      FROM orders
      QUALIFY rk <= {_BOOT_N}
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM panel),
    draws AS (
      SELECT b.b,
             1 + ({sql_hex_long(
                 "md5(CAST(b.b AS VARCHAR) || '_' || CAST(i.i AS VARCHAR))",
                 14, 1)}) % np.n AS rk
      FROM range({_BOOT_B}) b(b), range({_BOOT_N}) i(i), np
      WHERE i.i < np.n
    ),
    means AS (
      SELECT d.b,
             (1000000 * CAST(SUM(p.vc) AS BIGINT)) // MAX(np.n)
               AS mean_ucents
      FROM draws d JOIN panel p USING (rk), np
      GROUP BY d.b
    ),
    ranked AS (
      SELECT mean_ucents,
             ROW_NUMBER() OVER (ORDER BY mean_ucents, b) AS mr
      FROM means
    )
    SELECT np.n AS n_sample,
           CAST({_BOOT_B} AS BIGINT) AS b_resamples,
           (SELECT (1000000 * CAST(SUM(vc) AS BIGINT)) // MAX(np2.n)
              FROM panel, np np2) AS point_mean_ucents,
           (SELECT mean_ucents FROM ranked WHERE mr = 2) AS ci_lo_ucents,
           (SELECT mean_ucents FROM ranked WHERE mr = {_BOOT_B - 1})
             AS ci_hi_ucents
    FROM np
    """,
)
def stats_bootstrap_ci_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BOOTSTRAP confidence interval for mean order value
    — the resampling sibling of `agg_jackknife_mean_se`: {_BOOT_B}
    with-replacement resamples whose every draw is a pure md5 function
    of (resample, position), so the "random" bootstrap is bit-identical
    on every engine, re-run, and cluster size — the same derandomized-
    audit discipline as the md5 query panels. Resampling runs over a
    FIXED {_BOOT_N}-order panel in md5(o_orderkey) order (the
    `sim_pq_recall_sampled_panel` sizing rule), so total work is
    O(N·B) regardless of table size. Means are exact integer
    micro-cents (floor of 1e6·Σ/n over exact cents); the interval is
    the rank-2 / rank-{_BOOT_B - 1} resample means (~93.75% coverage
    at B={_BOOT_B}) — a rank read-off, no interpolation rule to
    disagree cross-engine.

    Scale shape: one TakeOrderedAndProject builds the panel
    (O(table) scan, {_BOOT_N} rows out); the {_BOOT_B}×{_BOOT_N} draw
    grid is generated, not stored, and equi-joins the broadcast panel
    on rank; everything after is ≤ {_BOOT_B}-row arithmetic. The two
    tiny windows (panel rank, mean rank) run over {_BOOT_N}- and
    {_BOOT_B}-row bounded inputs by construction.

    Reference basis: none; contract statistics family (SURVEY §2.10
    A-row extension), beside the jackknife (delete-one, SE form) and
    the Welch/MW tests."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("vc"), "o_orderkey"
    )
    panel = (
        o.withColumn("_pk", F.md5(F.col("o_orderkey").cast("string")))
        .orderBy("_pk", "o_orderkey")
        .limit(_BOOT_N)
        .select(
            "vc",
            F.row_number()
            .over(Window.orderBy("_pk", "o_orderkey"))
            .alias("rk"),
        )
    )
    np_ = panel.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        spark.range(_BOOT_B)
        .withColumnRenamed("id", "b")
        .crossJoin(spark.range(_BOOT_N).withColumnRenamed("id", "i"))
        .crossJoin(F.broadcast(np_))
        .filter(F.col("i") < F.col("n"))
    )
    draws = grid.select(
        "b",
        (
            1
            + hex_prefix_long(
                F.md5(
                    F.concat_ws(
                        "_", F.col("b").cast("string"), F.col("i").cast("string")
                    )
                ),
                14,
                1,
            )
            % F.col("n")
        ).alias("rk"),
    )
    means = (
        draws.join(F.broadcast(panel), "rk")
        .crossJoin(F.broadcast(np_))
        .groupBy("b")
        .agg(
            F.expr(
                "CAST((1000000 * sum(vc)) div max(n) AS BIGINT)"
            ).alias("mean_ucents")
        )
    )
    ranked = means.select(
        "mean_ucents",
        F.row_number().over(Window.orderBy("mean_ucents", "b")).alias("mr"),
    )
    point = panel.crossJoin(F.broadcast(np_)).agg(
        F.expr("CAST((1000000 * sum(vc)) div max(n) AS BIGINT)").alias(
            "point_mean_ucents"
        )
    )
    return (
        np_.select(F.col("n").alias("n_sample"))
        .crossJoin(F.broadcast(point))
        .crossJoin(
            F.broadcast(
                ranked.filter(F.col("mr") == 2).select(
                    F.col("mean_ucents").alias("ci_lo_ucents")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                ranked.filter(F.col("mr") == _BOOT_B - 1).select(
                    F.col("mean_ucents").alias("ci_hi_ucents")
                )
            )
        )
        .select(
            "n_sample",
            F.lit(_BOOT_B).cast("long").alias("b_resamples"),
            "point_mean_ucents",
            "ci_lo_ucents",
            "ci_hi_ucents",
        )
    )


_PERM_B = 32  # label permutations; exact p floor is 1/(B+1)
_PERM_GUARD = (
    "permutation test undefined: a group is empty in the panel"
)


@query(
    "stats_permutation_test_md5",
    oracle=f"""
    WITH panel AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS vc,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS grp,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rk
      FROM orders
      QUALIFY rk <= {_BOOT_N}
    ),
    sz AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(grp) AS BIGINT) AS na,
             CAST(COUNT(*) - SUM(grp) AS BIGINT) AS nb
      FROM panel
    ),
    guard AS (
      SELECT CASE WHEN na = 0 OR nb = 0
                  THEN CAST(error('{_PERM_GUARD}') AS BIGINT)
                  ELSE na END AS na, nb, n
      FROM sz
    ),
    obs AS (
      SELECT abs(g.nb * SUM(CASE WHEN p.grp = 1 THEN p.vc ELSE 0 END)
                  - g.na * SUM(CASE WHEN p.grp = 0 THEN p.vc ELSE 0 END))
               AS t_obs
      FROM panel p, guard g GROUP BY g.na, g.nb
    ),
    hashes AS (
      SELECT b.b, p.rk, p.vc,
             ({sql_hex_long(
                 "md5(CAST(b.b AS VARCHAR) || '_' || CAST(p.rk AS VARCHAR))",
                 14, 1)}) AS h
      FROM range({_PERM_B}) b(b), panel p
    ),
    perm AS (
      SELECT b, vc,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY b ORDER BY h, rk)
                       <= (SELECT na FROM guard)
                  THEN 1 ELSE 0 END AS grp
      FROM hashes
    ),
    stats AS (
      SELECT pm.b,
             abs(g.nb * SUM(CASE WHEN pm.grp = 1 THEN pm.vc ELSE 0 END)
                 - g.na * SUM(CASE WHEN pm.grp = 0 THEN pm.vc ELSE 0 END))
               AS t
      FROM perm pm, guard g GROUP BY pm.b, g.na, g.nb
    )
    SELECT g.na AS n_a, g.nb AS n_b,
           CAST(o.t_obs AS BIGINT) AS t_obs,
           CAST({_PERM_B} AS BIGINT) AS b_perms,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM stats s, obs oo
             WHERE s.t >= oo.t_obs) AS n_ge,
           (SELECT CAST((1000000 * (1 + COUNT(*))) // ({_PERM_B} + 1)
                   AS BIGINT)
              FROM stats s, obs oo WHERE s.t >= oo.t_obs) AS p_ppm
    FROM guard g, obs o
    """,
)
def stats_permutation_test_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-sample PERMUTATION TEST for mean order value,
    finished ('F') vs open/pending orders — the exact-inference rung of
    the testing family (Welch t assumes normality, Mann-Whitney tests
    ranks; the permutation test uses the data's own label-exchange
    null). Every one of the {_PERM_B} label permutations is a pure md5
    function of (permutation, panel rank): permutation b assigns group
    A to the n_A panel positions with the smallest md5(b‖rk) values —
    a uniform random n_A-subset under the md5 model, bit-identical on
    every engine, re-run, and cluster size (the derandomized-audit
    discipline of the bootstrap/epoch-shuffle family).

    The statistic is the CROSS-MULTIPLIED absolute mean gap
    |n_B·ΣA − n_A·ΣB| over exact integer cents — equal to
    n_A·n_B·|mean_A − mean_B| — so no division ever happens and every
    comparison is exact int64. p = (1 + #{{T_b ≥ T_obs}}) / (B+1)
    reported as floor-ppm plus the raw counts (the exact rational).
    An empty group raises LOUDLY on both engines. Like all fixed-B
    permutation tests the p-value floor is 1/(B+1) ≈ 0.03 — the audit
    certifies the machinery, production raises B.

    Scale shape: one TakeOrderedAndProject builds the {_BOOT_N}-row
    panel; the {_PERM_B}×{_BOOT_N} hash grid is generated, not
    stored; per-permutation ranking windows partition by b over
    panel-sized groups; everything downstream is ≤ {_PERM_B} rows.
    O(B·N log N) at ANY table size.

    Reference basis: none; contract statistics family (SURVEY §2.10
    A-row extension) beside Welch t, Mann-Whitney, jackknife, and the
    md5 bootstrap."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("vc"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("grp"),
        "o_orderkey",
    )
    panel = (
        o.withColumn("_pk", F.md5(F.col("o_orderkey").cast("string")))
        .orderBy("_pk", "o_orderkey")
        .limit(_BOOT_N)
        .select(
            "vc",
            "grp",
            F.row_number()
            .over(Window.orderBy("_pk", "o_orderkey"))
            .alias("rk"),
        )
    )
    sz = panel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("grp").cast("long").alias("na"),
        (F.count(F.lit(1)) - F.sum("grp")).cast("long").alias("nb"),
    )
    guard = sz.select(
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0), F.col("na")
        )
        .otherwise(F.expr(f"raise_error('{_PERM_GUARD}')"))
        .cast("long")
        .alias("na"),
        "nb",
        "n",
    )
    obs = (
        panel.crossJoin(F.broadcast(guard))
        .groupBy("na", "nb")
        .agg(
            F.abs(
                F.col("nb") * F.sum(F.when(F.col("grp") == 1, F.col("vc")).otherwise(0))
                - F.col("na")
                * F.sum(F.when(F.col("grp") == 0, F.col("vc")).otherwise(0))
            )
            .cast("long")
            .alias("t_obs")
        )
        .select("t_obs")
    )
    hashes = (
        spark.range(_PERM_B)
        .withColumnRenamed("id", "b")
        .crossJoin(F.broadcast(panel))
        .select(
            "b",
            "rk",
            "vc",
            hex_prefix_long(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("b").cast("string"),
                        F.col("rk").cast("string"),
                    )
                ),
                14,
                1,
            ).alias("h"),
        )
    )
    wb = Window.partitionBy("b").orderBy("h", "rk")
    perm = hashes.crossJoin(F.broadcast(guard.select("na"))).select(
        "b",
        "vc",
        F.when(F.row_number().over(wb) <= F.col("na"), 1)
        .otherwise(0)
        .alias("pgrp"),
    )
    stats = (
        perm.crossJoin(F.broadcast(guard.select(F.col("na").alias("gna"),
                                                F.col("nb").alias("gnb"))))
        .groupBy("b", "gna", "gnb")
        .agg(
            F.abs(
                F.col("gnb")
                * F.sum(F.when(F.col("pgrp") == 1, F.col("vc")).otherwise(0))
                - F.col("gna")
                * F.sum(F.when(F.col("pgrp") == 0, F.col("vc")).otherwise(0))
            )
            .cast("long")
            .alias("t")
        )
        .select("b", "t")
    )
    nge = (
        stats.crossJoin(F.broadcast(obs))
        .filter(F.col("t") >= F.col("t_obs"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ge"))
    )
    return (
        guard.select(F.col("na").alias("n_a"), F.col("nb").alias("n_b"))
        .crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(nge))
        .select(
            "n_a",
            "n_b",
            "t_obs",
            F.lit(_PERM_B).cast("long").alias("b_perms"),
            "n_ge",
            F.expr(f"CAST((1000000 * (1 + n_ge)) div ({_PERM_B} + 1) AS BIGINT)")
            .alias("p_ppm"),
        )
    )


_THEIL_DECOMP_ORACLE = """
    WITH rev AS (
      SELECT c_nationkey, o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS r
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    t AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r) AS BIGINT) AS tot
      FROM rev GROUP BY c_nationkey
    ),
    gl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(r) AS BIGINT) AS tot_all
      FROM rev
    ),
    tt AS (
      SELECT SUM((CAST(r AS DOUBLE) * gl.n_all / gl.tot_all)
                 * ln(CAST(r AS DOUBLE) * gl.n_all / gl.tot_all))
               / MAX(gl.n_all) AS v
      FROM rev, gl
    ),
    tb AS (
      SELECT SUM((CAST(t.tot AS DOUBLE) / gl.tot_all)
                 * ln((CAST(t.tot AS DOUBLE) * gl.n_all)
                      / (CAST(gl.tot_all AS DOUBLE) * t.n))) AS v
      FROM t, gl
    ),
    wg AS (
      SELECT rev.c_nationkey,
             SUM((CAST(r AS DOUBLE) * t.n / t.tot)
                 * ln(CAST(r AS DOUBLE) * t.n / t.tot)) / MAX(t.n) AS tg,
             MAX(t.tot) AS tot
      FROM rev JOIN t ON t.c_nationkey = rev.c_nationkey
      GROUP BY rev.c_nationkey
    ),
    tw AS (
      SELECT SUM((CAST(wg.tot AS DOUBLE) / gl.tot_all) * wg.tg) AS v
      FROM wg, gl
    )
    SELECT gl.n_all AS n_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_nations,
           floor(tt.v * 1000000 + 0.5) / 1000000 AS theil_total,
           floor(tb.v * 1000000 + 0.5) / 1000000 AS theil_between,
           floor(tw.v * 1000000 + 0.5) / 1000000 AS theil_within
    FROM gl, tt, tb, tw
    """


@query("agg_theil_between_within", oracle=_THEIL_DECOMP_ORACLE)
def agg_theil_between_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T DECOMPOSITION of customer-revenue inequality into its
    between-nation and within-nation components — the property the
    per-nation `agg_theil_index` docstring promises ("Theil splits
    exactly into within + between") now delivered as an operator: for
    groups g, T = T_B + T_W with

        T_B = SUM_g (Y_g/Y) ln((Y_g/Y) / (N_g/N))
        T_W = SUM_g (Y_g/Y) T_g

    — the drill-down read an inequality monitor ships ("is revenue
    concentration a cross-market or an in-market phenomenon?"). The
    identity holds to real arithmetic; the emitted values round
    half-away at 1e-6 AFTER each component's own sum, so the hash
    carries three independent reads (the crafted test asserts the
    residual |T - T_B - T_W| stays below the rounding grain instead
    of hashing it). Exact-cents per-customer roll-up; every double
    ratio is written with the identical operation order on both
    engines; ln is the same libm call class as the certified
    entropy/Theil queries.

    Scale shape: the certified Theil plan plus two 1-row broadcasts —
    per-customer roll-up (size-gated customer broadcast), per-nation
    totals, global totals; the three components are one more
    hash-agg each over already-aggregated rows. Nothing new scales.

    Reference basis: none; contract inequality family (SURVEY §2.10)
    beside Gini / HHI / Pareto / per-nation Theil."""
    from ._shared import maybe_broadcast

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        o.join(
            maybe_broadcast(c, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("r"))
    )
    t = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("tot"),
    )
    gl = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("r").cast("long").alias("tot_all"),
    )
    ratio_all = F.col("r").cast("double") * F.col("n_all") / F.col("tot_all")
    tt = (
        rev.crossJoin(F.broadcast(gl))
        .agg(
            (
                F.sum(ratio_all * F.log(ratio_all)) / F.max("n_all")
            ).alias("v_t")
        )
    )
    share = F.col("tot").cast("double") / F.col("tot_all")
    lnarg = (F.col("tot").cast("double") * F.col("n_all")) / (
        F.col("tot_all").cast("double") * F.col("n")
    )
    tb = (
        t.crossJoin(F.broadcast(gl))
        .agg(F.sum(share * F.log(lnarg)).alias("v_b"))
    )
    ratio_g = F.col("r").cast("double") * F.col("n") / F.col("tot")
    wg = (
        rev.join(F.broadcast(t), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            (F.sum(ratio_g * F.log(ratio_g)) / F.max("n")).alias("tg"),
            F.max("tot").alias("gtot"),
        )
    )
    tw = (
        wg.crossJoin(F.broadcast(gl))
        .agg(
            F.sum(
                (F.col("gtot").cast("double") / F.col("tot_all"))
                * F.col("tg")
            ).alias("v_w")
        )
    )
    ng = t.agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
    return (
        gl.crossJoin(F.broadcast(ng))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tw))
        .select(
            F.col("n_all").alias("n_customers"),
            "n_nations",
            half_up(F.col("v_t"), 6).alias("theil_total"),
            half_up(F.col("v_b"), 6).alias("theil_between"),
            half_up(F.col("v_w"), 6).alias("theil_within"),
        )
    )


# ---------------------------------------------------------------------------
# Inequality family: HOOVER (Robin Hood) index — the redistribution rung of
# the inequality ladder.
# ---------------------------------------------------------------------------

_HOOVER_ORACLE = """
    WITH s AS MATERIALIZED (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    a AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS tot
      FROM s GROUP BY 1
    ),
    dv AS (
      SELECT s.c_nationkey,
             SUM(abs(CAST(a.n AS HUGEINT) * s.x - a.tot)) AS dev
      FROM s JOIN a USING (c_nationkey)
      GROUP BY 1
    )
    SELECT a.c_nationkey,
           a.n AS n_customers,
           a.tot AS total_cents,
           CAST(floor(1000000.0 * CAST(dv.dev AS DOUBLE)
                      / (2.0 * CAST(a.n AS DOUBLE)
                             * CAST(a.tot AS DOUBLE)) + 0.5)
                AS BIGINT) AS hoover_ppm
    FROM a JOIN dv USING (c_nationkey)
    ORDER BY 1
    """


@query("agg_hoover_index", oracle=_HOOVER_ORACLE)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOOVER (Robin Hood) index of order spend per nation — the
    redistribution rung of the inequality ladder beside Gini
    (`agg_gini_order_concentration`), Theil (`agg_theil_index`), and
    the between/within decomposition: the share of total spend that
    would have to move between customers to equalize everyone,
    H = Σ|x_i − mean| / (2·Σx). Unlike Gini's rank form (an
    order-dependent double Σ r·x under ROUND(4)) and unlike
    entropy-based Theil (libm logs), Hoover is EXACT: the
    cross-multiplied deviation Σ|n·x_i − S| accumulates in wide
    integer arithmetic (HUGEINT / DECIMAL(38,0) — n·x overflows
    int64 at warehouse cardinalities), and the single final division
    is correctly-rounded double over exactly-representable sums, so
    the floor-ppm index hashes bit-identically cross-engine. H = 0
    for equal spend; H -> 1 as one customer becomes the book; for
    two customers H = Gini exactly (crafted test).

    Scale shape: one shuffle to per-(nation, customer) integer-cents
    totals (map-side combinable), one |nations|-row aggregate, one
    broadcast-sized join back for the deviation sum — the identical
    join budget as the certified Gini, with no per-nation rank
    window at all (Hoover needs no sort, which at 100 TB is the
    cheaper ladder rung).

    Reference basis: none; contract analytics family (SURVEY §2.10
    A6-A13 extension)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("x"))
    )
    a = s.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("tot"),
    )
    dev = (
        # |nations|-row aggregate: unconditionally broadcast-safe
        s.join(F.broadcast(a), "c_nationkey")
        .select(
            "c_nationkey",
            F.abs(
                F.col("n").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
                - F.col("tot").cast("decimal(19,0)")
            ).alias("d"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("d").cast("decimal(38,0)").alias("dev"))
    )
    return (
        a.join(dev, "c_nationkey")
        .select(
            "c_nationkey",
            F.col("n").alias("n_customers"),
            F.col("tot").alias("total_cents"),
            F.floor(
                F.lit(1000000.0)
                * F.col("dev").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n").cast("double")
                    * F.col("tot").cast("double")
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("hoover_ppm"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Robust-statistics family: TRIMMED + WINSORIZED MEAN (exact-rank robust
# location estimates — the robust-stats rung beside the jackknife SE and the
# IQR fences).
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # symmetric trim/winsorize fraction, percent per side

_TRIMMED_MEAN_ORACLE = f"""
    WITH c AS (
      SELECT o_orderpriority AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cts,
             o_orderkey
      FROM orders
    ),
    r AS (
      SELECT pri, cts,
             ROW_NUMBER() OVER (PARTITION BY pri
                                ORDER BY cts, o_orderkey) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY pri) AS BIGINT) AS n
      FROM c
    ),
    k AS (SELECT pri, n, (n * {_TRIM_PCT}) // 100 AS kt FROM r
          GROUP BY pri, n),
    kept AS (
      SELECT r.pri, r.cts, k.n, k.kt
      FROM r JOIN k ON k.pri = r.pri
      WHERE r.rn > k.kt AND r.rn <= k.n - k.kt
    ),
    agg AS (
      SELECT pri, n, kt,
             CAST(SUM(cts) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(MIN(cts) AS BIGINT) AS lo,
             CAST(MAX(cts) AS BIGINT) AS hi
      FROM kept GROUP BY pri, n, kt
    )
    SELECT pri AS o_orderpriority, n AS n_orders, kt AS k_trimmed,
           floor(CAST(s AS DOUBLE) / m / 100 * 10000 + 0.5) / 10000
             AS trimmed_mean,
           floor(CAST(s + kt * lo + kt * hi AS DOUBLE) / n / 100 * 10000
                 + 0.5) / 10000 AS winsorized_mean
    FROM agg ORDER BY pri
    """


@query("agg_trimmed_mean", oracle=_TRIMMED_MEAN_ORACLE)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIMMED and WINSORIZED MEAN per order priority — the exact-RANK
    robust location pair, completing the family beside
    `agg_winsorized_mean_price` (which clips lineitem prices at
    grid-walk p05/p95 QUANTILES — a value-space rule; this op trims
    and clips at RANK boundaries k = floor(n·pct), the classical
    trimmed-mean definition, and adds the trimmed variant the
    quantile op doesn't have): rank every order's price
    (exact integer cents, ties broken by o_orderkey — fully
    deterministic on both engines), drop the bottom and top
    floor(n*{_TRIM_PCT}/100) ranks for the trimmed mean, and CLAMP
    them to the kept min/max for the winsorized mean (computed
    exactly as sum_kept + k*lo + k*hi over the FULL n — no row
    rewrite needed). Both means land on the ``half_up(x, 4)`` grid
    from exact integer sums, so the hashes are bit-stable
    cross-engine.

    Exact ranks, not approx_percentile: the trim boundary is a rank
    statistic and the certified estimate must not depend on a sketch
    seed. The rank pass is a per-priority window (5 groups, never a
    global sort).

    Scale shape: one hash shuffle on the 5-value priority key; the
    within-group sort is the windowed rank every quantile-exact op
    pays. At 100 TB with heavy groups the same estimate composes from
    a fixed integer-cents histogram (the `agg_histogram_extprice_bins`
    device) — documented trade, exactness chosen here.

    Reference basis: none; contract A-family robust statistics
    (SURVEY §2.4)."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        cents("o_totalprice").alias("cts"),
        "o_orderkey",
    )
    w = Window.partitionBy("pri").orderBy("cts", "o_orderkey")
    r = c.select(
        "pri",
        "cts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("pri"))
        .cast("long")
        .alias("n"),
    ).withColumn("kt", F.expr(f"(n * {_TRIM_PCT}) div 100"))
    kept = r.filter(
        (F.col("rn") > F.col("kt")) & (F.col("rn") <= F.col("n") - F.col("kt"))
    )
    agg = kept.groupBy("pri", "n", "kt").agg(
        F.sum("cts").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("m"),
        F.min("cts").cast("long").alias("lo"),
        F.max("cts").cast("long").alias("hi"),
    )
    return agg.select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n").alias("n_orders"),
        F.col("kt").alias("k_trimmed"),
        half_up(F.col("s").cast("double") / F.col("m") / 100, 4).alias("trimmed_mean"),
        half_up(
            (
                F.col("s") + F.col("kt") * F.col("lo") + F.col("kt") * F.col("hi")
            ).cast("double")
            / F.col("n")
            / 100,
            4,
        ).alias("winsorized_mean"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Rank-statistics family: SPEARMAN RANK CORRELATION (the rank-statistic rung
# beside the Pearson moments of `agg_stats_lineitem_by_flag` and the rank
# tests agg_mann_whitney_u / agg_ks_drift_halves).
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
    WITH sp AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT c.c_mktsegment AS seg, c.c_custkey AS k,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS x,
             COALESCE(sp.y, 0) AS y
      FROM customer c LEFT JOIN sp ON sp.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT seg,
             2 * RANK() OVER (PARTITION BY seg ORDER BY x) - 1
               + COUNT(*) OVER (PARTITION BY seg, x) AS rx,
             2 * RANK() OVER (PARTITION BY seg ORDER BY y) - 1
               + COUNT(*) OVER (PARTITION BY seg, y) AS ry,
             CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n
      FROM base
    ),
    cen AS (
      SELECT seg, n, rx - (n + 1) AS u, ry - (n + 1) AS v FROM r
    ),
    s AS (
      SELECT seg, MAX(n) AS n,
             SUM(CAST(u AS HUGEINT) * v) AS suv,
             SUM(CAST(u AS HUGEINT) * u) AS su2,
             SUM(CAST(v AS HUGEINT) * v) AS sv2
      FROM cen GROUP BY seg
    )
    SELECT seg AS c_mktsegment, n AS n_customers,
           CASE WHEN su2 = 0 OR sv2 = 0 THEN NULL
                ELSE CAST(floor(1000000.0 * CAST(suv AS DOUBLE)
                                / sqrt(CAST(su2 AS DOUBLE)
                                       * CAST(sv2 AS DOUBLE)) + 0.5)
                          AS BIGINT)
           END AS spearman_ppm
    FROM s ORDER BY 1
    """


@query("agg_spearman_corr", oracle=_SPEARMAN_ORACLE)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between account balance and lifetime
    order spend, per market segment — the monotone-association rung
    the moment family can't provide: Pearson (already certified in
    `agg_stats_lineitem_by_flag`) measures LINEAR association and one
    whale customer drags it arbitrarily; Spearman is Pearson on RANKS,
    invariant to any monotone transform and bounded by construction —
    the association statistic a data survey actually wants next to
    the rank tests (Mann-Whitney, KS) already in the family.

    Exactness device: ties get AVERAGE ranks, which are half-integers
    — so both engines carry the DOUBLED average rank
    2·RANK() + tiecount − 1 (an integer). Σ of doubled ranks is
    exactly n(n+1) regardless of ties, so centering by the constant
    (n+1) needs no computed mean, and rho collapses to
    Σuv / sqrt(Σu²·Σv²) over integer centered ranks — exact
    HUGEINT/DECIMAL(38,0) sums, one sqrt + one division at the very
    end on the pinned floor(x·1e6 + 0.5) ppm grid. No float
    accumulates across rows on either engine.

    A segment where every x (or every y) is one giant tie group has
    Σu² = 0 and an UNDEFINED rho: reported as NULL identically on
    both engines (the statistical convention; pinned by a crafted
    test) rather than a raise, because unlike the epoch-mix plan a
    NULL correlation cannot be misread as an actionable number.

    Scale shape: the spend rollup is one map-side-combinable agg on
    o_custkey; both rank passes are windows partitioned by SEGMENT
    (per-key groups, never a global sort — the same shape as the
    trimmed-mean rank pass); the moment agg is map-side combinable.
    Customers without orders enter as y = 0 — one coalesce, and a
    deliberately fat tie group exercising the average-rank device on
    real data.

    Reference basis: none; contract A-family statistics (SURVEY §2.4).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        "c_custkey",
        cents("c_acctbal").alias("x"),
    )
    sp = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("y"))
    )
    base = cust.join(
        sp, cust.c_custkey == sp.o_custkey, "left"
    ).select(
        "seg", F.col("x"), F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    n_w = Window.partitionBy("seg")
    rx = (
        2 * F.rank().over(Window.partitionBy("seg").orderBy("x"))
        - 1
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "x"))
    )
    ry = (
        2 * F.rank().over(Window.partitionBy("seg").orderBy("y"))
        - 1
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "y"))
    )
    r = base.select(
        "seg",
        rx.cast("long").alias("rx"),
        ry.cast("long").alias("ry"),
        F.count(F.lit(1)).over(n_w).cast("long").alias("n"),
    )
    cen = r.select(
        "seg",
        "n",
        (F.col("rx") - (F.col("n") + 1)).alias("u"),
        (F.col("ry") - (F.col("n") + 1)).alias("v"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = cen.groupBy("seg").agg(
        F.max("n").alias("n"),
        F.sum(d19("u") * d19("v")).cast("decimal(38,0)").alias("suv"),
        F.sum(d19("u") * d19("u")).cast("decimal(38,0)").alias("su2"),
        F.sum(d19("v") * d19("v")).cast("decimal(38,0)").alias("sv2"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return s.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("n").alias("n_customers"),
        F.when(
            (F.col("su2") == zero) | (F.col("sv2") == zero),
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * F.col("suv").cast("double")
                / F.sqrt(
                    F.col("su2").cast("double") * F.col("sv2").cast("double")
                )
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("spearman_ppm"),
    ).orderBy("c_mktsegment")
