"""Window functions (SURVEY §2.5): ranking, lag/lead, running and
moving frames, ntile/percent_rank, range frames.

Every window is partitioned (never a global unpartitioned window —
that single-tasks at scale) and ordered with a unique tiebreaker so
results are deterministic and hash-stable against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, money_from_cents
from ..sources.tables import load_table
from ._shared import maybe_broadcast
from .registry import query


@query(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rn
    FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number over a fully tie-broken ordering, filtered to rn<=3."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@query(
    "window_rank_dense_rank",
    oracle="""
    SELECT c_nationkey, c_custkey,
           RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)        AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)        AS drnk,
           NTILE(4)     OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def window_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank over a per-group ordering — gap vs no-gap tie semantics."""
    customer = load_table(spark, sf_dir, "customer")
    w_ties = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    w_uniq = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return customer.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_uniq).alias("quartile"),
    )


@query(
    "window_running_total_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / 100, 2) AS running_total
    FROM orders
    """,
)
def window_running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total (unboundedPreceding→current) per customer on the integer-cents grid — exact cumulative sums at any parallelism."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        money_from_cents(F.sum(cents("o_totalprice")).over(w)).alias("running_total"),
    )


@query(
    "window_lag_lead_events",
    oracle="""
    SELECT user_id, event_id,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events
    """,
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event time: previous/next values without self-joins."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@query(
    "window_moving_avg_3",
    oracle="""
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
    FROM events
    """,
)
def window_moving_avg_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average (rowsBetween frame) per user, deterministically ordered by (ts, event_id)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("mavg3"),
    )


@query(
    "window_range_frame_events_per_hour",
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER (PARTITION BY user_id
                          ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
    FROM events
    """,
)
def window_range_frame_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time seconds: events per user in the
    trailing hour. Numeric range frames need a numeric sort key, so the
    timestamp is projected to epoch seconds (identical trick works on
    any engine). Spark's ``unix_timestamp`` TRUNCATES sub-second parts;
    the oracle must ``floor(epoch(ts))`` to match — DuckDB's
    double→BIGINT cast rounds, which flips frame boundaries for events
    with fractional seconds ≥ .5 (surfaced at sf0.1, not sf0.01)."""
    events = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").alias("epoch_s")
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return events.select("user_id", "event_id", epoch).select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


@query(
    "window_percent_rank_cume_dist",
    oracle="""
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           ROUND(CUME_DIST()    OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd
    FROM orders
    WHERE o_custkey < 100
    """,
)
def window_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-window analytics on a pre-filtered slice — the bounded
    special case. The partitioned-by-key signature
    (``window_percent_rank_by_custkey``) is the default at scale;
    unpartitioned windows over full fact tables are an anti-pattern."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "window_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS first_order,
           LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order
    FROM orders
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with explicit frames — frame-end semantics (current row vs unbounded following) made explicit."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    )


@query(
    "window_percent_rank_by_custkey",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           ROUND(CUME_DIST()    OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey), 6) AS cd
    FROM orders
    """,
)
def window_percent_rank_by_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist PARTITIONED BY KEY — the default scale
    signature for distribution analytics: each customer's orders sort
    within one task, so the full fact table flows through without a
    single-partition bottleneck (the global variant above is the
    pre-filtered special case)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "window_ntile_acctbal_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def window_ntile_acctbal_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NTILE bucketing — per-segment account-balance quartiles, the
    window-family member (equal-COUNT buckets, not equal-width values)
    the set was missing. Partitioned by segment with a unique
    (acctbal, custkey) ordering so bucket boundaries are deterministic
    cross-engine; each segment partition sorts independently after one
    hash shuffle."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "window_gaps_islands_user_activity",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 360 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    y AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM x
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS island_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS island_end
    FROM y GROUP BY user_id, island
    HAVING COUNT(*) >= 3
    """,
)
def window_gaps_islands_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gaps-and-islands: maximal runs of per-user activity with no gap
    over 6 hours, via the classic two-window composition — a lag
    break flag, then its running sum as the island id — followed by one
    hash-agg. This is sessionization WITHOUT an event-time engine
    (cf. events_session_30min's session_window): pure keyed windows, so
    it runs identically in plain batch SQL. Gap compare is in exact
    epoch-microseconds, matching the oracle's interval arithmetic;
    islands under 3 events are dropped to keep the report dense."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    brk = F.when(us - F.lag(us).over(w) > 21_600_000_000, 1).otherwise(0)
    x = e.select("user_id", "ts", "event_id", brk.alias("brk"))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    y = x.select(
        "user_id", "ts", F.sum("brk").over(run).cast("long").alias("island")
    )
    return (
        y.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "island_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "island_end"
            ),
        )
        .filter(F.col("n_events") >= 3)
    )


@query(
    "window_rolling_distinct_users",
    oracle="""
    WITH t AS (
      SELECT DISTINCT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
             user_id
      FROM events
    ),
    cover AS (
      SELECT event_type, day_idx + g.d AS d, user_id
      FROM t, (SELECT unnest(range(7)) AS d) g
    ),
    c AS (
      SELECT event_type, d, COUNT(DISTINCT user_id) AS users_7d
      FROM cover GROUP BY event_type, d
    ),
    days AS (SELECT DISTINCT event_type, day_idx AS d FROM t)
    SELECT c.event_type, c.d AS day_idx, c.users_7d
    FROM c JOIN days ON c.event_type = days.event_type AND c.d = days.d
    """,
)
def window_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per event type per active
    day — the rolling-DAU/WAU metric. COUNT(DISTINCT) over a sliding
    frame has no native window form in Spark, and the naive
    collect_set-over-range-window materializes a per-row set; instead
    each (type, day, user) triple is *exploded forward* onto the ≤ 7
    future days it keeps alive, then a plain distinct-agg counts per
    day — the standard shuffle-friendly rewrite.

    Scale shape: the first distinct collapses events to active
    triples; the 7× explode fans out only the collapsed triples; the
    final count(distinct) is one hash-agg with partials. No window, no
    range join, no per-row state. Only days with actual activity are
    kept (semi-join against the observed day set).
    """
    e = load_table(spark, sf_dir, "events")
    triples = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_idx"),
        "user_id",
    ).distinct()
    cover = triples.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day_idx"), F.col("day_idx") + 6)
        ).alias("d"),
        "user_id",
    )
    counts = cover.groupBy("event_type", "d").agg(
        F.count_distinct("user_id").alias("users_7d")
    )
    days = triples.select("event_type", F.col("day_idx").alias("d")).distinct()
    return counts.join(days, ["event_type", "d"]).select(
        "event_type", F.col("d").alias("day_idx"), "users_7d"
    )


@query(
    "window_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT c_mktsegment, o_custkey,
             MAX(o_orderdate) AS last_d,
             COUNT(*) AS f,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m_cents
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment, o_custkey
    )
    SELECT c_mktsegment, o_custkey,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY last_d DESC, o_custkey) AS r_q,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY f DESC, o_custkey) AS f_q,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY m_cents DESC, o_custkey) AS m_q
    FROM rfm
    """,
)
def window_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile scoring per market
    segment — the standard customer-value segmentation: quartile 1 =
    most recent / most frequent / highest spend within the customer's
    own segment.

    One hash-agg collapses orders to per-customer (last date, count,
    exact cents); three ntile windows share the segment partitioning
    (one sort partitioning, three orderings) with custkey tie-breaks
    so bucket boundaries are deterministic cross-engine. Segments are
    few, so at corpus scale the per-segment sort is the bottleneck —
    swap ntile for broadcast approx_percentile thresholds (the IQR-
    fences pattern in operators/quality.py) when a segment outgrows a
    task; quartile LABELS then tolerate the sketch's rank error.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rfm = (
        o.join(
            maybe_broadcast(
                c.select("c_custkey", "c_mktsegment"), sf_dir, "customer"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("f"),
            F.sum(cents("o_totalprice")).alias("m_cents"),
        )
    )
    seg = "c_mktsegment"
    wr = Window.partitionBy(seg).orderBy(F.col("last_d").desc(), "o_custkey")
    wf = Window.partitionBy(seg).orderBy(F.col("f").desc(), "o_custkey")
    wm = Window.partitionBy(seg).orderBy(F.col("m_cents").desc(), "o_custkey")
    return rfm.select(
        seg,
        "o_custkey",
        F.ntile(4).over(wr).alias("r_q"),
        F.ntile(4).over(wf).alias("f_q"),
        F.ntile(4).over(wm).alias("m_q"),
    )


# ---------------------------------------------------------------------------
# Round-14 debut queue: USER LIFECYCLE STAGES (the longitudinal rung
# above gaps-islands / retention cohorts).
# ---------------------------------------------------------------------------

_LIFECYCLE_GAP_DAYS = 7
_LC_DAY_US = 86_400_000_000

_USER_LIFECYCLE_ORACLE = f"""
    WITH ad AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // {_LC_DAY_US} AS BIGINT) AS day_idx
      FROM events WHERE ts IS NOT NULL
    ),
    lc AS (
      SELECT user_id, day_idx,
             LAG(day_idx) OVER (PARTITION BY user_id ORDER BY day_idx)
               AS prev_day
      FROM ad
    ),
    st AS (
      SELECT day_idx,
             CASE WHEN prev_day IS NULL THEN 'new'
                  WHEN day_idx - prev_day > {_LIFECYCLE_GAP_DAYS}
                    THEN 'resurrected'
                  ELSE 'retained' END AS stage
      FROM lc
    )
    SELECT day_idx,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COALESCE(SUM(CASE WHEN stage = 'new' THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_new,
           CAST(COALESCE(SUM(CASE WHEN stage = 'retained' THEN 1 ELSE 0
                             END), 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(SUM(CASE WHEN stage = 'resurrected' THEN 1
                             ELSE 0 END), 0) AS BIGINT) AS n_resurrected
    FROM st GROUP BY 1 ORDER BY 1
    """


@query("window_user_lifecycle", oracle=_USER_LIFECYCLE_ORACLE)
def window_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER LIFECYCLE STAGES — the longitudinal classification every
    growth/retention dashboard is built on, as one per-user window
    pass: each ACTIVE user-day (distinct user x UTC day index — the
    same integer `epoch_us div day` grid the retention-cohort op
    uses) is staged NEW (first activity ever), RESURRECTED (previous
    active day more than {_LIFECYCLE_GAP_DAYS} days back — a closed
    gap, the gaps-islands boundary reused as a lifecycle edge) or
    RETAINED (active within the window), then rolled up to daily
    stage counts. n_active == n_new + n_retained + n_resurrected by
    construction — pinned by the crafted suite.

    Scale shape: one distinct over (user, day) — map-side combinable
    — then a per-user LAG (never a global sort) and a |days|-row
    rollup. The 100 TB shape is the day-partitioned events table
    with the user-hash shuffle shared by every session/retention op.

    Reference basis: none; contract W window family (SURVEY §2.5) —
    the lifecycle rung beside `window_gaps_islands_user_activity`
    and the retention cohort curves."""
    ad = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_LC_DAY_US}")
            .cast("long")
            .alias("day_idx"),
        )
        .distinct()
    )
    prev = F.lag("day_idx").over(
        Window.partitionBy("user_id").orderBy("day_idx")
    )
    st = ad.select(
        "day_idx",
        F.when(prev.isNull(), "new")
        .when(F.col("day_idx") - prev > _LIFECYCLE_GAP_DAYS, "resurrected")
        .otherwise("retained")
        .alias("stage"),
    )
    return (
        st.groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("stage") == "new", 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("stage") == "retained", 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(F.when(F.col("stage") == "resurrected", 1).otherwise(0))
            .cast("long")
            .alias("n_resurrected"),
        )
        .orderBy("day_idx")
    )
