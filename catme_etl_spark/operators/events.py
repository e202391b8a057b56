"""Event-time window aggregations over the ``events`` table (SURVEY
§2.8 C5): tumbling, sliding, and session windows — the batch semantics
that the streaming module (``catme_etl_spark.streaming``) re-runs
incrementally with watermarks.

Window identity crosses engines as integer epochs (``unix_micros`` ↔
``epoch_us``) — string formatting of timestamps is the classic
tz-dependent hash-flake, integers are not. All aggregations are single
hash-shuffles on (window, key); at 100 TB the parquet would be
date-partitioned and partition pruning keeps each window's scan local.

The verdicts a streaming arm shares with its batch query live beside
that query, as DataFrame → DataFrame kernels the stream runs on its
snapshot: ``changepoint_verdict``, ``log2_latency_readoff``,
``volume_mad_verdict`` and ``hourly_concurrency``. So do the oracle
texts both sides start from: the gaps-and-islands sessionization
(``_ISLANDS_CTES`` / ``_ISLANDS_EV_CTES``), the conversion latencies
(``_LAT_CTES``), the log2 read-off (``_LOG2_SKETCH_SQL``) and the
weekly MAD alarm (``_VOLUME_MAD_ORACLE``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import half_up, money_sum
from ..sources.tables import load_table
from ._shared import require_bounded, shared_df
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# The oracles' gaps-and-islands sessionization (30-minute gap, breaking
# only at a gap strictly greater than the timeout), with and without the
# event type carried through; every session oracle in this module and in
# the streaming module starts from one of these two CTE pairs.
_ISLANDS_EV_CTES = """marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )"""
_ISLANDS_CTES = _ISLANDS_EV_CTES.replace(
    "user_id, ts, event_type,", "user_id, ts,"
)


def _islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_ISLANDS_EV_CTES``: ``(user_id, ts, event_type,
    sess)``, one user-keyed window pass."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = e.select(
        "user_id",
        "ts",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return marked.select(
        "user_id", "ts", "event_type", F.sum("is_new").over(run).alias("sess")
    )


def _first_view(islands: DataFrame) -> DataFrame:
    """Per session, the first view timestamp ``v`` (NULL without one)."""
    return islands.groupBy("user_id", "sess").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v")
    )


def _first_after(
    prev: DataFrame, islands: DataFrame, event_type: str, anchor: str, out: str
) -> DataFrame:
    """One funnel step: ``prev``'s session rows plus ``out``, the first
    ``event_type`` timestamp at or after ``prev``'s ``anchor`` column in
    the same session."""
    keys = prev.columns
    return (
        prev.join(islands, ["user_id", "sess"])
        .groupBy(*keys)
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == event_type)
                    & (F.col("ts") >= F.col(anchor)),
                    F.col("ts"),
                )
            ).alias(out)
        )
    )


@query(
    "events_tumbling_10min",
    oracle="""
    SELECT (CAST(floor(epoch(ts) / 600) AS BIGINT) * 600) * 1000000 AS win_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows (C5): count + exact-cents value sum per (window, type); window identity crosses engines as integer epoch micros."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_sliding_10min_5min",
    oracle="""
    SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - k * 300) * 1000000
               AS win_start_us,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events, (SELECT unnest(range(2)) AS k)
    GROUP BY 1
    """,
)
def events_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (width 10 min, slide 5 min): every event lands in
    exactly width/slide = 2 windows; Spark's ``window()`` expands them
    map-side before the shuffle."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_events",
            "n_users",
        )
    )


@query(
    "events_session_30min",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS sess_start_us,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM islands
    GROUP BY user_id, sess
    """,
)
def events_session_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via
    ``F.session_window`` — a new session starts only when the gap
    since the previous event EXCEEDS the timeout: Spark extends a
    session to ``[first, last + gap)`` and merges windows that overlap
    OR TOUCH, so two events exactly 30 minutes apart share a session
    (pinned by tests/test_round5_ops.py::test_session_gap_boundary;
    the oracle's island break is therefore ``> INTERVAL 30 MINUTE``,
    not ``>=``).

    The oracle reproduces it with the gaps-and-islands idiom. The
    session START is stable output; the Spark session end is
    ``last + gap`` while a SQL island's is ``last`` — don't compare ends.
    """
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("sess_start_us"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_type_hourly_share",
    oracle="""
    WITH h AS (
      SELECT (CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) * 1000000
                 AS hour_us,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT hour_us, event_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY hour_us), 4)
               AS share
    FROM h
    """,
)
def events_type_hourly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: event-time tumbling agg + analytic window over the
    aggregate (share of each type within its hour)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    h = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    h = h.select(
        F.unix_micros(F.col("w.start")).alias("hour_us"), "event_type", "n"
    )
    w = Window.partitionBy("hour_us")
    return h.select(
        "hour_us",
        "event_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 4).alias("share"),
    )


@query(
    "events_funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-click): each stage is a per-user MIN over the
    time-filtered join against the previous stage's anchor — three
    hash-aggs and two same-key joins, all partitioned by user_id so
    one partitioning serves every stage. The classic product-analytics
    query a 100 TB event store answers daily."""
    e = _events(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


@query(
    "events_weekly_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_w
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_w,
             CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_w AS w_off
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_w, w_off, COUNT(*) AS n_users
    FROM activity
    GROUP BY cohort_w, w_off
    ORDER BY cohort_w, w_off
    """,
)
def events_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users keyed by first-activity week,
    counted per week-offset of later activity — the retention matrix.
    One shuffle computes cohorts; the activity join is same-key
    (user_id) so it reuses that partitioning; the distinct collapses
    (user, cohort, offset) before the final count. Week identity is
    integer epoch-weeks, hash-stable across engines."""
    e = _events(spark, sf_dir)
    wk = lambda col: F.floor(F.unix_timestamp(col) / 604800).cast("long")  # noqa: E731
    firsts = e.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort_w"))
    activity = (
        e.select("user_id", wk(F.col("ts")).alias("w"))
        .join(firsts, "user_id")
        .select("user_id", "cohort_w", (F.col("w") - F.col("cohort_w")).alias("w_off"))
        .distinct()
    )
    return (
        activity.groupBy("cohort_w", "w_off")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_w", "w_off")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev AS prev_type, event_type AS next_type,
           COUNT(*) AS n_trans,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY prev), 6) AS p
    FROM seq
    WHERE prev IS NOT NULL
    GROUP BY prev, event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: P(next | prev) with exact counts — the behavioral
    fingerprint that powers next-action prediction and bot detection.

    One keyed window (partitioned by user, ordered by ts with the
    unique event_id tiebreaker so lag is deterministic under ts ties)
    computes predecessors; transitions then hash-agg to a |types|²
    matrix, so the only per-event shuffle is the user partitioning.
    The row-normalizing totals live on a window over the *aggregated*
    matrix (≤ |types|² rows) — never a second pass over events.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    norm = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(norm), 6
        ).alias("p"),
    )


@query(
    "events_pareto_user_deciles",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, n,
             NTILE(10) OVER (PARTITION BY event_type
                             ORDER BY n DESC, user_id) AS decile
      FROM per_user
    ),
    d AS (
      SELECT event_type, decile,
             COUNT(*) AS n_users,
             CAST(SUM(n) AS BIGINT) AS n_events
      FROM ranked GROUP BY event_type, decile
    ),
    t AS (SELECT event_type, SUM(n_events) AS tot FROM d GROUP BY event_type)
    SELECT d.event_type, decile, n_users, n_events,
           floor((CAST(n_events AS DOUBLE) / tot) * 1000000 + 0.5)
             / 1000000 AS share,
           floor((CAST(SUM(n_events) OVER (PARTITION BY d.event_type
                                           ORDER BY decile) AS DOUBLE) / tot)
                 * 1000000 + 0.5) / 1000000 AS cum_share
    FROM d JOIN t ON t.event_type = d.event_type
    """,
)
def events_pareto_user_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / Lorenz concentration of activity: per event type, users
    ranked into activity deciles (decile 1 = heaviest) with each
    decile's share and cumulative share of total events — the
    "top 10% of users generate X% of traffic" curve, the per-slice
    companion to the Gini coefficient in `operators/stats.py`.

    One hash-agg collapses events to per-user counts; the ntile window
    runs over those collapsed rows (keyed by type, user_id tie-break
    for deterministic decile boundaries); everything after is
    decile-row-sized. Shares are exact-integer ratios; the cumulative
    sum walks 10 rows in decile order in both engines, so the doubles
    fold identically into the half-away floor-round.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    ranked = per_user.select(
        "event_type", "n", F.ntile(10).over(wd).alias("decile")
    )
    d = ranked.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )
    t = d.groupBy("event_type").agg(F.sum("n_events").alias("tot"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    share = F.col("n_events").cast("double") / F.col("tot")
    cum = F.sum("n_events").over(wc).cast("double") / F.col("tot")
    return (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "decile",
            "n_users",
            "n_events",
            half_up(share, 6).alias("share"),
            half_up(cum, 6).alias("cum_share"),
        )
    )


@query(
    "events_funnel_within_session",
    oracle=f"""
    WITH {_ISLANDS_EV_CTES},
    s1 AS (
      SELECT user_id, sess,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS v
      FROM islands GROUP BY user_id, sess
    ),
    s2 AS (
      SELECT s1.user_id, s1.sess, s1.v,
             MIN(CASE WHEN i.event_type = 'click' AND i.ts >= s1.v
                      THEN i.ts END) AS c
      FROM s1 JOIN islands i
        ON i.user_id = s1.user_id AND i.sess = s1.sess
      GROUP BY s1.user_id, s1.sess, s1.v
    ),
    s3 AS (
      SELECT s2.user_id, s2.sess, s2.v, s2.c,
             MIN(CASE WHEN i.event_type = 'purchase' AND i.ts >= s2.c
                      THEN i.ts END) AS p
      FROM s2 JOIN islands i
        ON i.user_id = s2.user_id AND i.sess = s2.sess
      GROUP BY s2.user_id, s2.sess, s2.v, s2.c
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(COUNT(v) AS BIGINT) AS n_with_view,
           CAST(COUNT(c) AS BIGINT) AS n_view_click,
           CAST(COUNT(p) AS BIGINT) AS n_full_funnel
    FROM s3
    """,
)
def events_funnel_within_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View → click → purchase conversion WITHIN a single 30-minute
    session (the certified touch-merges gap semantics) — the
    intent-to-action funnel: the per-user funnel
    (`events_funnel_view_click_purchase`) credits conversions days
    apart; this one only counts a stage if it happens in the same
    sitting, which is what checkout-flow optimization actually tunes.

    Sessionization is the certified keyed islands window; each funnel
    stage is a conditional-min aggregate over the session's events
    anchored at the previous stage's first timestamp (>= : a click in
    the same event-time instant as the first view counts — ties are
    simultaneous, not out of order). Three session-keyed aggregates,
    each a join back to the (already partitioned) session rows —
    constant output.
    """
    islands = _islands(spark, sf_dir)
    s2 = _first_after(_first_view(islands), islands, "click", "v", "c")
    s3 = _first_after(s2, islands, "purchase", "c", "p")
    return s3.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("v").cast("long").alias("n_with_view"),
        F.count("c").cast("long").alias("n_view_click"),
        F.count("p").cast("long").alias("n_full_funnel"),
    )


# Session-scoped view→purchase latency in exact microseconds, shared
# by the exact-quartile and log2-sketch percentile queries (identical
# CTE text keeps the two oracles' latency semantics one definition).
_LAT_CTES = f"""{_ISLANDS_EV_CTES},
    s1 AS (
      SELECT user_id, sess,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS v
      FROM islands GROUP BY user_id, sess
    ),
    s3 AS (
      SELECT s1.user_id, s1.sess, s1.v,
             MIN(CASE WHEN i.event_type = 'purchase' AND i.ts >= s1.v
                      THEN i.ts END) AS p
      FROM s1 JOIN islands i
        ON i.user_id = s1.user_id AND i.sess = s1.sess
      GROUP BY s1.user_id, s1.sess, s1.v
    ),
    lat AS (
      SELECT epoch_us(p) - epoch_us(v) AS us
      FROM s3 WHERE p IS NOT NULL
    )"""


def _conversion_latencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_LAT_CTES``: one row per converting session,
    column ``us`` = exact first-view→first-subsequent-purchase
    microseconds. Sessionization is one user-keyed window; both
    follow-up aggregations reuse the (user_id, sess) partitioning.

    The set is small and its lineage is not: the quartile query reads
    it in four branches and the log2 sketch in two, and each branch
    would rerun the windows. So it is built once per session and
    checkpointed (``shared_df(materialize=True)``)."""

    def build() -> DataFrame:
        islands = _islands(spark, sf_dir)
        s3 = _first_after(_first_view(islands), islands, "purchase", "v", "p")
        return s3.filter(F.col("p").isNotNull()).select(
            (F.unix_micros("p") - F.unix_micros("v")).alias("us")
        )

    return shared_df("conversion_latencies", sf_dir, spark, build, materialize=True)


@query(
    "events_conversion_latency_quartiles",
    oracle=f"""
    WITH {_LAT_CTES},
    c AS (
      SELECT us,
             SUM(COUNT(*)) OVER (ORDER BY us
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum,
             SUM(COUNT(*)) OVER () AS n
      FROM lat GROUP BY us
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           MIN(CASE WHEN 4 * cum >= n THEN us END) / 1000000.0 AS p25_s,
           MIN(CASE WHEN 2 * cum >= n THEN us END) / 1000000.0 AS p50_s,
           MIN(CASE WHEN 4 * cum >= 3 * n THEN us END) / 1000000.0 AS p75_s
    FROM c
    """,
)
def events_conversion_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How long does view → purchase take WITHIN a session? Lower
    quartiles of the first-view-to-first-subsequent-purchase latency
    over converting sessions — the speed number checkout optimization
    tracks next to the conversion rate
    (`events_funnel_within_session`).

    Quartiles use the grid-walk LOWER-quantile definition (smallest
    latency whose cumulative count reaches ¼/½/¾ of converters) — a
    pure integer comparison over exact microsecond diffs, the
    `agg_weighted_median_price` pattern, so no interpolation rule can
    disagree cross-engine. Cumulative counts over the distinct-latency
    grid come from a TWO-LEVEL prefix sum (no global window — the repo
    bans unpartitioned WindowExec — and no triangular self-join over
    the raw grid, whose O(g²) output grows quadratically in distinct
    microsecond latencies): a keyed cumulative window WITHIN each
    minute bucket plus an offset from the strictly-earlier buckets,
    where the bucket roll-up is bounded by the latency RANGE in
    minutes — not by data volume — and `require_bounded` makes a
    dirty-data blowup fail loudly instead of degrading.
    """
    from pyspark.sql import Window

    lat = _conversion_latencies(spark, sf_dir)
    grid = lat.groupBy("us").agg(F.count(F.lit(1)).alias("k"))
    # two-level prefix sum (see docstring): within-minute keyed window
    # + offset from strictly-earlier minute buckets. The triangular
    # join runs over the BUCKET aggregate only.
    g2 = grid.withColumn("mb", F.floor(F.col("us") / 60_000_000))
    wmin = (
        Window.partitionBy("mb")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g2.select("mb", "us", F.sum("k").over(wmin).alias("cw"))
    bkt = g2.groupBy("mb").agg(F.sum("k").alias("bt"))
    require_bounded(
        bkt,
        100_000,
        what="latency minute-bucket grid",
        hint=(
            "the view→purchase latency range spans more than 100,000 "
            "distinct minutes (~69 days) — a latency-range sanity cap: "
            "either the events table has corrupt timestamps (clean them) "
            "or latencies genuinely span months, in which case raise the "
            "cap AND widen the bucket unit past minutes so the bucket "
            "grid stays small"
        ),
    )
    off = (
        bkt.select("mb")
        .join(
            F.broadcast(bkt.select(F.col("mb").alias("mb2"), F.col("bt").alias("bt2"))),
            F.col("mb2") < F.col("mb"),
            "left",
        )
        .groupBy("mb")
        .agg(F.coalesce(F.sum("bt2"), F.lit(0)).alias("off"))
    )
    c = (
        within.join(F.broadcast(off), "mb")
        .select("us", (F.col("cw") + F.col("off")).alias("cum"))
        .crossJoin(F.broadcast(grid.agg(F.sum("k").alias("n"))))
    )
    q = lambda mult_c, mult_n: F.min(  # noqa: E731
        F.when(mult_c * F.col("cum") >= mult_n * F.col("n"), F.col("us"))
    )
    return c.agg(
        F.max("n").cast("long").alias("n_converted"),
        (q(4, 1) / 1_000_000.0).alias("p25_s"),
        (q(2, 1) / 1_000_000.0).alias("p50_s"),
        (q(4, 3) / 1_000_000.0).alias("p75_s"),
    )


@query(
    "events_poisson_burst_scan",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, bucket
    ),
    t AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot,
             MIN(bucket) AS mn, MAX(bucket) AS mx
      FROM s GROUP BY event_type
    )
    SELECT s.event_type, s.bucket, s.n,
           floor(((s.n - CAST(tot AS DOUBLE) / (mx - mn + 1))
                  / sqrt(CAST(tot AS DOUBLE) / (mx - mn + 1)))
                 * 10000 + 0.5) / 10000 AS z
    FROM s JOIN t USING (event_type)
    WHERE (s.n - CAST(tot AS DOUBLE) / (mx - mn + 1))
          / sqrt(CAST(tot AS DOUBLE) / (mx - mn + 1)) >= 4.0
    """,
)
def events_poisson_burst_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection against a Poisson null: per event type, the
    10-minute buckets whose count exceeds the type's mean bucket rate
    by ≥ 4 Poisson standard deviations (z = (n−λ)/√λ) — the classic
    ops-monitor scan for traffic spikes / scraper bursts, reported as
    the few offending buckets rather than the full series.

    One hash-agg to the (type, bucket) series, one per-type roll-up
    broadcast back. λ is a ratio of exact integers (total / span
    buckets), so z and the threshold comparison evaluate on identical
    doubles cross-engine; the output z gets one half-away 1e-4 round.
    """
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = s.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("tot"),
        F.min("bucket").alias("mn"),
        F.max("bucket").alias("mx"),
    )
    lam = F.col("tot").cast("double") / (F.col("mx") - F.col("mn") + 1)
    z = (F.col("n") - lam) / F.sqrt(lam)
    return (
        s.join(F.broadcast(t), "event_type")
        .filter(z >= 4.0)
        .select(
            "event_type",
            "bucket",
            "n",
            half_up(z, 4).alias("z"),
        )
    )


@query(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           floor((CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0)
                 * 10000 + 0.5) / 10000 AS mean_gap_s,
           CAST(MAX(gap_us) AS BIGINT) // 1000000 AS max_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps rolled up by the LATER event's type:
    how long since this user's previous event (any type) when a view/
    click/purchase fires — the traffic-model numbers (mean and worst
    gap) behind session-timeout tuning (`events_session_30min`'s
    30-minute gap is a claim about exactly this distribution) and
    watermark sizing for the streaming jobs.

    One keyed lag window (partitioned by user — the natural key; the
    skew stress suite covers the hot-user shape), gaps as exact
    integer microsecond diffs with a (ts, event_id) total order for
    tie stability, then one hash-agg; mean is a ratio of exact ints
    with one half-away round.
    """
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        half_up(
            F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1000000.0, 4
        ).alias("mean_gap_s"),
        F.expr("max(gap_us) div 1000000").alias("max_gap_s"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ),
    first AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    ),
    cohort_n AS (
      SELECT cohort_week, COUNT(*) AS cohort_size FROM first GROUP BY cohort_week
    ),
    act AS (
      SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
             COUNT(*) AS active_users
      FROM wk w JOIN first f USING (user_id)
      WHERE w.week - f.cohort_week BETWEEN 0 AND 7
      GROUP BY 1, 2
    )
    SELECT a.cohort_week, a.week_offset, a.active_users,
           c.cohort_size,
           floor(a.active_users * 10000.0 / c.cohort_size + 0.5) / 100
             AS retention_pct
    FROM act a JOIN cohort_n c USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the epoch
    week of their FIRST event; cell (cohort, offset) counts how many
    of them were active `offset` weeks later, with retention as a
    percentage of the cohort. The canonical growth-analytics rollup
    (no reference analogue — the events table is the contract's
    behavioral extension).

    Plan: the raw events shuffle ONCE — a single user-keyed
    `collect_set(week)` (map-side partial set merge; set size is
    bounded by the timeline's week count, not by event volume), from
    which the cohort week is `array_min` and the offsets explode
    per-user — then two rollups on the tiny (cohort[, offset]) grids
    and a broadcast join. At 100 TB this is one |events|-scale
    exchange instead of the naive distinct + min + self-join's two
    exchanges and a join. Weeks are integer epoch buckets
    (floor(unix/604800)) — `unix_timestamp` truncation matches the
    oracle's floor(epoch(ts)) exactly.
    """
    e = _events(spark, sf_dir)
    per_user = (
        e.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
        .select(
            F.array_min("weeks").alias("cohort_week"),
            F.explode("weeks").alias("week"),
        )
    )
    cohort_n = per_user.filter(F.col("week") == F.col("cohort_week")).groupBy(
        "cohort_week"
    ).agg(F.count(F.lit(1)).alias("cohort_size"))
    act = (
        per_user.select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .filter(F.col("week_offset").between(0, 7))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return (
        act.join(cohort_n, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            (
                F.floor(
                    F.col("active_users") * 10000.0 / F.col("cohort_size") + 0.5
                )
                / 100
            ).alias("retention_pct"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d
    ),
    wk_dau AS (
      SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
             floor(AVG(dau) * 10000 + 0.5) / 10000 AS avg_dau
      FROM dau GROUP BY 1
    ),
    wau AS (
      SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM du GROUP BY 1
    )
    SELECT w.wk, d.avg_dau, w.wau,
           floor(d.avg_dau / w.wau * 10000 + 0.5) / 10000 AS stickiness
    FROM wau w JOIN wk_dau d USING (wk)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week — the engagement ratio every
    product-analytics pipeline reports: average daily active users in
    a week divided by that week's weekly actives (1.0 = everyone
    active every day, ~1/7 = one-visit users). Both engines truncate
    weeks to Monday (``date_trunc('week')``), so week identity crosses
    engines as a plain DATE.

    Scale shape: ONE distinct over (user, day) — a hash-agg with
    map-side partials that shrinks 100 TB of raw events to at most
    |users|×|days| rows — and everything after runs on that reduced
    table (two tiny re-aggs into |weeks| rows joined at the end, both
    reusing the same exchange under AQE). No window functions, no
    per-event shuffle. avg_dau is an average of integer day-counts and
    stickiness a ratio of such averages — both pinned with
    ``half_up(x, 4)``, which both engines compute identically; the
    counts are BIGINT on both sides."""
    du = (
        _events(spark, sf_dir)
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wk_dau = (
        dau.groupBy(F.to_date(F.date_trunc("week", "d")).alias("wk"))
        .agg(half_up(F.avg("dau"), 4).alias("avg_dau"))
    )
    wau = (
        du.groupBy(F.to_date(F.date_trunc("week", "d")).alias("wk"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return wau.join(wk_dau, "wk").select(
        "wk",
        "avg_dau",
        "wau",
        half_up(F.col("avg_dau") / F.col("wau"), 4).alias("stickiness"),
    )


@query(
    "events_assoc_lift",
    oracle="""
    WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM du),
    ct AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM du GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, ca.n_t AS n_a, cb.n_t AS n_b, p.n_ab,
           (10000 * p.n_ab) // n.n_users AS support_bp,
           (10000 * p.n_ab) // ca.n_t    AS conf_a_to_b_bp,
           (10000 * p.n_ab) // cb.n_t    AS conf_b_to_a_bp,
           floor(CAST(p.n_ab AS DOUBLE) * n.n_users / ca.n_t / cb.n_t
                 * 10000 + 0.5) / 10000 AS lift
    FROM pairs p
    JOIN ct ca ON ca.event_type = p.type_a
    JOIN ct cb ON cb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def events_assoc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-user behavior baskets: for every
    unordered event-type pair, support (share of users doing both),
    both directional confidences, and lift (observed co-occurrence
    over the independence expectation) — lift > 1 flags behaviors
    that travel together (the cross-sell / next-action signal), < 1
    flags substitutes. Basket = the set of event types a user ever
    fired.

    Scale shape: ONE distinct collapses the event stream to at most
    |users|×|types| rows; the pair table is a self-join on user_id
    whose per-user fanout is bounded by |types|² (a constant — 5
    types → ≤10 pairs per user), so it scales linearly in users, not
    events. Everything after is |types|²-sized joined against the
    |types|-row count table. No window functions.

    Float discipline: support/confidence are exact floor basis points
    (integer ``div``); lift is the single division chain
    n_ab·N / n_a / n_b written in the identical order both engines,
    half-away-floored to 4 decimals."""
    du = _events(spark, sf_dir).select("user_id", "event_type").distinct()
    n = du.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    ct = du.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a = du.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    b = du.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ca = ct.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    cb = ct.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    lift = half_up(
        F.col("n_ab").cast("double")
        * F.col("n_users")
        / F.col("n_a")
        / F.col("n_b"),
        4,
    )
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_ab",
            F.expr("(10000 * n_ab) div n_users").alias("support_bp"),
            F.expr("(10000 * n_ab) div n_a").alias("conf_a_to_b_bp"),
            F.expr("(10000 * n_ab) div n_b").alias("conf_b_to_a_bp"),
            lift.alias("lift"),
        )
    )


@query(
    "events_bot_signature_scan",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts) * 1000000) AS BIGINT)
               - CAST(floor(epoch(LAG(ts) OVER w) * 1000000) AS BIGINT)
               AS gap_us,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    gg AS (
      SELECT user_id, n_events, gap_us,
             CASE WHEN gap_us = LAG(gap_us) OVER
                    (PARTITION BY user_id ORDER BY rn)
                  THEN 0 ELSE 1 END AS chg,
             rn
      FROM (SELECT user_id, n_events, gap_us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY gap_us) AS rn
            FROM g WHERE gap_us IS NOT NULL) x
    ),
    runs AS (
      SELECT user_id, n_events,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fast_gaps,
             CAST(MAX(run_len) AS BIGINT) AS max_same_gap_run
      FROM (
        SELECT user_id, n_events, gap_us,
               COUNT(*) OVER (PARTITION BY user_id, island) AS run_len
        FROM (SELECT user_id, n_events, gap_us,
                     SUM(chg) OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
              FROM gg) i
      ) r
      GROUP BY user_id, n_events
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           n_gaps,
           (10000 * fast_gaps) // n_gaps AS fast_bp,
           max_same_gap_run,
           CASE WHEN (10000 * fast_gaps) // n_gaps > 5000
                  OR max_same_gap_run >= 5
                THEN 1 ELSE 0 END AS bot_flag
    FROM runs
    WHERE n_gaps >= 5
    """,
)
def events_bot_signature_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-traffic signature per user — the abuse filter a
    training-data pipeline runs before events feed any model: the
    share of sub-second inter-event gaps (machine-speed bursts) and
    the longest run of IDENTICAL consecutive gaps when gaps are laid
    out in sorted order (a metronomic scheduler produces many equal
    gaps; humans don't). Users with ≥ 5 gaps are scored; the flag
    fires on > 50% fast gaps or a same-gap run ≥ 5. Both signals are
    pure integers off the microsecond grid, so the verdict is exact
    and engine-independent — no learned model, no threshold drift.

    Scale shape: one keyed sort per user computes gaps (the lag
    window); the run-length pass is the certified gaps-islands idiom
    over the per-user gap multiset (keyed windows only — sorting by
    gap value groups equal gaps so the longest run IS the modal-gap
    multiplicity); output is |users| rows max. At 100 TB this is the
    sessionization shuffle shape, nothing more.

    Float discipline: none — gap microseconds are exact ints
    (``floor(epoch)`` both engines), shares are floor basis points."""
    from pyspark.sql import Window

    us = F.unix_micros("ts")
    e = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    g = e.select(
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.count(F.lit(1)).over(wn).alias("n_events"),
    ).filter(F.col("gap_us").isNotNull())
    wg = Window.partitionBy("user_id").orderBy("gap_us")
    gg = g.select(
        "user_id",
        "n_events",
        "gap_us",
        F.row_number().over(wg).alias("rn"),
        F.when(
            F.col("gap_us") == F.lag("gap_us").over(wg), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("chg"),
    )
    wi = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = gg.select(
        "user_id", "n_events", "gap_us", "rn", F.sum("chg").over(wi).alias("island")
    )
    run = isl.select(
        "user_id",
        "n_events",
        "gap_us",
        F.count(F.lit(1)).over(Window.partitionBy("user_id", "island")).alias(
            "run_len"
        ),
    )
    runs = run.groupBy("user_id", "n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.when(F.col("gap_us") < 1_000_000, 1).otherwise(0))
        .cast("long")
        .alias("fast_gaps"),
        F.max("run_len").cast("long").alias("max_same_gap_run"),
    )
    fast_bp = F.expr("(10000 * fast_gaps) div n_gaps")
    return runs.filter(F.col("n_gaps") >= 5).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "n_gaps",
        fast_bp.alias("fast_bp"),
        "max_same_gap_run",
        F.when((fast_bp > 5000) | (F.col("max_same_gap_run") >= 5), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bot_flag"),
    )


# POSITIVE-EPOCH ASSUMPTION (shared by every op bucketing with this
# constant, plus the weekly 604800000000 buckets): Spark `div`
# truncates toward zero while the DuckDB oracles' `//` floors, so the
# two only agree for timestamps >= 1970-01-01. A pre-epoch fixture
# would hash-flake — if one ever appears, switch both engines to
# pmod-based flooring: (x - pmod(x, W)) / W  <->  x - (x % W + W) % W.
_HOUR_US = 3_600_000_000


@query(
    "events_concurrency_by_hour",
    oracle=f"""
    WITH {_ISLANDS_CTES},
    sessions AS (
      SELECT user_id,
             epoch_us(MIN(ts)) // {_HOUR_US} AS h1,
             epoch_us(MAX(ts)) // {_HOUR_US} AS h2
      FROM islands GROUP BY user_id, sess
    ),
    covered AS (
      SELECT user_id, unnest(range(h1, h2 + 1)) AS h FROM sessions
    )
    SELECT CAST(h * {_HOUR_US} AS BIGINT)     AS hour_start_us,
           CAST(COUNT(*) AS BIGINT)           AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM covered GROUP BY h
    """,
)
def events_concurrency_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session load per hour — the capacity-planning curve
    an event platform reads before sizing state stores and serving
    fleets: a session (30-minute inactivity gap, the same
    merge-on-touch semantics `events_session_30min` certifies) is
    ACTIVE in every hour bucket between its first and last event, and
    each hour reports active sessions plus distinct active users
    (a user whose gap splits inside one hour carries 2 sessions there,
    so n_sessions ≥ n_users — the difference is the reconnect rate).

    Scale shape: one sessionization shuffle on user_id (the same
    hash partitioning every per-user op reuses) collapses events to
    |sessions| rows; the hour expansion is a narrow bounded explode
    (span of a 30-min-gap session, not of the timeline); the final
    hash-agg lands on |hours| rows with map-side partials. Hour
    identity crosses engines as exact integer epoch-micro division —
    no timestamp formatting anywhere.

    Reference basis: none (the reference has no event semantics);
    contract C5 event-time family, composing the certified session
    definition."""
    e = _events(spark, sf_dir)
    sess = e.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.expr(f"unix_micros(min(ts)) div {_HOUR_US}").alias("h1"),
        F.expr(f"unix_micros(max(ts)) div {_HOUR_US}").alias("h2"),
    )
    return hourly_concurrency(sess)


def hourly_concurrency(sessions: DataFrame) -> DataFrame:
    """Sessions active per hour from ``(user_id, h1, h2)`` rows — a
    session's first and last hour index — shared by
    `events_concurrency_by_hour` and its streaming arm
    (`stream_concurrency_by_hour`): each session expands to every hour
    from h1 to h2, and each hour reports its sessions and distinct
    users."""
    covered = sessions.select(
        "user_id", F.explode(F.sequence("h1", "h2")).alias("h")
    )
    return covered.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    ).select(
        (F.col("h") * _HOUR_US).cast("long").alias("hour_start_us"),
        "n_sessions",
        "n_users",
    )


@query(
    "events_session_paths_top20",
    oracle=f"""
    WITH {_ISLANDS_EV_CTES},
    paths AS (
      SELECT user_id, sess,
             array_to_string(
               list(event_type ORDER BY ts, event_type)[1:3], ' > ') AS path
      FROM islands GROUP BY user_id, sess
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def events_session_paths_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening journeys — the path-analysis table a
    product team reads to see HOW sessions start: each 30-minute-gap
    session (the certified `events_session_30min` semantics) is
    reduced to its first three events in time order ('view > click >
    purchase'), and paths rank by session count. Onboarding changes,
    bot traffic, and dark-pattern loops all show up as path-share
    shifts here before they show up anywhere else.

    Determinism: events inside a session sort by (ts, event_type) —
    the struct sort on Spark and the two-key ORDER BY in the oracle
    agree even when two events share a timestamp; top-20 ties break
    on the path string.

    Scale shape: ONE sessionization shuffle on user_id; the per-
    session path is an in-group array sort of that session's events
    (bounded by session length, never a global sort) sliced to 3;
    path counts land on a tiny hash-agg (paths ≤ |event_types|³ + 
    shorter prefixes) and the global top-20 is TakeOrdered — 
    per-partition heaps, no full sort. No window over an
    unpartitioned frame anywhere."""
    e = _events(spark, sf_dir)
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                " > ",
                F.transform(
                    F.slice("evs", 1, 3), lambda s: s["event_type"]
                ),
            ).alias("path")
        )
    )
    return (
        sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# The log2 read-off over a ``lat(us)`` CTE: bucket = bit length of the
# microsecond count, cumulative counts, and each percentile's bucket
# upper bound 2^bl - 1. `stream_latency_sketch_sealed` ends the same way.
_LOG2_SKETCH_SQL = """b AS (SELECT length(bin(us)) AS bl FROM lat),
    g AS (SELECT bl, CAST(COUNT(*) AS BIGINT) AS k FROM b GROUP BY bl),
    c AS (
      SELECT a.bl, CAST(SUM(bb.k) AS BIGINT) AS cum
      FROM g a JOIN g bb ON bb.bl <= a.bl
      GROUP BY a.bl
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b)
    SELECT n.n AS n_converted,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MIN(CASE WHEN 2 * cum >= n.n
                         THEN (CAST(1 AS BIGINT) << bl) - 1 END)
                AS BIGINT) AS p50_hi_us,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * n.n
                         THEN (CAST(1 AS BIGINT) << bl) - 1 END)
                AS BIGINT) AS p90_hi_us,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * n.n
                         THEN (CAST(1 AS BIGINT) << bl) - 1 END)
                AS BIGINT) AS p99_hi_us
    FROM c, n
    GROUP BY n.n
    """


@query(
    "events_latency_log2_sketch",
    oracle=f"""
    WITH {_LAT_CTES},
    {_LOG2_SKETCH_SQL}""",
)
def events_latency_log2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed latency percentiles — the HdrHistogram/DDSketch
    idea as a certified operator: conversion latencies (the SAME
    session-scoped view→purchase definition the exact quartiles query
    certifies, one shared CTE block) bucket by binary magnitude
    (bucket = bit length of the microsecond count — a pure
    integer/string op, ``bin()``/``F.bin`` on both engines, so bucket
    identity can never drift at a power-of-two boundary the way a
    float log2 could), and p50/p90/p99 read off the cumulative bucket
    counts as each bucket's inclusive upper bound 2^bl − 1.

    Why it exists next to the exact form: exact percentiles need the
    full distinct-latency grid (the quartiles query's two-level
    prefix sum); THIS sketch is a ≤ 64-row constant-size state that
    is map-side combinable, mergeable across days/partitions/
    clusters, and streamable — the shape latency monitoring actually
    deploys — at the documented cost of ≤ 2× relative error (one
    binary magnitude). The exact query stays the audit; a p99 that
    crosses a bucket boundary is real movement, not noise.

    Scale shape: the latency derivation is the certified shared
    pipeline (one user-keyed sessionization); after it, ONE hash-agg
    into ≤ 64 buckets, a self-join of that constant-size grid for
    cumulative counts and the total, and a 1-row summary. Zero
    data-volume-dependent state past the bucket agg.

    Reference basis: none; contract training/ops-analytics family
    (SURVEY §2.10)."""
    return log2_latency_readoff(_conversion_latencies(spark, sf_dir))


def log2_latency_readoff(lat: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """The log2 latency read-off over ``lat(*by, us)``, per ``by`` group
    — the kernel of `events_latency_log2_sketch` and of its streaming
    arms (`stream_latency_sketch_sealed` corpus-wide,
    `stream_latency_alert_daily` per day). Buckets are the bit length
    of ``us``; one self-join of the ≤ 64-row bucket grid within a group
    gives each bucket its cumulative count ``cum`` and the group total
    ``n_converted``; p50/p90/p99 are the smallest bucket whose ``cum``
    reaches the rank (integer cross-multiplication), reported as the
    bucket's inclusive upper bound 2^bl − 1. Returns ``(*by,
    n_converted, n_buckets, p50_hi_us, p90_hi_us, p99_hi_us)``."""
    g = lat.groupBy(*by, F.length(F.bin("us")).alias("bl")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    g2 = g.select(
        *(F.col(c).alias(f"_{c}") for c in by),
        F.col("bl").alias("_bl"),
        F.col("k").alias("_k"),
    )
    same_group = F.lit(True)
    for c in by:
        same_group = same_group & (F.col(f"_{c}") == F.col(c))
    c = (
        g.join(F.broadcast(g2), same_group)
        .groupBy(*by, "bl")
        .agg(
            F.sum(F.when(F.col("_bl") <= F.col("bl"), F.col("_k")))
            .cast("long")
            .alias("cum"),
            F.sum("_k").cast("long").alias("n_converted"),
        )
    )
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), bl) - 1")

    def upper(num: int, den: int) -> Column:
        reached = num * F.col("cum") >= den * F.col("n_converted")
        return F.min(F.when(reached, hi)).cast("long")

    return c.groupBy(*by, "n_converted").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        upper(2, 1).alias("p50_hi_us"),
        upper(10, 9).alias("p90_hi_us"),
        upper(100, 99).alias("p99_hi_us"),
    )


@query(
    "events_weekly_seasonality_profile",
    oracle=f"""
    WITH h AS (
      SELECT ((epoch_us(ts) // {_HOUR_US}) + 72) % 168 AS how
      FROM events
    ),
    g AS (SELECT how, CAST(COUNT(*) AS BIGINT) AS n_events FROM h GROUP BY how),
    t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot FROM g)
    SELECT g.how AS hour_of_week, g.n_events,
           CAST((1000000 * g.n_events) // t.tot AS BIGINT) AS share_ppm
    FROM g, t
    """,
)
def events_weekly_seasonality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly traffic seasonality: event share per hour-of-week
    (0 = Monday 00:00 UTC … 167 = Sunday 23:00) — the 168-row profile
    capacity planning, anomaly baselines (`events_poisson_burst_scan`
    flags spikes; THIS is the seasonal rate it should be normalized
    against), and time-stratified sampling all read. Hour-of-week is
    pure integer arithmetic on epoch microseconds — epoch hour 0 is a
    Thursday, so ``(h + 72) mod 168`` re-anchors Monday to 0 — never
    a formatted timestamp, so the bucket identity cannot drift with
    engine timezone/locale behavior.

    Scale shape: ONE map-side-combinable hash-agg from the raw scan
    into ≤ 168 rows; shares are exact integer ppm against the 1-row
    broadcast total. At 100 TB with date-partitioned parquet this is
    a metadata-light full scan with a constant-size result.

    Reference basis: none; contract C5/ops-analytics family."""
    h = _events(spark, sf_dir).select(
        F.expr(f"((unix_micros(ts) div {_HOUR_US}) + 72) % 168").alias("how")
    )
    g = h.groupBy("how").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    t = g.agg(F.sum("n_events").cast("long").alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        F.col("how").alias("hour_of_week"),
        "n_events",
        F.expr("CAST((1000000 * n_events) div tot AS BIGINT)").alias(
            "share_ppm"
        ),
    )


@query(
    "events_daily_autocorrelation",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM lags l
      JOIN d a ON TRUE
      JOIN d b ON b.day = a.day + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT)   AS k,
             CAST(SUM(x) AS BIGINT)     AS sx,
             CAST(SUM(y) AS BIGINT)     AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_days, k AS n_pairs,
           (k * sxx - sx * sx = 0 OR k * syy - sy * sy = 0) AS degenerate,
           CASE WHEN k * sxx - sx * sx = 0 OR k * syy - sy * sy = 0 THEN 0.0
                ELSE floor(CAST(k * sxy - sx * sy AS DOUBLE)
                           / (SQRT(CAST(k * sxx - sx * sx AS DOUBLE))
                              * SQRT(CAST(k * syy - sy * sy AS DOUBLE)))
                           * 10000 + 0.5) / 10000
           END AS autocorr
    FROM m
    """,
)
def events_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1-7
    days — the seasonality STRENGTH test beside the seasonality
    PROFILE (`events_weekly_seasonality_profile` shows the shape;
    this says how much of tomorrow is explained by today vs a week
    ago: a weekly-periodic service peaks at lag 7, a trend-driven one
    decays monotonically). The number anomaly thresholds and forecast
    baselines are calibrated against.

    Exactness: daily counts are exact integers; every per-lag moment
    sum (Σx, Σy, Σx², Σy², Σxy over day pairs (t, t+lag)) is exact
    int64 — immune to accumulation order — and the Pearson form
    divides once with a half-away 1e-4 round (the
    `text_diversity_length_corr` discipline). Lags with zero variance
    report degenerate = TRUE and 0.0 explicitly on both engines.

    Scale shape: the raw scan collapses to |days| rows in one
    map-side-combinable agg; the lag self-join runs on that tiny
    series (|days|×7 pairs); 7 output rows. Day identity is exact
    integer epoch division — no timestamp formatting.

    Reference basis: none; contract ops-analytics/time-series family."""
    d = (
        _events(spark, sf_dir)
        .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    lags = spark.createDataFrame([(i,) for i in range(1, 8)], "lag long")
    a = d.select(F.col("day").alias("da"), F.col("n").alias("x"))
    b = d.select(F.col("day").alias("db"), F.col("n").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    d1 = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    degen = (d1 == 0) | (d2 == 0)
    return m.select(
        F.col("lag").alias("lag_days"),
        F.col("k").alias("n_pairs"),
        degen.alias("degenerate"),
        F.when(degen, F.lit(0.0))
        .otherwise(
            half_up(
                num.cast("double")
                / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
                4,
            )
        )
        .alias("autocorr"),
    )


@query(
    "events_retention_halflife_fit",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ),
    first AS (
      SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
    ),
    mx AS (SELECT MAX(week) AS max_week FROM wk),
    csz AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY cohort_week
    ),
    act AS (
      SELECT w.week - f.cohort_week AS o,
             CAST(COUNT(*) AS BIGINT) AS active
      FROM wk w JOIN first f USING (user_id)
      WHERE w.week - f.cohort_week BETWEEN 1 AND 7
      GROUP BY 1
    ),
    den AS (
      SELECT o.o, CAST(SUM(c.cohort_size) AS BIGINT) AS total
      FROM (SELECT unnest(range(1, 8)) AS o) o
      JOIN csz c ON TRUE
      CROSS JOIN mx
      WHERE c.cohort_week + o.o <= mx.max_week
      GROUP BY o.o
    ),
    pts AS (
      SELECT den.o AS x,
             ln(CAST(act.active AS DOUBLE) / den.total) AS y
      FROM den JOIN act ON act.o = den.o
      WHERE act.active > 0
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(CAST(floor(y * 1000000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sy9,
             CAST(SUM(CAST(floor(x * y * 1000000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sxy9
      FROM pts
    )
    SELECT k AS n_points,
           (k < 2 OR k * sxx - sx * sx = 0) AS degenerate,
           CASE WHEN k < 2 OR k * sxx - sx * sx = 0 THEN 0.0
                ELSE floor((CAST(k AS DOUBLE) * (sxy9 / 1000000000.0)
                            - sx * (sy9 / 1000000000.0))
                           / (k * sxx - sx * sx) * 1000000 + 0.5) / 1000000
           END AS slope_per_week,
           CASE WHEN k < 2 OR k * sxx - sx * sx = 0 THEN 0.0
                WHEN (CAST(k AS DOUBLE) * (sxy9 / 1000000000.0)
                      - sx * (sy9 / 1000000000.0))
                     / (k * sxx - sx * sx) >= 0 THEN 0.0
                ELSE floor(ln(2.0)
                           / (-((CAST(k AS DOUBLE) * (sxy9 / 1000000000.0)
                                 - sx * (sy9 / 1000000000.0))
                                / (k * sxx - sx * sx)))
                           * 10000 + 0.5) / 10000
           END AS halflife_weeks
    FROM m
    """,
)
def events_retention_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention HALF-LIFE: the exponential-decay fit over the pooled
    weekly retention curve — ln(retention) regressed on week offset
    1-7, slope converted to the single number a growth team quotes
    ("half the cohort is gone every H weeks"). Pools cohorts honestly:
    offset o's denominator counts only cohorts OBSERVED at o
    (cohort_week + o ≤ max week), so young cohorts don't deflate the
    tail; offsets with zero active users are excluded from the log
    fit (and flagged by k < 7 in n_points). Cohort/offset identities
    are exactly `events_retention_cohorts`' definitions.

    Float discipline: retention rates are ratios of exact integers;
    each ln point and each x·ln term floors to integer nano-units
    BEFORE the (≤ 7-term) sums — order-immune — and the closed-form
    LS slope divides exact-integer x-moments once; slope and
    half-life round half-away at 1e-6/1e-4. Non-decaying or
    underdetermined curves (k < 2, zero x-variance, slope ≥ 0) report
    degenerate/0.0 EXPLICITLY on both engines.

    Scale shape: one (user, week) distinct (the retention family's
    only data-sized shuffle), then everything runs on ≤ |weeks| rows;
    the fit consumes ≤ 7 points. 1-row output.

    Reference basis: none; contract event-analytics family, the decay
    summary over the certified cohort table."""
    wk = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            # floor(epoch seconds) div 604800 — integer micros div 1e6
            # IS the floored epoch second for the fixture's positive
            # timestamps, matching the oracle's floor(epoch(ts))
            F.expr("(unix_micros(ts) div 1000000) div 604800").alias("week"),
        )
        .distinct()
    )
    first = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    mx = wk.agg(F.max("week").alias("max_week"))
    csz = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    act = (
        wk.join(first, "user_id")
        .select((F.col("week") - F.col("cohort_week")).alias("o"))
        .filter(F.col("o").between(1, 7))
        .groupBy("o")
        .agg(F.count(F.lit(1)).cast("long").alias("active"))
    )
    offsets = spark.createDataFrame([(i,) for i in range(1, 8)], "o long")
    den = (
        csz.crossJoin(F.broadcast(offsets))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("cohort_week") + F.col("o") <= F.col("max_week"))
        .groupBy("o")
        .agg(F.sum("cohort_size").cast("long").alias("total"))
    )
    pts = (
        den.join(act, "o")
        .filter(F.col("active") > 0)
        .select(
            F.col("o").alias("x"),
            F.log(F.col("active").cast("double") / F.col("total")).alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.floor(F.col("y") * 1000000000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sy9"),
        F.sum(
            F.floor(F.col("x") * F.col("y") * 1000000000 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sxy9"),
    )
    dvar = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    degen = (F.col("k") < 2) | (dvar == 0)
    slope = (
        F.col("k").cast("double") * (F.col("sxy9") / 1000000000.0)
        - F.col("sx") * (F.col("sy9") / 1000000000.0)
    ) / dvar
    return m.select(
        F.col("k").alias("n_points"),
        degen.alias("degenerate"),
        F.when(degen, F.lit(0.0))
        .otherwise(half_up(slope, 6))
        .alias("slope_per_week"),
        F.when(degen | (slope >= 0), F.lit(0.0))
        .otherwise(half_up(F.log(F.lit(2.0)) / (-slope), 4))
        .alias("halflife_weeks"),
    )


_VOLUME_MAD_ORACLE = """
    WITH w AS (
      SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS k
      FROM w
    ),
    med AS (
      SELECT event_type, CAST(MIN(n) AS BIGINT) AS m
      FROM ranked WHERE 2 * rk >= k GROUP BY event_type
    ),
    dev AS (
      SELECT w.event_type, w.n, ABS(w.n - med.m) AS d, med.m
      FROM w JOIN med USING (event_type)
    ),
    dranked AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS k
      FROM dev
    ),
    mad AS (
      SELECT event_type, CAST(MIN(d) AS BIGINT) AS mad
      FROM dranked WHERE 2 * rk >= k GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT)  AS n_weeks,
           CAST(MAX(dev.m) AS BIGINT) AS median_weekly,
           CAST(MAX(mad.mad) AS BIGINT) AS mad,
           CAST(SUM(CASE WHEN 10000 * dev.d > 44478 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous_weeks
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """


@query(
    "events_volume_anomaly_by_type_week",
    oracle=_VOLUME_MAD_ORACLE,
)
def events_volume_anomaly_by_type_week(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly ingest-volume anomaly monitor per event type — the
    robust (50%-breakdown) alarm a pipeline puts on its OWN input: a
    week whose count deviates from the type's median by more than
    3·1.4826·MAD is flagged, so a collector outage or a bot flood
    shows up as a number before it shows up as model drift. Median
    and MAD are the repo's LOWER-median grid walk (smallest value
    whose doubled rank reaches the count) over EXACT integer weekly
    counts — no interpolation rule to disagree cross-engine — and the
    1.4826 normal-consistency threshold (3 * 1.4826 = 44478/10000)
    is compared ALL-INTEGER — `10000*d > 44478*mad` — so DuckDB's
    exact-DECIMAL literal arithmetic and Spark's binary-double
    evaluation cannot disagree on the mad%5000==0 tie cases. A
    constant-volume type has MAD 0 and flags any deviation — the
    correct alarm for a flatlined source.

    Scale shape: the raw scan collapses to (type, week) counts in one
    map-side-combinable agg; both medians run as keyed windows over
    the per-type weekly grids (|weeks| rows per partition — bounded
    by calendar, not data); |types| output rows.

    Reference basis: none; contract ops-quality family (SURVEY
    §2.10), the input-side sibling of `quality_psi_drift`."""
    w = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 604800000000").alias("wk"),
        )
        .groupBy("event_type", "wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return volume_mad_verdict(w)


def _lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
    """Per ``event_type``, the lower median of ``col`` (smallest value
    whose doubled rank reaches the count) as ``out``."""
    from pyspark.sql import Window

    wr = Window.partitionBy("event_type").orderBy(col)
    wk = Window.partitionBy("event_type")
    return (
        df.withColumn("rk", F.row_number().over(wr))
        .withColumn("k", F.count(F.lit(1)).over(wk))
        .filter(2 * F.col("rk") >= F.col("k"))
        .groupBy("event_type")
        .agg(F.min(col).cast("long").alias(out))
    )


def volume_mad_verdict(weekly: DataFrame) -> DataFrame:
    """The weekly volume MAD alarm over ``(event_type, n)`` weekly
    counts — shared by `events_volume_anomaly_by_type_week` and its
    streaming arm (`stream_volume_anomaly_weekly`), certified by one
    oracle: lower median ``m``, lower-median absolute deviation
    ``mad``, and the weeks with ``10000·|n − m| > 44478·mad``.

    Each join's right side renames its key: on the streaming arm both
    sides descend from one memory-sink view, and a join on the shared
    attribute id would be a trivially true self-join condition (the
    `_build_minhash_pairs` same-lineage rule). Batch rows are the same
    either way."""
    med = _lower_median(weekly, "n", "m").withColumnRenamed(
        "event_type", "et_med"
    )
    dev = weekly.join(med, F.col("event_type") == F.col("et_med")).select(
        "event_type", "n", "m", F.abs(F.col("n") - F.col("m")).alias("d")
    )
    mad = _lower_median(dev, "d", "mad").withColumnRenamed(
        "event_type", "et_mad"
    )
    return (
        dev.join(mad, F.col("event_type") == F.col("et_mad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
            F.max("m").cast("long").alias("median_weekly"),
            F.max("mad").cast("long").alias("mad"),
            F.sum(
                F.when(
                    10000 * F.col("d") > 44478 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalous_weeks"),
        )
    )


@query(
    "events_burstiness_fano",
    oracle="""
    WITH d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS dy,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM d GROUP BY event_type
    )
    SELECT event_type, n_days, sx AS total_events,
           CAST((1000000 * (n_days * sxx - sx * sx)) // (n_days * sx)
                AS BIGINT) AS fano_ppm,
           (n_days * sxx - sx * sx) > (n_days * sx) AS is_bursty
    FROM m
    """,
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of the DAILY event-count
    series per type — the burstiness test an ingest pipeline runs to
    tell Poisson-like organic traffic (Fano ≈ 1) from bursty bot/batch
    traffic (Fano ≫ 1) and from quota-capped flatlines (Fano < 1). The
    all-integer identity Fano = (n·Σx² − (Σx)²) / (n·Σx) over exact
    int64 daily counts makes both the ppm value and the bursty flag
    bit-identical cross-engine (numerator ≥ 0 by Cauchy-Schwarz, so
    floor-vs-truncate division agrees). Days are observed days
    (a type's quiet days don't enter its own grid — the flatline
    signal is `events_volume_anomaly_by_type_week`'s MAD-0 case).

    Scale shape: one map-side-combinable (type, day) count collapse,
    then a |types|-row moment agg — zero data-sized state after the
    first agg. Int64 headroom: 1e6·n·Σx² stays in range for daily
    per-type counts up to ~5e4 over a 10-year grid; past that, drop
    the ppm scaling to per-mille (same identity).

    Reference basis: none; contract ops-quality family (SURVEY
    §2.10), the dispersion sibling of the weekly MAD monitor."""
    d = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("dy"),
        )
        .groupBy("event_type", "dy")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return m.select(
        "event_type",
        "n_days",
        F.col("sx").alias("total_events"),
        F.expr(
            "CAST((1000000 * (n_days * sxx - sx * sx)) div (n_days * sx)"
            " AS BIGINT)"
        ).alias("fano_ppm"),
        (
            (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
            > (F.col("n_days") * F.col("sx"))
        ).alias("is_bursty"),
    )


_CHANGEPOINT_GUARD = "changepoint undefined: fewer than 2 observed days"


_CHANGEPOINT_ORACLE = f"""
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS s,
             CAST(MAX(day) AS BIGINT) AS last_day
      FROM d
    ),
    g AS (
      SELECT CASE WHEN nd < 2
                  THEN CAST(error('{_CHANGEPOINT_GUARD}') AS BIGINT)
                  ELSE nd END AS nd, s, last_day
      FROM tot
    ),
    cand AS (
      SELECT c.day,
             CAST(COUNT(o.day) AS BIGINT) AS nl,
             g.nd - COUNT(o.day) AS nr,
             CAST(SUM(o.n) AS BIGINT) AS sl,
             g.s - SUM(o.n) AS sr
      FROM d c JOIN d o ON o.day <= c.day, g
      WHERE c.day < g.last_day
      GROUP BY c.day, g.nd, g.s
    ),
    scored AS (
      SELECT day, nl, nr, sl, sr,
             abs(nr * sl - nl * sr) AS a,
             nl * nr AS b
      FROM cand
    ),
    rk AS (
      SELECT c.day, COUNT(o.day) AS beat
      FROM scored c LEFT JOIN scored o
        ON (o.a * c.b > c.a * o.b)
        OR (o.a * c.b = c.a * o.b AND o.day < c.day)
      GROUP BY c.day
    ),
    win AS (
      SELECT s.* FROM scored s JOIN rk ON rk.day = s.day
      WHERE rk.beat = 0
    )
    SELECT g.nd AS n_days,
           CAST(win.day * 86400000000 AS BIGINT) AS split_after_day_us,
           win.nl AS n_left_days,
           win.nr AS n_right_days,
           CAST((1000000 * win.a) // win.b AS BIGINT) AS gap_ppm,
           CAST(CASE WHEN win.nr * win.sl - win.nl * win.sr < 0 THEN 1
                     WHEN win.nr * win.sl - win.nl * win.sr > 0 THEN -1
                     ELSE 0 END AS BIGINT) AS step_sign
    FROM win, g
    """


@query(
    "events_changepoint_max_meanshift",
    oracle=_CHANGEPOINT_ORACLE,
)
def events_changepoint_max_meanshift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-changepoint detection on the daily event-count series —
    the first split of binary segmentation, the localization sibling
    of `ts_cusum_max_deviation` (CUSUM says HOW FAR the series drifts
    from its mean; this says WHERE the level shifts and by how much):
    the split day k maximizing the absolute mean gap
    |mean(days ≤ k) − mean(days > k)|, reported with the gap in
    floor-ppm events/day and the step direction.

    Exactness end to end: daily counts are exact integers; the gap
    comparison is the cross-multiplied rational form — candidate k
    scores a(k)/b(k) with a = |n_R·S_L − n_L·S_R|, b = n_L·n_R, and
    the argmax compares a_i·b_j vs a_j·b_i in int64 (products bounded
    by days²·Σn — fine at any realistic horizon), ties to the
    earliest day. No division until the final floor-ppm read-out, so
    the winner is bit-identical cross-engine. Fewer than 2 observed
    days raises LOUDLY on both engines. Defined over OBSERVED days
    (a day with zero events contributes no row — the ingest-volume
    monitors own gap detection).

    Scale shape: the raw scan collapses to |days| rows in one
    map-side-combinable agg; prefix sums and the argmax are bounded
    triangular self-joins on that tiny series (|days|² pairs, no
    single-partition window); one output row.

    Reference basis: none; contract ops-analytics/time-series family
    beside CUSUM, autocorrelation, and the Fano burstiness index."""
    d = (
        _events(spark, sf_dir)
        .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return changepoint_verdict(d)


def changepoint_verdict(d: DataFrame) -> DataFrame:
    """The batch-side changepoint verdict over a (day, n) daily-count
    series — factored out so the streaming arm
    (`stream_changepoint_daily`) runs the IDENTICAL argmax on its
    complete-mode snapshot and certifies byte-equality to the batch
    operator. See `events_changepoint_max_meanshift` for the exact
    rational-comparison semantics."""
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n").cast("long").alias("s"),
        F.max("day").cast("long").alias("last_day"),
    )
    g = tot.select(
        F.when(F.col("nd") >= 2, F.col("nd"))
        .otherwise(F.expr(f"raise_error('{_CHANGEPOINT_GUARD}')"))
        .cast("long")
        .alias("nd"),
        "s",
        "last_day",
    )
    o = d.select(F.col("day").alias("oday"), F.col("n").alias("onn"))
    cand = (
        d.crossJoin(F.broadcast(g))
        .filter(F.col("day") < F.col("last_day"))
        .join(F.broadcast(o), F.col("oday") <= F.col("day"))
        .groupBy("day", "nd", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nl"),
            F.sum("onn").cast("long").alias("sl"),
        )
        .select(
            "day",
            "nl",
            (F.col("nd") - F.col("nl")).cast("long").alias("nr"),
            "sl",
            (F.col("s") - F.col("sl")).cast("long").alias("sr"),
        )
    )
    scored = cand.select(
        "day",
        "nl",
        "nr",
        "sl",
        "sr",
        F.abs(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr"))
        .cast("long")
        .alias("a"),
        (F.col("nl") * F.col("nr")).cast("long").alias("b"),
    )
    other = scored.select(
        F.col("day").alias("jday"), F.col("a").alias("ja"), F.col("b").alias("jb")
    )
    rk = (
        scored.join(
            F.broadcast(other),
            (F.col("ja") * F.col("b") > F.col("a") * F.col("jb"))
            | (
                (F.col("ja") * F.col("b") == F.col("a") * F.col("jb"))
                & (F.col("jday") < F.col("day"))
            ),
            "left",
        )
        .groupBy("day", "nl", "nr", "sl", "sr", "a", "b")
        .agg(F.count("jday").alias("beat"))
        .filter(F.col("beat") == 0)
    )
    return rk.crossJoin(F.broadcast(g.select("nd"))).select(
        F.col("nd").alias("n_days"),
        (F.col("day") * 86400000000).cast("long").alias("split_after_day_us"),
        F.col("nl").alias("n_left_days"),
        F.col("nr").alias("n_right_days"),
        F.expr("CAST((1000000 * a) div b AS BIGINT)").alias("gap_ppm"),
        F.when(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr") < 0, 1)
        .when(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr") > 0, -1)
        .otherwise(0)
        .cast("long")
        .alias("step_sign"),
    )


def _cp_seg_sql(sfx: str, src: str) -> str:
    """One argmax-split CTE chain (the certified changepoint device)
    over daily-count CTE ``src``, suffixed ``sfx`` — emits win{sfx}
    with (day, nl, nr, sl, sr, a, b); empty when the segment has < 2
    days (no candidate split)."""
    return f"""
    tot{sfx} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS s,
             CAST(MAX(day) AS BIGINT) AS last_day
      FROM {src}
    ),
    cand{sfx} AS (
      SELECT c.day,
             CAST(COUNT(o.day) AS BIGINT) AS nl,
             t.nd - COUNT(o.day) AS nr,
             CAST(SUM(o.n) AS BIGINT) AS sl,
             t.s - SUM(o.n) AS sr
      FROM {src} c JOIN {src} o ON o.day <= c.day, tot{sfx} t
      WHERE c.day < t.last_day
      GROUP BY c.day, t.nd, t.s
    ),
    scored{sfx} AS (
      SELECT day, nl, nr, sl, sr,
             abs(nr * sl - nl * sr) AS a,
             nl * nr AS b
      FROM cand{sfx}
    ),
    rk{sfx} AS (
      SELECT c.day, COUNT(o.day) AS beat
      FROM scored{sfx} c LEFT JOIN scored{sfx} o
        ON (o.a * c.b > c.a * o.b)
        OR (o.a * c.b = c.a * o.b AND o.day < c.day)
      GROUP BY c.day
    ),
    win{sfx} AS (
      SELECT s.* FROM scored{sfx} s JOIN rk{sfx} ON rk{sfx}.day = s.day
      WHERE rk{sfx}.beat = 0
    )"""


def _cp_seg_select(sfx: str, level: int, segment: str) -> str:
    return f"""
    SELECT CAST({level} AS BIGINT) AS lvl, '{segment}' AS segment,
           CAST(win{sfx}.day * 86400000000 AS BIGINT)
             AS split_after_day_us,
           win{sfx}.nl AS n_left_days,
           win{sfx}.nr AS n_right_days,
           CAST((1000000 * win{sfx}.a) // win{sfx}.b AS BIGINT) AS gap_ppm,
           CAST(CASE WHEN win{sfx}.nr * win{sfx}.sl
                          - win{sfx}.nl * win{sfx}.sr < 0 THEN 1
                     WHEN win{sfx}.nr * win{sfx}.sl
                          - win{sfx}.nl * win{sfx}.sr > 0 THEN -1
                     ELSE 0 END AS BIGINT) AS step_sign
    FROM win{sfx}"""


_CP2_ORACLE = f"""
    WITH d0 AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    gg AS (
      SELECT CASE WHEN COUNT(*) < 2
                  THEN CAST(error('{_CHANGEPOINT_GUARD}') AS BIGINT)
                  ELSE CAST(COUNT(*) AS BIGINT) END AS nd
      FROM d0
    ),
    -- WHERE gg.nd >= 2 keeps the guard LOAD-BEARING (a tautology when
    -- the guard doesn't raise): a bare cross join lets the optimizer
    -- prune gg's unused error() CASE, mirroring the Spark-side fix
    d1 AS (SELECT d0.* FROM d0, gg WHERE gg.nd >= 2),
    {_cp_seg_sql("1", "d1")},
    d2 AS (SELECT d1.* FROM d1, win1 WHERE d1.day <= win1.day),
    {_cp_seg_sql("2", "d2")},
    d3 AS (SELECT d1.* FROM d1, win1 WHERE d1.day > win1.day),
    {_cp_seg_sql("3", "d3")}
    {_cp_seg_select("1", 1, "all")}
    UNION ALL
    {_cp_seg_select("2", 2, "left")}
    UNION ALL
    {_cp_seg_select("3", 2, "right")}
    ORDER BY lvl, segment
    """


def _cp_seg_spark(d: DataFrame) -> DataFrame:
    """Spark mirror of one `_cp_seg_sql` chain: the argmax split of a
    (day, n) segment via the bounded broadcast triangular self-join;
    empty when the segment has < 2 days."""
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n").cast("long").alias("s"),
        F.max("day").cast("long").alias("last_day"),
    )
    o = d.select(F.col("day").alias("oday"), F.col("n").alias("onn"))
    cand = (
        d.crossJoin(F.broadcast(tot))
        .filter(F.col("day") < F.col("last_day"))
        .join(F.broadcast(o), F.col("oday") <= F.col("day"))
        .groupBy("day", "nd", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nl"),
            F.sum("onn").cast("long").alias("sl"),
        )
        .select(
            "day",
            "nl",
            (F.col("nd") - F.col("nl")).cast("long").alias("nr"),
            "sl",
            (F.col("s") - F.col("sl")).cast("long").alias("sr"),
        )
    )
    scored = cand.select(
        "day",
        "nl",
        "nr",
        "sl",
        "sr",
        F.abs(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr"))
        .cast("long")
        .alias("a"),
        (F.col("nl") * F.col("nr")).cast("long").alias("b"),
    )
    other = scored.select(
        F.col("day").alias("jday"),
        F.col("a").alias("ja"),
        F.col("b").alias("jb"),
    )
    return (
        scored.join(
            F.broadcast(other),
            (F.col("ja") * F.col("b") > F.col("a") * F.col("jb"))
            | (
                (F.col("ja") * F.col("b") == F.col("a") * F.col("jb"))
                & (F.col("jday") < F.col("day"))
            ),
            "left",
        )
        .groupBy("day", "nl", "nr", "sl", "sr", "a", "b")
        .agg(F.count("jday").alias("beat"))
        .filter(F.col("beat") == 0)
        .drop("beat")
    )


def _cp_seg_out(win: DataFrame, level: int, segment: str) -> DataFrame:
    return win.select(
        F.lit(level).cast("long").alias("lvl"),
        F.lit(segment).alias("segment"),
        (F.col("day") * 86400000000).cast("long").alias(
            "split_after_day_us"
        ),
        F.col("nl").alias("n_left_days"),
        F.col("nr").alias("n_right_days"),
        F.expr("CAST((1000000 * a) div b AS BIGINT)").alias("gap_ppm"),
        F.when(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr") < 0, 1)
        .when(F.col("nr") * F.col("sl") - F.col("nl") * F.col("sr") > 0, -1)
        .otherwise(0)
        .cast("long")
        .alias("step_sign"),
    )


@query("events_changepoint_two_level", oracle=_CP2_ORACLE)
def events_changepoint_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-LEVEL binary segmentation of the daily event-count series —
    the recursion step the single-changepoint op documents itself as
    ("the first split of binary segmentation"): after the level-1
    split at day k, the SAME cross-multiplied rational argmax runs
    independently inside [first, k] and (k, last], yielding up to
    three splits that segment the series into up to four regimes —
    the read an incident review wants ("the jump on the 12th, and the
    slow ramp before it"). Every level reuses the certified device:
    integer daily counts, a = |n_R*S_L - n_L*S_R|, b = n_L*n_R,
    argmax by a_i*b_j vs a_j*b_i in int64, ties to the earliest day,
    no division before the floor-ppm read-out — bit-identical
    cross-engine. A sub-segment with < 2 observed days simply emits
    no row (no further split exists); fewer than 2 days GLOBALLY
    raises LOUDLY on both engines, like the parent op — and, unlike
    the parent, AT CALL TIME: the guarded daily series is
    localCheckpointed (`shared_df(materialize=True)`), which executes
    the guard's upstream stages while this function builds the plan,
    so the raise surfaces when the operator is CALLED, not at the
    caller's first action. Intentional: a degenerate series should
    fail the pipeline at construction, not leave a poisoned plan for
    some later `.count()` to trip over (pinned by
    `tests/test_round12_pending.py::test_changepoint_two_level_eager_guard`).

    Scale shape: the scan collapses to |days| rows once — and
    genuinely once: the guarded daily series is localCheckpointed
    (`shared_df(materialize=True)`), because the level-1 window is
    referenced four times (its own output row, the split-day seed,
    and both sub-segment filters) and each level-2 window references
    the series twice more — without materialization one action
    replays the full events scan ~8×. Each level is then the same
    bounded triangular self-join on the tiny cached series
    (3 * |days|^2 pairs worst case); at most 3 output rows.

    Reference basis: none; contract ops-analytics/time-series family
    — the depth-2 rung above `events_changepoint_max_meanshift`."""

    def build() -> DataFrame:
        d = (
            _events(spark, sf_dir)
            .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        gg = d.agg(
            F.when(F.count(F.lit(1)) >= 2, F.count(F.lit(1)))
            .otherwise(F.expr(f"raise_error('{_CHANGEPOINT_GUARD}')"))
            .cast("long")
            .alias("nd")
        )
        # The filter keeps ``nd`` LOAD-BEARING: a bare
        # ``.select("day", "n")`` lets column pruning drop the unused
        # guard aggregate entirely, and a 1-day series then returns
        # empty instead of raising (caught by the round-12 eager-guard
        # test). ``nd >= 2`` is a tautology whenever the guard doesn't
        # raise, so certified output is unchanged.
        return (
            d.crossJoin(F.broadcast(gg))
            .filter(F.col("nd") >= 2)
            .select("day", "n")
        )

    d1 = shared_df("changepoint_daily_guarded", sf_dir, spark, build,
                   materialize=True)
    # level-1 verdict: ONE row referenced four times — checkpoint it
    # too, or each reference replays the triangular self-join
    win1 = shared_df(
        "changepoint_two_level_win1",
        sf_dir,
        spark,
        lambda: _cp_seg_spark(d1),
        materialize=True,
    )
    s1 = win1.select(F.col("day").alias("sday"))
    d2 = d1.crossJoin(F.broadcast(s1)).filter(
        F.col("day") <= F.col("sday")
    ).select("day", "n")
    d3 = d1.crossJoin(F.broadcast(s1)).filter(
        F.col("day") > F.col("sday")
    ).select("day", "n")
    return (
        _cp_seg_out(win1, 1, "all")
        .unionByName(_cp_seg_out(_cp_seg_spark(d2), 2, "left"))
        .unionByName(_cp_seg_out(_cp_seg_spark(d3), 2, "right"))
        .orderBy("lvl", "segment")
    )


# ---------------------------------------------------------------------------
# Attribution family: SESSION-SCOPED FUNNEL ATTRIBUTION (the session sibling
# of the attribution trio, over the gap-session windows the streaming family
# certified).
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1_800_000_000  # 30-minute gap — matches the C5/C6 op
_FUNNEL_DAY_US = 86_400_000_000

_SESSION_FUNNEL_ORACLE = f"""
    WITH se AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus
      FROM events WHERE ts IS NOT NULL
    ),
    sm AS (
      SELECT user_id, event_type, tus,
             CASE WHEN LAG(tus) OVER (PARTITION BY user_id ORDER BY tus)
                       IS NULL
                       OR tus - LAG(tus) OVER (PARTITION BY user_id
                                               ORDER BY tus)
                          > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM se
    ),
    sg AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM sm
    ),
    sv AS (
      SELECT user_id, sid,
             CAST(MIN(tus) AS BIGINT) AS s_start,
             MIN(CASE WHEN event_type = 'view' THEN tus END) AS v
      FROM sg GROUP BY 1, 2
    ),
    sc AS (
      SELECT g.user_id, g.sid, CAST(MIN(g.tus) AS BIGINT) AS c
      FROM sg g JOIN sv ON sv.user_id = g.user_id AND sv.sid = g.sid
      WHERE g.event_type = 'click' AND g.tus >= sv.v
      GROUP BY 1, 2
    ),
    sp AS (
      SELECT g.user_id, g.sid, CAST(MIN(g.tus) AS BIGINT) AS p
      FROM sg g JOIN sc ON sc.user_id = g.user_id AND sc.sid = g.sid
      WHERE g.event_type = 'purchase' AND g.tus >= sc.c
      GROUP BY 1, 2
    ),
    fs AS (
      SELECT sv.user_id, sv.sid, sv.s_start, sv.v, sc.c, sp.p
      FROM sv LEFT JOIN sc USING (user_id, sid)
              LEFT JOIN sp USING (user_id, sid)
    )
    SELECT CAST(s_start // {_FUNNEL_DAY_US} AS BIGINT) AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(v) AS BIGINT) AS n_view,
           CAST(COUNT(c) AS BIGINT) AS n_view_click,
           CAST(COUNT(p) AS BIGINT) AS n_full_funnel,
           CAST(CASE WHEN COUNT(v) > 0
                     THEN (1000000 * COUNT(p)) // COUNT(v) END
                AS BIGINT) AS conv_full_per_view_ppm
    FROM fs
    GROUP BY 1 ORDER BY 1
    """


@query("events_session_funnel", oracle=_SESSION_FUNNEL_ORACLE)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SCOPED FUNNEL ATTRIBUTION — per gap-session (the
    30-minute-gap sessionization `stream_session_window_gap`
    certified, batch-replayed here as the classical gaps-islands
    construction) the ORDERED funnel view -> click -> purchase:
    a session converts a stage only if the event occurs AT/AFTER the
    previous stage's first completion (first view, then first click
    >= that view, then first purchase >= that click — min-ts
    anchoring, so an early purchase before any view never counts).
    Rolled up per session-start day: sessions, view sessions,
    view->click sessions, full-funnel sessions, and the exact-integer
    full-per-view conversion in ppm (NULL on view-less days, never a
    silent 0/0).

    The session sibling of the attribution trio — where
    `events_attribution_*` credit a conversion to its upstream
    touches, this certifies the within-session ORDER constraint, the
    thing position-based attribution assumes and never checks.

    Scale shape: per-user window functions (never a global sort),
    three per-session conditional aggregates over the sessionized
    frame, |sessions|-row joins collapsing to |days| rows. At 100 TB
    events are day-partitioned and the user-hash shuffle is the one
    repartition every session op shares.

    Reference basis: none; contract C5/C6 + attribution families
    (SURVEY §2.5, §2.10)."""
    from pyspark.sql import Window

    se = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("tus"),
        )
    )
    wu = Window.partitionBy("user_id").orderBy("tus")
    brk = (
        F.when(
            F.lag("tus").over(wu).isNull()
            | ((F.col("tus") - F.lag("tus").over(wu)) > _SESSION_GAP_US),
            1,
        )
        .otherwise(0)
    )
    sg = se.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(
            Window.partitionBy("user_id")
            .orderBy("tus")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sv = sg.groupBy("user_id", "sid").agg(
        F.min("tus").cast("long").alias("s_start"),
        F.min(F.when(F.col("event_type") == "view", F.col("tus"))).alias(
            "v"
        ),
    )
    sc = (
        sg.join(sv, ["user_id", "sid"])
        .filter(
            (F.col("event_type") == "click") & (F.col("tus") >= F.col("v"))
        )
        .groupBy("user_id", "sid")
        .agg(F.min("tus").cast("long").alias("c"))
    )
    sp = (
        sg.join(sc, ["user_id", "sid"])
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("tus") >= F.col("c"))
        )
        .groupBy("user_id", "sid")
        .agg(F.min("tus").cast("long").alias("p"))
    )
    fs = (
        sv.join(sc, ["user_id", "sid"], "left")
        .join(sp, ["user_id", "sid"], "left")
    )
    return (
        fs.groupBy(
            F.expr(f"s_start div {_FUNNEL_DAY_US}")
            .cast("long")
            .alias("day_idx")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.count("v").cast("long").alias("n_view"),
            F.count("c").cast("long").alias("n_view_click"),
            F.count("p").cast("long").alias("n_full_funnel"),
            F.when(
                F.count("v") > 0,
                F.expr("(1000000 * count(p)) div count(v)"),
            )
            .cast("long")
            .alias("conv_full_per_view_ppm"),
        )
        .orderBy("day_idx")
    )
