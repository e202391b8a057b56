"""Banded range/interval join (SURVEY §2.3 J5 done right at scale).

A condition like ``|a.ts - b.ts| <= W`` is a theta-join: Spark's only
generic plan is a broadcast-nested-loop over the cross product — O(n·m)
and interpreted. The scale fix is BANDING: bucket both sides by
``floor(ts / W)``; any qualifying pair's buckets differ by at most 1,
so joining on (key, bucket) with the probe side exploded to
{bucket-1, bucket, bucket+1} turns the theta-join into a hash
EQUI-join, then the exact predicate filters the ~3× candidate set.
Cost drops from |L|×|R| per key to Σ bucket-pair sizes; the plan
becomes a plain shuffled hash join that AQE can size and skew-split.

tests/test_plans.py-style guarantee: the oracle runs DuckDB's direct
inequality join, so banding provably loses no pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


def banded_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delta_us: int,
) -> DataFrame:
    """Pairs (l, r) sharing ``on`` with |l.ts - r.ts| <= max_delta_us.
    Timestamps are compared as epoch-micro longs. Both inputs keep all
    their columns; the right side's are suffixed ``_r`` on collision.
    """
    lcol = set(left.columns)
    rren = right
    for c in right.columns:
        if c in lcol and c != on:
            rren = rren.withColumnRenamed(c, c + "_r")
    rts = right_ts + ("_r" if right_ts in lcol and right_ts != on else "")

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(rts))
    lb = left.withColumn("_lus", l_us).withColumn(
        "_band", F.floor(F.col("_lus") / max_delta_us)
    )
    rb = rren.withColumn("_rus", r_us).withColumn(
        "_band0", F.floor(F.col("_rus") / max_delta_us)
    )
    rb = rb.withColumn(
        "_band", F.explode(F.array(F.col("_band0") - 1, F.col("_band0"), F.col("_band0") + 1))
    ).drop("_band0")
    out = lb.join(rb, [on, "_band"]).filter(
        F.abs(F.col("_lus") - F.col("_rus")) <= max_delta_us
    )
    return out.drop("_band", "_lus", "_rus")


@query(
    "rangejoin_view_near_purchase",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS delta_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 600000000
    """,
)
def rangejoin_view_near_purchase(spark, sf_dir: str) -> DataFrame:
    """Views within ±10 min of a purchase by the same user — the
    banded equi-join plan; the oracle's direct inequality join proves
    no pair is lost at the band edges."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = banded_interval_join(
        views, purchases, on="user_id", left_ts="ts", right_ts="ts",
        max_delta_us=600_000_000,
    )
    return j.select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_micros(F.col("ts_r")) - F.unix_micros(F.col("ts"))).alias("delta_us"),
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.click_id, c.ts AS cts, p.purchase_id, p.cents
      FROM c JOIN p ON c.user_id = p.user_id
       AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000
    ),
    r AS (
      SELECT *, COUNT(*) OVER (PARTITION BY purchase_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts, click_id) AS rk
      FROM j
    ),
    cr AS (
      SELECT click_id, cts,
             cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END
               AS credit
      FROM r
    )
    SELECT (CAST(floor(epoch(cts) / 3600) AS BIGINT) * 3600) * 1000000
               AS hour_us,
           COUNT(*) AS n_credited_clicks,
           ROUND(SUM(credit) / 100.0, 2) AS attributed_value
    FROM cr GROUP BY 1
    """,
)
def events_attribution_linear(spark, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    across the user's clicks in the preceding 30 minutes, and credited
    revenue rolls up by CLICK hour — the marketing report that says
    which hours' engagement actually drove spend (vs
    `asof_click_last_purchase`, which is last-touch).

    Two scale-critical moves:

    - The click↔purchase pairing is the BANDED equi-join
      (`banded_interval_join`), never a theta nested-loop; the
      one-sided [0, 30 min] window filters the banded candidates.
    - Credit splitting uses the PENNY-ALLOCATION ledger: each click
      gets ⌊cents/n⌋ and the first (cents mod n) clicks — ordered by
      click time, ties by id — get the extra cent. Pure integer
      arithmetic, so the split is EXACT and bit-identical
      cross-engine, and the credited total provably equals the
      purchase total (no 1/n float crumbs lost at any parallelism —
      the same discipline as functions/money.py, extended through a
      division).

    Both windows key on purchase_id, so state shards by purchase; the
    hourly rollup is a count-row-sized hash-agg."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = banded_interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        max_delta_us=1_800_000_000,
    ).filter(
        (F.unix_micros(F.col("ts_r")) - F.unix_micros(F.col("ts")))
        .between(0, 1_800_000_000)
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("ts", "click_id")
    r = j.select(
        "click_id",
        F.col("ts").alias("cts"),
        "cents",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rk"),
    )
    credit = F.expr("cents div n") + F.when(
        F.col("rk") <= F.col("cents") % F.col("n"), 1
    ).otherwise(0)
    cr = r.select("click_id", "cts", credit.alias("credit"))
    hour = (F.floor(F.unix_seconds(F.col("cts")) / 3600) * 3600) * 1_000_000
    return cr.groupBy(hour.alias("hour_us")).agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.round(F.sum("credit") / 100.0, 2).alias("attributed_value"),
    )


@query(
    "join_interval_overlap_quarters",
    oracle="""
    WITH iv AS (
      SELECT o_custkey, MIN(o_orderdate) AS s, MAX(o_orderdate) AS e
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT q_start, q_start + INTERVAL 3 MONTH AS q_end
      FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                          TIMESTAMP '2001-07-01',
                                          INTERVAL 3 MONTH)) AS q_start)
    )
    SELECT strftime(q_start, '%Y-%m-%d') AS quarter,
           COUNT(*) AS n_active_customers
    FROM q JOIN iv ON iv.s < q.q_end AND iv.e >= q.q_start
    GROUP BY q_start
    """,
)
def join_interval_overlap_quarters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-OVERLAP join (Allen's 'overlaps' relaxed to half-open
    [s, e] vs [q_start, q_end)): customers whose order-activity span
    intersects each calendar quarter. The fact side collapses to one
    [first, last] interval per customer (hash-agg), then joins a
    GENERATED quarter dim of 27 rows — broadcast, so the interval table
    never shuffles for the theta condition and the 'join' is a scan +
    broadcast nested loop over a dim small enough that BNL is the
    *optimal* plan, not the fallback (cf. banded_interval_join for the
    big-big case)."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("s"), F.max("o_orderdate").alias("e")
    )
    q = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_timestamp(F.lit("1995-01-01")),
                    F.to_timestamp(F.lit("2001-07-01")),
                    F.expr("INTERVAL 3 MONTH"),
                )
            ).alias("q_start")
        )
        .select(
            "q_start",
            (F.col("q_start") + F.expr("INTERVAL 3 MONTH")).alias("q_end"),
        )
    )
    return (
        iv.join(
            F.broadcast(q),
            (F.col("s") < F.col("q_end")) & (F.col("e") >= F.col("q_start")),
        )
        .groupBy(F.date_format("q_start", "yyyy-MM-dd").alias("quarter"))
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


@query(
    "events_attribution_u_shaped",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.click_id, c.ts AS cts, p.purchase_id, p.cents
      FROM c JOIN p ON c.user_id = p.user_id
       AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000
    ),
    r AS (
      SELECT *, COUNT(*) OVER (PARTITION BY purchase_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts, click_id) AS rk
      FROM j
    ),
    cr AS (
      SELECT click_id, cts,
             CASE
               WHEN n = 1 THEN cents
               WHEN n = 2 AND rk = 1 THEN cents // 2 + cents % 2
               WHEN n = 2 THEN cents // 2
               WHEN rk = 1 THEN (2 * cents) // 5
               WHEN rk = n THEN (2 * cents) // 5
               ELSE (cents - 2 * ((2 * cents) // 5)) // (n - 2)
                    + CASE WHEN rk - 1 <=
                           (cents - 2 * ((2 * cents) // 5)) % (n - 2)
                           THEN 1 ELSE 0 END
             END AS credit
      FROM r
    )
    SELECT (CAST(floor(epoch(cts) / 3600) AS BIGINT) * 3600) * 1000000
               AS hour_us,
           COUNT(*) AS n_credited_clicks,
           ROUND(SUM(credit) / 100.0, 2) AS attributed_value
    FROM cr GROUP BY 1
    """,
)
def events_attribution_u_shaped(spark, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution —
    the standard alternative to `events_attribution_linear` when the
    model should reward DISCOVERY and CLOSING: the first and last
    click in a purchase's 30-minute window each take 40% of the
    value, the middle clicks split the remaining 20%. Same banded
    click↔purchase pairing, same hourly rollup, so the two models
    read side by side.

    Exact-integer discipline, extended through the U-split: the 40%
    shares are ⌊2·cents/5⌋ each; the middle pool is DEFINED as the
    remainder cents − 2·⌊2·cents/5⌋ (so conservation is an identity,
    not a rounding hope — the pool absorbs the 40%-truncation
    crumbs); the pool splits by the penny-allocation ledger (⌊/⌋ + 1
    extra cent to the earliest middles); n = 1 takes everything and
    n = 2 splits half-and-half with the odd penny to the earlier
    click. Every branch is integer div/mod, bit-identical on both
    engines, and Σcredit = cents per purchase by construction.

    Scale shape: identical to the certified linear model — banded
    equi-join, purchase-keyed windows, hour-count-sized rollup.

    Reference basis: none; contract event-analytics family."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = banded_interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        max_delta_us=1_800_000_000,
    ).filter(
        (F.unix_micros(F.col("ts_r")) - F.unix_micros(F.col("ts")))
        .between(0, 1_800_000_000)
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("ts", "click_id")
    r = j.select(
        "click_id",
        F.col("ts").alias("cts"),
        "cents",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rk"),
    )
    credit = F.expr(
        """
        CASE
          WHEN n = 1 THEN cents
          WHEN n = 2 AND rk = 1 THEN cents div 2 + cents % 2
          WHEN n = 2 THEN cents div 2
          WHEN rk = 1 THEN (2 * cents) div 5
          WHEN rk = n THEN (2 * cents) div 5
          ELSE (cents - 2 * ((2 * cents) div 5)) div (n - 2)
               + CASE WHEN rk - 1 <=
                      (cents - 2 * ((2 * cents) div 5)) % (n - 2)
                      THEN 1 ELSE 0 END
        END
        """
    )
    cr = r.select("click_id", "cts", credit.alias("credit"))
    hour = (F.floor(F.unix_seconds(F.col("cts")) / 3600) * 3600) * 1_000_000
    return cr.groupBy(hour.alias("hour_us")).agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.round(F.sum("credit") / 100.0, 2).alias("attributed_value"),
    )


DECAY_LOOKBACK = 16  # credited touches per conversion: the dyadic
# weight of the 17th-from-last click is < 0.002% — beyond it clicks
# carry zero credit, and the 2^k terms stay far inside int64.


@query(
    "events_attribution_time_decay",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.click_id, c.ts AS cts, p.purchase_id, p.cents
      FROM c JOIN p ON c.user_id = p.user_id
       AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000
    ),
    r AS (
      SELECT *, COUNT(*) OVER (PARTITION BY purchase_id) AS n,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts, click_id) AS rk
      FROM j
    ),
    cred AS (
      SELECT * FROM (
        SELECT *, LEAST(n, {DECAY_LOOKBACK}) AS m,
               rk - (n - LEAST(n, {DECAY_LOOKBACK})) AS k
        FROM r
      ) WHERE k >= 1
    ),
    w AS (
      SELECT *,
             (cents * (CAST(1 AS BIGINT) << (k - 1)))
               // ((CAST(1 AS BIGINT) << m) - 1) AS fl,
             (cents * (CAST(1 AS BIGINT) << (k - 1)))
               % ((CAST(1 AS BIGINT) << m) - 1) AS rem
      FROM cred
    ),
    loss AS (
      SELECT purchase_id,
             CAST(MAX(cents) - SUM(fl) AS BIGINT) AS loss
      FROM w GROUP BY purchase_id
    ),
    rkd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
                                   ORDER BY rem DESC, k DESC) - 1 AS pr
      FROM w
    ),
    cr AS (
      SELECT rkd.click_id, rkd.cts,
             rkd.fl + CASE WHEN rkd.pr < loss.loss THEN 1 ELSE 0 END
               AS credit
      FROM rkd JOIN loss USING (purchase_id)
    )
    SELECT (CAST(floor(epoch(cts) / 3600) AS BIGINT) * 3600) * 1000000
               AS hour_us,
           COUNT(*) AS n_credited_clicks,
           ROUND(SUM(credit) / 100.0, 2) AS attributed_value
    FROM cr GROUP BY 1
    """,
)
def events_attribution_time_decay(spark, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution with EXACT DYADIC weights —
    the third standard model beside `events_attribution_linear`
    (equal credit) and `events_attribution_u_shaped` (discovery +
    closing): credit doubles with each step closer to the purchase,
    position k of the credited window taking 2^(k-1)/(2^m - 1) of the
    value. The canonical model uses continuous e^(-Δt/τ) weights —
    libm-dependent, uncertifiable cross-engine; the dyadic
    half-per-step ladder keeps the decay SHAPE with pure integer
    arithmetic (shifts, div, mod), so every credit is bit-identical
    on both engines and Σcredit = cents per purchase is an identity
    via the penny ledger (floor shares + largest-remainder pennies,
    ties to the latest click).

    Only the LAST {DECAY_LOOKBACK} clicks of a window are credited:
    the 17th-from-last click's weight is < 0.002% of the value (zero
    cents at any realistic price), and the cap keeps cents·2^(k-1)
    far inside int64 for arbitrarily clicky users. Clicks beyond the
    look-back carry zero credit and are excluded from
    n_credited_clicks.

    Scale shape: identical to the certified siblings — the banded
    click↔purchase equi-join, purchase-keyed windows (per-key groups,
    never a global sort), hour-count-sized rollup.

    Reference basis: none; contract event-analytics family."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = banded_interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        max_delta_us=1_800_000_000,
    ).filter(
        (F.unix_micros(F.col("ts_r")) - F.unix_micros(F.col("ts")))
        .between(0, 1_800_000_000)
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("ts", "click_id")
    r = j.select(
        "purchase_id",
        "click_id",
        F.col("ts").alias("cts"),
        "cents",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rk"),
    )
    cred = r.select(
        "purchase_id",
        "click_id",
        "cts",
        "cents",
        F.least(F.col("n"), F.lit(DECAY_LOOKBACK)).alias("m"),
        (
            F.col("rk")
            - (F.col("n") - F.least(F.col("n"), F.lit(DECAY_LOOKBACK)))
        ).alias("k"),
    ).filter(F.col("k") >= 1)
    w = cred.select(
        "purchase_id",
        "click_id",
        "cts",
        "cents",
        "k",
        F.expr(
            "(cents * shiftleft(CAST(1 AS BIGINT), k - 1))"
            " div (shiftleft(CAST(1 AS BIGINT), m) - 1)"
        ).alias("fl"),
        F.expr(
            "(cents * shiftleft(CAST(1 AS BIGINT), k - 1))"
            " % (shiftleft(CAST(1 AS BIGINT), m) - 1)"
        ).alias("rem"),
    )
    loss = w.groupBy("purchase_id").agg(
        (F.max("cents") - F.sum("fl")).cast("long").alias("loss")
    )
    wp = Window.partitionBy("purchase_id").orderBy(
        F.col("rem").desc(), F.col("k").desc()
    )
    rkd = w.withColumn("pr", F.row_number().over(wp) - 1)
    cr = rkd.join(loss, "purchase_id").select(
        "click_id",
        "cts",
        (
            F.col("fl")
            + F.when(F.col("pr") < F.col("loss"), 1).otherwise(0)
        ).alias("credit"),
    )
    hour = (F.floor(F.unix_seconds(F.col("cts")) / 3600) * 3600) * 1_000_000
    return cr.groupBy(hour.alias("hour_us")).agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.round(F.sum("credit") / 100.0, 2).alias("attributed_value"),
    )
