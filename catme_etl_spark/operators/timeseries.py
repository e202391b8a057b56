"""Time-series / hypertable-rollup operators over ``events`` (SURVEY
§2.10 EXT; driver contract "LLM-data-pipeline" + event analytics):
dense gap-filled rollups, OHLC candles (arg-min/arg-max aggregates),
and forward-fill interpolation.

The reference (`waldfalke/catme-etl`) has no time semantics at all
(SURVEY §2.8); this surface is the batch analog of the hypertable
rollups a metrics store provides.

Cross-engine identity: buckets travel as integer epoch quantities
(``floor(epoch/600)`` bucket index, ``win_start_us`` micros) — never
formatted timestamps, which are the classic tz hash-flake.

Scale notes:
- the spine (dense bucket range) is generated from a one-row min/max
  aggregate — O(range) rows, independent of event count, and joins
  against the *aggregated* series (already one row per bucket), never
  against raw events;
- OHLC open/close use ``min_by/max_by(value, event_id)`` — a single
  hash-agg pass with map-side partials; ``event_id`` is unique and
  time-ordered, so the pick is deterministic in any engine (a raw
  ``ts`` key could tie);
- forward-fill is a ``last(ignorenulls)`` running window; here the
  series is global (one sort partition) — in production partition the
  window by series key so each executor sorts only its own series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, half_up
from ..sources.tables import load_table
from .registry import query

_BUCKET_S = 600  # 10-minute buckets


def _bucket_idx(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    """(bucket index i, value, event_id) for one event type; the type
    filter pushes into the parquet scan."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == event_type)
    return e.select(
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
        "value",
        "event_id",
    )


def _spine(counts: DataFrame) -> DataFrame:
    """Dense bucket-index spine [min(i), max(i)] from a one-row agg."""
    bounds = counts.agg(F.min("i").alias("lo"), F.max("i").alias("hi"))
    return bounds.select(F.explode(F.sequence("lo", "hi")).alias("i"))


@query(
    "ts_gapfill_10min_purchase",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i
      FROM events WHERE event_type = 'purchase'
    ),
    agg AS (SELECT i, COUNT(*) AS n FROM b GROUP BY i),
    spine AS (
      SELECT unnest(generate_series((SELECT MIN(i) FROM b),
                                    (SELECT MAX(i) FROM b))) AS i
    )
    SELECT i * {_BUCKET_S} * 1000000 AS win_start_us,
           COALESCE(n, 0) AS n_events
    FROM spine LEFT JOIN agg USING (i)
    """,
)
def ts_gapfill_10min_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 10-minute purchase counts: every bucket in the observed
    range appears, empty ones as 0 — the rollup shape dashboards and
    downstream joins need (a sparse series silently drops gaps)."""
    ev = _bucket_idx(spark, sf_dir, "purchase")
    counts = ev.groupBy("i").agg(F.count(F.lit(1)).alias("n"))
    return (
        _spine(counts)
        .join(counts, "i", "left")
        .select(
            (F.col("i") * _BUCKET_S * 1_000_000).alias("win_start_us"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@query(
    "ts_ohlc_10min_by_type",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT)
             * {_BUCKET_S} * 1000000 AS win_start_us,
           event_type,
           ROUND(arg_min(value, event_id), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, event_id), 4) AS close,
           COUNT(*) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_ohlc_10min_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles per (10-min bucket, event type). open/close are
    arg-min/arg-max on the unique, time-ordered event_id — one hash-agg
    pass, no window sort, deterministic under ties (unlike keying on
    ``ts``)."""
    e = load_table(spark, sf_dir, "events")
    i = F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long")
    return (
        e.groupBy(i.alias("i"), "event_type")
        .agg(
            F.round(F.min_by("value", "event_id"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "event_id"), 4).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            (F.col("i") * _BUCKET_S * 1_000_000).alias("win_start_us"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


@query(
    "ts_forward_fill_10min_purchase",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i, value, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    closes AS (SELECT i, arg_max(value, event_id) AS val FROM b GROUP BY i),
    spine AS (
      SELECT unnest(generate_series((SELECT MIN(i) FROM b),
                                    (SELECT MAX(i) FROM b))) AS i
    ),
    sparse AS (SELECT spine.i, val FROM spine LEFT JOIN closes USING (i))
    SELECT i * {_BUCKET_S} * 1000000 AS win_start_us,
           ROUND(last_value(val IGNORE NULLS) OVER (
             ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS close_ffill
    FROM sparse
    """,
)
def ts_forward_fill_10min_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over the dense spine: each empty
    bucket inherits the most recent close. The running
    ``last(ignorenulls)`` window is the distributed LOCF idiom; the
    first spine bucket holds data by construction, so no leading null."""
    ev = _bucket_idx(spark, sf_dir, "purchase")
    closes = ev.groupBy("i").agg(F.max_by("value", "event_id").alias("val"))
    sparse = _spine(closes).join(closes, "i", "left")
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return sparse.select(
        (F.col("i") * _BUCKET_S * 1_000_000).alias("win_start_us"),
        F.round(F.last("val", ignorenulls=True).over(w), 4).alias("close_ffill"),
    )


@query(
    "ts_forward_fill_by_type",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i, value, event_id
      FROM events
    ),
    closes AS (
      SELECT event_type, i, arg_max(value, event_id) AS val
      FROM b GROUP BY event_type, i
    ),
    bounds AS (
      SELECT event_type, MIN(i) AS lo, MAX(i) AS hi FROM b GROUP BY event_type
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(lo, hi)) AS i FROM bounds
    ),
    sparse AS (
      SELECT spine.event_type, spine.i, val
      FROM spine LEFT JOIN closes USING (event_type, i)
    )
    SELECT event_type, i * {_BUCKET_S} * 1000000 AS win_start_us,
           ROUND(last_value(val IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS close_ffill
    FROM sparse
    """,
)
def ts_forward_fill_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF per series key — the DEFAULT scale signature: the window
    partitions by ``event_type``, so each executor sorts only its own
    series (O(buckets-per-series) per task) instead of one global sort.
    The per-type spine derives from one groupBy min/max (rows =
    Σ per-type bucket ranges, independent of event count); the global-
    spine variant above stays as the bounded single-series special
    case."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
        "value",
        "event_id",
    )
    closes = b.groupBy("event_type", "i").agg(
        F.max_by("value", "event_id").alias("val")
    )
    bounds = b.groupBy("event_type").agg(F.min("i").alias("lo"), F.max("i").alias("hi"))
    spine = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("i")
    )
    sparse = spine.join(closes, ["event_type", "i"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "event_type",
        (F.col("i") * _BUCKET_S * 1_000_000).alias("win_start_us"),
        F.round(F.last("val", ignorenulls=True).over(w), 4).alias("close_ffill"),
    )


@query(
    "ts_zscore_anomalies",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 600) AS BIGINT) AS i,
             COUNT(*) AS n
      FROM events GROUP BY event_type, i
    ),
    z AS (
      SELECT event_type, i, n,
             AVG(n)        OVER w AS mu,
             STDDEV_SAMP(n) OVER w AS sd,
             COUNT(*)      OVER w AS m
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY i
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, i * 600000000 AS win_start_us, n,
           ROUND((n - mu) / sd, 4) AS zscore
    FROM z
    WHERE m >= 6 AND sd > 0 AND abs((n - mu) / sd) >= 2.0
    """,
)
def ts_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on per-type event volume: each
    10-minute bucket is scored against the mean/stddev of its TRAILING
    12 buckets (current excluded — no self-contamination), flagging
    |z| ≥ 2 once ≥ 6 history buckets exist. The monitoring primitive
    for ingest pipelines (volume spike / drop detection).

    Scale shape: raw events collapse to one row per (type, bucket) in
    a single map-side-combined aggregation; the rolling stats window
    partitions by series key, so each executor sorts only its own
    series — O(buckets) state, never O(events)."""
    e = load_table(spark, sf_dir, "events")
    b = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
        )
        .groupBy("event_type", "i")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("i").rowsBetween(-12, -1)
    z = b.select(
        "event_type",
        "i",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("m"),
    )
    zscore = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        z.filter((F.col("m") >= 6) & (F.col("sd") > 0) & (F.abs(zscore) >= 2.0))
        .select(
            "event_type",
            (F.col("i") * 600000000).alias("win_start_us"),
            "n",
            F.round(zscore, 4).alias("zscore"),
        )
    )


@query(
    "ts_downsample_minmax_hourly",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value, event_id
      FROM events
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                ORDER BY value ASC, event_id ASC) AS rlo,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                ORDER BY value DESC, event_id DESC) AS rhi
      FROM b
    )
    SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           MAX(CASE WHEN rlo = 1 THEN value END) AS min_value,
           MAX(CASE WHEN rlo = 1 THEN event_id END) AS min_event_id,
           MAX(CASE WHEN rhi = 1 THEN value END) AS max_value,
           MAX(CASE WHEN rhi = 1 THEN event_id END) AS max_event_id
    FROM r GROUP BY event_type, bucket
    """,
)
def ts_downsample_minmax_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max decimation (the M4-style downsampling telemetry and
    charting backends run): per (series, hour) keep the extreme-value
    ROWS — value AND identity, so the downsample stays drillable —
    which preserves the visual envelope of the series at a fixed budget
    of 2 points per bucket. One hash-agg carrying two constant-size
    argmin/argmax struct states per group (vs the oracle's double
    window sort); values are selected, never accumulated, so no
    rounding discipline is needed."""
    ev = load_table(spark, sf_dir, "events")
    lo = F.min(F.struct(F.col("value"), F.col("event_id")))
    hi = F.max(F.struct(F.col("value"), F.col("event_id")))
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("_bucket")
        )
        .agg(lo.alias("_lo"), hi.alias("_hi"))
        .select(
            "event_type",
            F.date_format("_bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.col("_lo.value").alias("min_value"),
            F.col("_lo.event_id").alias("min_event_id"),
            F.col("_hi.value").alias("max_value"),
            F.col("_hi.event_id").alias("max_event_id"),
        )
    )


@query(
    "ts_interpolate_linear",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
      WHERE value IS NOT NULL
    ),
    obs AS (
      SELECT event_type, i,
             CAST(SUM(vc) AS DOUBLE) / COUNT(*) AS v
      FROM b GROUP BY event_type, i
    ),
    spine AS (
      SELECT event_type, unnest(range(MIN(i), MAX(i) + 1)) AS i
      FROM b GROUP BY event_type
    ),
    sparse AS (
      SELECT s.event_type, s.i, o.v
      FROM spine s LEFT JOIN obs o
        ON s.event_type = o.event_type AND s.i = o.i
    ),
    filled AS (
      SELECT event_type, i, v,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
      FROM sparse
    )
    SELECT event_type,
           i * {_BUCKET_S} * 1000000 AS win_start_us,
           floor((CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + (nv - pv) * (i - pi) / (ni - pi)
                  END / 100.0) * 10000 + 0.5) / 10000 AS value_filled,
           CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
    FROM filled
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gap buckets in the per-type 10-minute
    mean-value series — the other standard gap policy next to LOCF
    (:func:`ts_forward_fill_by_type`): missing buckets take the value
    on the straight line between the nearest observed buckets either
    side.

    Exactness discipline: bucket means are the exact rational
    sum-of-cents / count (never an engine AVG over doubles), the
    interpolation weight (i-pi)/(ni-pi) is a ratio of exact integers,
    and the result rounds once at the end — so both engines walk
    bit-identical doubles into the ROUND. The spine spans each type's
    own [min, max] bucket, so every gap is interior and the prev/next
    anchors always exist (no edge NULLs to police).

    Scale shape — SEGMENT form, not spine form: one hash-agg collapses
    events to observed buckets; one ``lead()`` window over the
    *observed* rows (tiny: one row per bucket with data) pairs each
    anchor with the next; each segment then explodes its own
    ``[i, next)`` bucket range with the fill computed inline. No dense
    spine is ever joined or window-scanned — the earlier spine + dual
    prev/next ignore-nulls windows formulation measured 2× slower at
    sf0.1 for identical output. Output rows still cover every bucket
    in each type's [min, max] range.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = e.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
        cents("value").alias("vc"),
    )
    obs = b.groupBy("event_type", "i").agg(
        (F.sum("vc").cast("double") / F.count(F.lit(1))).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("i")
    seg = obs.select(
        "event_type",
        "i",
        "v",
        F.lead("i").over(w).alias("ni"),
        F.lead("v").over(w).alias("nv"),
    )
    # each observed anchor emits its own bucket plus the gap up to (not
    # including) the next anchor; the final anchor emits itself alone.
    body = seg.filter(F.col("ni").isNotNull()).select(
        "event_type",
        "i",
        "v",
        "ni",
        "nv",
        F.explode(F.sequence(F.col("i"), F.col("ni") - 1)).alias("j"),
    )
    tail = seg.filter(F.col("ni").isNull()).select(
        "event_type",
        "i",
        "v",
        F.lit(None).cast("long").alias("ni"),
        F.lit(None).cast("double").alias("nv"),
        F.col("i").alias("j"),
    )
    rows = body.unionByName(tail)
    is_obs = F.col("j") == F.col("i")
    interp = F.col("v") + (F.col("nv") - F.col("v")) * (
        F.col("j") - F.col("i")
    ) / (F.col("ni") - F.col("i"))
    # half_up on the BINARY double (both engines run the identical
    # IEEE ops) — F.round vs DuckDB ROUND disagree
    # when the exact rational sits on a 4th-decimal tie (…x.89625)
    # because Spark rounds the shortest decimal repr and DuckDB the
    # stored binary; values are nonnegative so no sign branch.
    filled = F.when(is_obs, F.col("v")).otherwise(interp) / 100.0
    return rows.select(
        "event_type",
        (F.col("j") * _BUCKET_S * 1_000_000).alias("win_start_us"),
        half_up(filled, 4).alias("value_filled"),
        F.when(is_obs, F.lit("obs")).otherwise(F.lit("interp")).alias("src"),
    )


@query(
    "ts_cusum_max_deviation",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type) AS tot,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS k
      FROM events
    ),
    s AS (
      SELECT event_type, event_id, n, k,
             SUM(vc * n - tot) OVER (PARTITION BY event_type ORDER BY k)
               AS dev_num
      FROM v
    ),
    m AS (
      SELECT event_type, event_id, n, k, dev_num,
             MAX(ABS(dev_num)) OVER (PARTITION BY event_type) AS max_abs
      FROM s
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           floor((CAST(MAX(max_abs) AS DOUBLE) / MAX(n) / 100.0) * 10000
                 + 0.5) / 10000 AS max_cusum,
           MIN(CASE WHEN ABS(dev_num) = max_abs THEN k END) AS argmax_k
    FROM m
    GROUP BY event_type
    """,
)
def ts_cusum_max_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point screen per event type: the maximum absolute
    cumulative deviation of the value series from its own mean, plus
    the position where it peaks — the classic "did the level shift
    mid-stream?" statistic (a mean shift makes the cumulative
    deviation ramp; a stable series random-walks near zero).

    Exactness trick: instead of cumsum(v_i − mean) in floats, the
    running quantity is Σ(v_i·n − total) in integer *cents·n* — exact
    int64 arithmetic all the way (n·Σv stays ≪ 2^63 at these SFs; at
    petabyte row counts swap to DECIMAL(38,0), same plan), divided
    back to dollars only at the end. The argmax position is the
    ROW_NUMBER in (ts, event_id) order, tie → earliest — fully
    deterministic cross-engine.

    Keyed windows only (partition = event_type, the monitored series).
    A 100 TB deployment partitions by (type, day) and CUSUMs within
    calendar chunks, or maintains the running state in the streaming
    module — this is the batch audit form.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        "event_id",
        "ts",
        cents("value").alias("vc"),
    )
    tot_w = Window.partitionBy("event_type")
    ord_w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = v.select(
        "event_type",
        F.count(F.lit(1)).over(tot_w).alias("n"),
        F.sum("vc").over(tot_w).alias("tot"),
        F.row_number().over(ord_w).alias("k"),
        "vc",
    ).select(
        "event_type",
        "n",
        "k",
        F.sum(F.col("vc") * F.col("n") - F.col("tot"))
        .over(Window.partitionBy("event_type").orderBy("k"))
        .alias("dev_num"),
    )
    m = s.select(
        "event_type",
        "n",
        "k",
        "dev_num",
        F.max(F.abs("dev_num")).over(tot_w).alias("max_abs"),
    )
    return m.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        half_up(
            F.max("max_abs").cast("double") / F.max("n") / 100.0, 4
        ).alias("max_cusum"),
        F.min(F.when(F.abs("dev_num") == F.col("max_abs"), F.col("k"))).alias(
            "argmax_k"
        ),
    )


@query(
    "ts_rolling_median_close",
    oracle=f"""
    WITH closes AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i,
             arg_max(CAST(ROUND(value * 100) AS BIGINT), event_id) AS cc
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, i
    )
    SELECT event_type, i * {_BUCKET_S} * 1000000 AS win_start_us,
           median(cc) OVER (PARTITION BY event_type ORDER BY i
                            ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
             / 100.0 AS med_close
    FROM closes
    """,
)
def ts_rolling_median_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 15-bucket MEDIAN of the per-bucket close per type — the
    robust-smoothing counterpart of the moving average: one outlier
    tick shifts a mean for 15 buckets but leaves the median untouched,
    which is why robust monitors prefer it.

    Spark has no median-over-frame; the standard rewrite collects the
    frame's (bounded: ≤ 15) integer-cent closes into a sorted array
    per row and indexes the middle — O(frame log frame) per row over
    the *bucketed* series (rows = buckets, not events), partitioned by
    type. Median of int cents is exactly m.0 or m.5, both binary-exact
    doubles, so any engine's median formula agrees bit-for-bit and
    one division to dollars stays hash-stable with no rounding at all.
    """
    # NULL values are out-of-domain (module rule): without the filter
    # Spark's max_by returns NULL when the max-id row is NULL while
    # DuckDB's arg_max skips NULL args — engines would diverge.
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    closes = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
    ).agg(F.max_by(cents("value"), "event_id").alias("cc"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(-14, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("cc").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    median_cents = F.when(
        n % 2 == 1, mid_odd.cast("double")
    ).otherwise(
        (F.element_at(arr, (n / 2).cast("int")) + mid_hi) / 2.0
    )
    return closes.select(
        "event_type",
        (F.col("i") * _BUCKET_S * 1_000_000).alias("win_start_us"),
        (median_cents / 100.0).alias("med_close"),
    )


_DAY_BUCKETS = 86400 // _BUCKET_S  # 144 ten-minute buckets per day


@query(
    "ts_seasonal_naive_backtest",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sc
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, i
    )
    SELECT a.event_type,
           COUNT(*) AS n_buckets,
           floor((CAST(SUM(ABS(a.sc - f.sc)) AS DOUBLE) / COUNT(*) / 100.0)
                 * 10000 + 0.5) / 10000 AS mae,
           floor((CAST(SUM(a.sc - f.sc) AS DOUBLE) / COUNT(*) / 100.0)
                 * 10000 + 0.5) / 10000 + 0.0 AS bias
    FROM s a JOIN s f
      ON f.event_type = a.event_type AND f.i = a.i - {_DAY_BUCKETS}
    GROUP BY a.event_type
    """,
)
def ts_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE forecast — predict each 10-minute
    bucket's value total with the same bucket one day earlier — per
    event type: evaluated bucket count, mean absolute error, and mean
    signed bias. The seasonal-naive is THE baseline every real
    forecasting deployment must beat, so this query is the yardstick a
    metrics platform ships.

    The series is the exact integer-cent bucket total; the day-offset
    pairing is an equi-join on (type, i−144) over the *aggregated*
    series (missing buckets pair with nothing — an honest backtest
    skips them rather than imputing zeros), so errors are differences
    of exact ints and both metrics are single divisions into the
    half-away floor-round.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
    ).agg(F.sum(cents("value")).alias("sc"))
    a = s.select("event_type", "i", F.col("sc").alias("sa"))
    f = s.select(
        "event_type", (F.col("i") + _DAY_BUCKETS).alias("i"), F.col("sc").alias("sf")
    )
    j = a.join(f, ["event_type", "i"])
    diff = F.col("sa") - F.col("sf")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        half_up(
            F.sum(F.abs(diff)).cast("double") / F.count(F.lit(1)) / 100.0, 4
        ).alias("mae"),
        (
            half_up(F.sum(diff).cast("double") / F.count(F.lit(1)) / 100.0, 4)
            + F.lit(0.0)
        ).alias("bias"),
    )


@query(
    "ts_autocorr_lag1",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sc
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, i
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(a.sc AS DOUBLE) AS x, CAST(b.sc AS DOUBLE) AS y
      FROM s a JOIN s b
        ON b.event_type = a.event_type AND b.i = a.i + 1
    ),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN floor(((n * sxy - sx * sy)
                            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                      * 10000 + 0.5) / 10000 + 0.0
           END AS acf1
    FROM m
    """,
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the 10-minute value-total series per
    event type — completing the classical decomposition diagnostics
    trio with `agg_trend_regression` (trend) and
    `agg_seasonality_strength` (seasonality): high ACF(1) says
    adjacent buckets predict each other (persistence a forecaster can
    exploit, and the signal that a CUSUM alarm will fire in runs, not
    as isolated ticks).

    Adjacent-bucket pairing is an equi-join on (type, i+1) over the
    AGGREGATED series — missing buckets break the chain honestly
    instead of imputing zeros (the `ts_seasonal_naive_backtest`
    pairing shape at lag 1). Sums/products run in double from exact
    integer bucket totals with identical op order cross-engine; one
    half-away rounding, signed zero normalized.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
    ).agg(F.sum(cents("value")).alias("sc"))
    a = s.select("event_type", "i", F.col("sc").cast("double").alias("x"))
    b = s.select(
        "event_type", (F.col("i") - 1).alias("i"),
        F.col("sc").cast("double").alias("y"),
    )
    pairs = a.join(b, ["event_type", "i"])
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    prod = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    # zero-variance series -> NULL on both engines (guarding the
    # PRODUCT keeps the fp op order identical to the oracle's CASE)
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.when(
            prod > 0,
            half_up(num / F.sqrt(prod), 4) + F.lit(0.0),
        ).alias("acf1"),
    )


@query(
    "ts_cross_correlation_matrix",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS i,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sc
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, i
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(a.sc AS DOUBLE) AS x, CAST(b.sc AS DOUBLE) AS y
      FROM s a JOIN s b
        ON b.i = a.i AND a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM p GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_buckets,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN floor(((n * sxy - sx * sy)
                            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                      * 10000 + 0.5) / 10000 + 0.0
           END AS corr
    FROM m
    """,
)
def ts_cross_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event types' 10-minute
    value-total series — the cross-series dependence matrix (in long
    form, upper triangle) a forecaster or anomaly correlator starts
    from: purchase totals tracking click totals bucket-for-bucket says
    one alarm, not five, should fire when traffic moves.

    The join runs on the AGGREGATED series (|types| × buckets rows),
    never raw events — the raw table shuffles once into the bucket
    roll-up, then the type×type pairing is a self-join on bucket id
    whose output is ~|types|²/2 per bucket. Moments accumulate in
    double from exact integer bucket totals with identical op order
    cross-engine; zero-variance guard on the variance PRODUCT (the
    round-6 degenerate-input discipline); one half-away 1e-4 round.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S).cast("long").alias("i"),
    ).agg(F.sum(cents("value")).alias("sc"))
    a = s.select(
        F.col("event_type").alias("type_a"), "i",
        F.col("sc").cast("double").alias("x"),
    )
    b = s.select(
        F.col("event_type").alias("type_b"), F.col("i").alias("i2"),
        F.col("sc").cast("double").alias("y"),
    )
    p = a.join(
        b, (F.col("i2") == F.col("i")) & (F.col("type_a") < F.col("type_b"))
    )
    m = p.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    prod = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_buckets"),
        F.when(
            prod > 0,
            half_up(num / F.sqrt(prod), 4) + F.lit(0.0),
        ).alias("corr"),
    )


_HOLT_GUARD = "holt forecast undefined: fewer than 2 observed days"


_HOLT_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ser AS (
      SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d
    ),
    g AS (
      SELECT CASE WHEN COUNT(*) < 2
                  THEN CAST(error('{_HOLT_GUARD}') AS BIGINT)
                  ELSE CAST(COUNT(*) AS BIGINT) END AS nd,
             CAST(MAX(day) AS BIGINT) AS last_day
      FROM ser
    ),
    rec AS (
      SELECT 1 AS i,
             CAST(s1.n AS BIGINT) AS l,
             CAST(s2.n - s1.n AS BIGINT) AS b
      FROM (SELECT n FROM ser WHERE i = 1) s1,
           (SELECT n FROM ser WHERE i = 2) s2
      UNION ALL
      SELECT r.i + 1,
             CAST(floor((s.n + r.l + r.b) / 2.0) AS BIGINT),
             CAST(floor((r.b
                         + CAST(floor((s.n + r.l + r.b) / 2.0) AS BIGINT)
                         - r.l) / 2.0) AS BIGINT)
      FROM rec r JOIN ser s ON s.i = r.i + 1
    ),
    fin AS (SELECT rec.l, rec.b FROM rec, g WHERE rec.i = g.nd)
    SELECT CAST(t.h AS BIGINT) AS h,
           CAST((g.last_day + t.h) * 86400000000 AS BIGINT)
             AS forecast_day_us,
           CAST(fin.l + t.h * fin.b AS BIGINT) AS forecast_events
    FROM fin, g, range(1, 8) t(h)
    """


@query(
    "ts_holt_linear_forecast",
    oracle=_HOLT_ORACLE,
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR-TREND forecast of the daily event volume, 7 days
    ahead — the trend rung of the forecasting family (the flagship q6
    variant fits one global line; this tracks a RECURSIVE level+trend
    state, so a recent regime change dominates old history): with
    dyadic smoothing α = β = 1/2 and the floored recursion

        l_t = floor((x_t + l_(t-1) + b_(t-1)) / 2)
        b_t = floor((b_(t-1) + l_t - l_(t-1)) / 2)

    seeded l_1 = x_1, b_1 = x_2 − x_1, forecasting f_h = l_n + h·b_n.
    Division by 2 is EXACT in binary floating point and floor is
    exact below 2^52, so `floor(x / 2.0)` is the one floor-division
    spelling with identical semantics (toward −inf, negatives
    included — trends go negative) on Spark, pandas, and DuckDB: the
    whole recursion is integer-exact with zero libm dependence, the
    same reason the τ=0.5 temperature mix is the certifiable one. A
    perfectly linear series reproduces its own line exactly (crafted
    test); fewer than 2 observed days raises LOUDLY on both engines.

    Scale shape: the scan collapses to |days| rows in one map-side-
    combinable agg; the inherently sequential recursion runs at the
    `grouped_map_user_ewma` rung — one applyInPandas group over the
    horizon-bounded series (DuckDB mirrors it as WITH RECURSIVE) — and
    the output is 7 rows. At 100 TB the recursion input is still just
    |days| rows; only the count agg scales.

    Reference basis: none; contract ops-analytics/time-series family
    beside CUSUM, the changepoint, and the interpolators."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    d = (
        e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return holt_forecast_verdict(d)


def holt_forecast_verdict(d: DataFrame) -> DataFrame:
    """The batch-side Holt recursion over a (day, n) series — factored
    so the streaming arm (`stream_holt_forecast_daily`) runs the
    IDENTICAL forecast on its complete-mode snapshot and certifies
    byte-equality to the batch operator. See `ts_holt_linear_forecast`
    for the exact dyadic-floor semantics.

    A NULL sentinel row is unioned in BEFORE the grouping (and dropped
    inside the kernel) so the single applyInPandas group ALWAYS
    exists: on a fully empty input, zero groups would otherwise mean
    the <2-day guard never runs and Spark silently returns an empty
    frame while the DuckDB oracle's COUNT(*)<2 guard raises — the
    round-10 ADVICE cross-engine divergence. With the sentinel, both
    engines raise loudly on empty input too."""
    import pandas as pd

    sentinel = d.sparkSession.range(1).select(
        F.lit(None).cast("long").alias("day"),
        F.lit(None).cast("long").alias("n"),
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.dropna(subset=["day", "n"]).sort_values("day")
        xs = [int(v) for v in pdf["n"]]
        days = [int(v) for v in pdf["day"]]
        if len(xs) < 2:
            raise ValueError(_HOLT_GUARD)
        l, b = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            l_new = math.floor((x + l + b) / 2.0)
            b = math.floor((b + l_new - l) / 2.0)
            l = l_new
        last_day = days[-1]
        return pd.DataFrame(
            {
                "h": list(range(1, 8)),
                "forecast_day_us": [
                    (last_day + h) * 86_400_000_000 for h in range(1, 8)
                ],
                "forecast_events": [l + h * b for h in range(1, 8)],
            }
        )

    return (
        d.select("day", "n")
        .unionByName(sentinel)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            holt, "h long, forecast_day_us long, forecast_events long"
        )
    )


_HW_GUARD = (
    "holt-winters forecast undefined: fewer than 2 observed days"
)

_HW_ORACLE = """
    WITH RECURSIVE d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ser AS (
      SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d
    ),
    g AS (
      SELECT CASE WHEN COUNT(*) < 2
                  THEN CAST(error('GUARDMSG') AS BIGINT)
                  ELSE CAST(COUNT(*) AS BIGINT) END AS nd,
             CAST(MAX(day) AS BIGINT) AS last_day
      FROM ser
    ),
    rec AS (
      SELECT 1 AS i,
             CAST(seed1.n AS BIGINT) AS l,
             CAST(seed2.n - seed1.n AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4, CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6
      FROM (SELECT n FROM ser WHERE i = 1) seed1,
           (SELECT n FROM ser WHERE i = 2) seed2
      UNION ALL
      SELECT r.i + 1,
             CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT) AS l,
             CAST(floor((r.b + (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) - r.l) / 2.0) AS BIGINT) AS b,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 0 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s0 END AS s0,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 1 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s1 END AS s1,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 2 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s2 END AS s2,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 3 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s3 END AS s3,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 4 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s4 END AS s4,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 5 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s5 END AS s5,
             CASE WHEN CAST(s.day % 7 AS BIGINT) = 6 THEN (CAST(floor((s.n - (CAST(floor((s.n - (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END) + r.l + r.b) / 2.0) AS BIGINT)) + (CASE CAST(s.day % 7 AS BIGINT) WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 END)) / 2.0) AS BIGINT)) ELSE r.s6 END AS s6
      FROM rec r JOIN ser s ON s.i = r.i + 1
    ),
    fin AS (SELECT rec.*, g.last_day FROM rec, g WHERE rec.i = g.nd)
    SELECT CAST(t.h AS BIGINT) AS h,
           CAST((fin.last_day + t.h) * 86400000000 AS BIGINT)
             AS forecast_day_us,
           CAST(fin.l + t.h * fin.b + (CASE CAST((fin.last_day + t.h) % 7 AS BIGINT) WHEN 0 THEN fin.s0 WHEN 1 THEN fin.s1 WHEN 2 THEN fin.s2 WHEN 3 THEN fin.s3 WHEN 4 THEN fin.s4 WHEN 5 THEN fin.s5 WHEN 6 THEN fin.s6 END) AS BIGINT)
             AS forecast_events
    FROM fin, range(1, 8) t(h)
    """.replace("GUARDMSG", _HW_GUARD)


@query("ts_holt_winters_weekly", oracle=_HW_ORACLE)
def ts_holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE-SEASONAL forecast of the daily event
    volume, 7 days ahead — the seasonal rung above the Holt
    level+trend op: a third recursive state, the 7-slot day-of-week
    seasonal vector s[0..6] (epoch-day mod 7, calendar-free), lets a
    weekday/weekend cycle survive the forecast instead of being
    averaged into the trend. All three smoothings use the dyadic
    alpha = beta = gamma = 1/2 with the floored recursion

        l_t    = floor((x_t - s_old + l + b) / 2)
        b_t    = floor((b + l_t - l) / 2)
        s[dow] = floor((x_t - l_t + s_old) / 2)

    seeded l_1 = x_1, b_1 = x_2 - x_1, s = 0 (zero-seeded seasonal
    state: the recursion LEARNS the cycle, so no non-dyadic first-week
    averaging enters the arithmetic) and forecasting f_h = l + h*b +
    s[(last_day + h) mod 7]. floor(x / 2.0) is exact binary-FP floor
    division toward -inf on Spark, pandas, and DuckDB alike (the
    certified Holt op's device), so the whole 9-state recursion is
    integer-exact with zero libm dependence. Day gaps advance the
    recursion by observation (like the Holt op) while the seasonal
    slot always follows the TRUE epoch-day mod 7. Fewer than 2
    observed days — including fully empty input, via the NULL
    sentinel — raises LOUDLY on both engines.

    Scale shape: the scan collapses to |days| rows in one map-side-
    combinable agg; the inherently sequential recursion runs as one
    applyInPandas group over the horizon-bounded series (DuckDB
    mirrors it as a 9-column WITH RECURSIVE) and the output is 7
    rows. At 100 TB only the count agg scales.

    Reference basis: none; contract ops-analytics/time-series family
    — the seasonal sibling of `ts_holt_linear_forecast`."""
    e = load_table(spark, sf_dir, "events")
    d = (
        e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return holt_winters_verdict(d)


def holt_winters_verdict(d: DataFrame) -> DataFrame:
    """The batch-side Holt-Winters recursion over a (day, n) series —
    factored so the streaming arm (`stream_holt_winters_weekly`) runs
    the IDENTICAL forecast on its complete-mode snapshot and certifies
    byte-equality to the batch operator. NULL-sentinel union keeps the
    <2-day guard on the Spark path even for empty input (the round-10
    ADVICE class); see `ts_holt_winters_weekly` for the exact
    dyadic-floor semantics."""
    import pandas as pd

    sentinel = d.sparkSession.range(1).select(
        F.lit(None).cast("long").alias("day"),
        F.lit(None).cast("long").alias("n"),
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.dropna(subset=["day", "n"]).sort_values("day")
        xs = [int(v) for v in pdf["n"]]
        days = [int(v) for v in pdf["day"]]
        if len(xs) < 2:
            raise ValueError(_HW_GUARD)
        l, b = xs[0], xs[1] - xs[0]
        s = [0] * 7
        for t in range(1, len(xs)):
            x, dow = xs[t], days[t] % 7
            s_old = s[dow]
            l_new = math.floor((x - s_old + l + b) / 2.0)
            b = math.floor((b + l_new - l) / 2.0)
            s[dow] = math.floor((x - l_new + s_old) / 2.0)
            l = l_new
        last_day = days[-1]
        return pd.DataFrame(
            {
                "h": list(range(1, 8)),
                "forecast_day_us": [
                    (last_day + h) * 86_400_000_000 for h in range(1, 8)
                ],
                "forecast_events": [
                    l + h * b + s[(last_day + h) % 7] for h in range(1, 8)
                ],
            }
        )

    return (
        d.select("day", "n")
        .unionByName(sentinel)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            hw, "h long, forecast_day_us long, forecast_events long"
        )
    )


# ---------------------------------------------------------------------------
# Forecasting family: ROLLING-ORIGIN BACKTEST of the Holt forecaster.
# ---------------------------------------------------------------------------

_BACKTEST_GUARD = "holt backtest undefined: fewer than 3 observed days"
_BACKTEST_ORIGINS = 7  # evaluate the last <= 7 usable origins

_BACKTEST_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    ser AS (
      SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d
    ),
    g AS (
      SELECT CASE WHEN COUNT(*) < 3
                  THEN CAST(error('{_BACKTEST_GUARD}') AS BIGINT)
                  ELSE CAST(COUNT(*) AS BIGINT) END AS nd
      FROM ser
    ),
    rec AS (
      SELECT 1 AS i,
             CAST(s1.n AS BIGINT) AS l,
             CAST(s2.n - s1.n AS BIGINT) AS b
      FROM (SELECT n FROM ser WHERE i = 1) s1,
           (SELECT n FROM ser WHERE i = 2) s2
      UNION ALL
      SELECT r.i + 1,
             CAST(floor((s.n + r.l + r.b) / 2.0) AS BIGINT),
             CAST(floor((r.b
                         + CAST(floor((s.n + r.l + r.b) / 2.0) AS BIGINT)
                         - r.l) / 2.0) AS BIGINT)
      FROM rec r JOIN ser s ON s.i = r.i + 1
    ),
    orig AS (
      SELECT r.i AS c, r.l, r.b
      FROM rec r, g
      WHERE r.i <= g.nd - 1
        AND r.i >= GREATEST(2, g.nd - {_BACKTEST_ORIGINS})
    )
    SELECT CAST(sc.day * 86400000000 AS BIGINT) AS origin_day_us,
           CAST(sn.day * 86400000000 AS BIGINT) AS target_day_us,
           CAST(sn.day - sc.day AS BIGINT) AS gap_days,
           CAST(o.l + (sn.day - sc.day) * o.b AS BIGINT)
             AS forecast_events,
           CAST(sn.n AS BIGINT) AS actual_events,
           CAST(o.l + (sn.day - sc.day) * o.b - sn.n AS BIGINT) AS err,
           CAST(abs(o.l + (sn.day - sc.day) * o.b - sn.n) AS BIGINT)
             AS abs_err
    FROM orig o
    JOIN ser sc ON sc.i = o.c
    JOIN ser sn ON sn.i = o.c + 1
    ORDER BY 1
    """


@query("ts_forecast_backtest_holt", oracle=_BACKTEST_ORACLE)
def ts_forecast_backtest_holt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING-ORIGIN BACKTEST of the certified Holt linear
    forecaster — the evaluation rung the forecasting family was
    missing: a forecast op tells you tomorrow's number; this op tells
    you whether to TRUST it, by replaying history. For each of the
    last {_BACKTEST_ORIGINS} usable origins c (origins start at the
    second observed day — the state at origin c uses exactly the
    observations 1..c, never the target), take the Holt state
    (l_c, b_c) from the IDENTICAL dyadic-floor recursion
    `ts_holt_linear_forecast` certifies, forecast the next OBSERVED
    day calendar-faithfully (f = l_c + Δ·b_c where Δ is the day gap,
    matching the parent's l + h·b semantics across gaps), and report
    forecast vs actual with signed and absolute integer errors.

    The whole backtest costs ONE recursion pass: rolling-origin
    states are precisely the recursion's intermediate (l, b) values,
    so evaluating {_BACKTEST_ORIGINS} origins reads 7 intermediate
    states instead of refitting 7 models — the property that makes
    nightly forecast monitoring O(|days|), not O(|days|·origins).
    Everything is integer-exact (the parent op's floor(x/2.0)
    argument), so errors land in the oracle hash bit-identically; a
    perfectly linear gap-free series backtests to zero error at every
    origin (crafted test). Fewer than 3 observed days raises LOUDLY
    on both engines.

    Scale shape: the scan collapses to |days| rows in one map-side-
    combinable agg; the recursion is the `grouped_map_user_ewma` rung
    (one applyInPandas group over the horizon-bounded series); at
    most {_BACKTEST_ORIGINS} output rows.

    Reference basis: none; contract ops-analytics/time-series family
    — the evaluation rung above `ts_holt_linear_forecast`."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    d = (
        e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sentinel = spark.range(1).select(
        F.lit(None).cast("long").alias("day"),
        F.lit(None).cast("long").alias("n"),
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.dropna(subset=["day", "n"]).sort_values("day")
        xs = [int(v) for v in pdf["n"]]
        days = [int(v) for v in pdf["day"]]
        nd = len(xs)
        if nd < 3:
            raise ValueError(_BACKTEST_GUARD)
        states = []  # (l, b) at 1-based index i
        l, b = xs[0], xs[1] - xs[0]
        states.append((l, b))
        for x in xs[1:]:
            l_new = math.floor((x + l + b) / 2.0)
            b = math.floor((b + l_new - l) / 2.0)
            l = l_new
            states.append((l, b))
        out = {
            "origin_day_us": [], "target_day_us": [], "gap_days": [],
            "forecast_events": [], "actual_events": [],
            "err": [], "abs_err": [],
        }
        for c in range(max(2, nd - _BACKTEST_ORIGINS), nd):  # 1-based c
            lc, bc = states[c - 1]
            gap = days[c] - days[c - 1]
            f = lc + gap * bc
            out["origin_day_us"].append(days[c - 1] * 86_400_000_000)
            out["target_day_us"].append(days[c] * 86_400_000_000)
            out["gap_days"].append(gap)
            out["forecast_events"].append(f)
            out["actual_events"].append(xs[c])
            out["err"].append(f - xs[c])
            out["abs_err"].append(abs(f - xs[c]))
        return pd.DataFrame(out)

    return (
        d.select("day", "n")
        .unionByName(sentinel)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            backtest,
            "origin_day_us long, target_day_us long, gap_days long,"
            " forecast_events long, actual_events long, err long,"
            " abs_err long",
        )
        .orderBy("origin_day_us")
    )


# ---------------------------------------------------------------------------
# Forecasting family: ROLLING-ORIGIN BACKTEST of the Holt-Winters seasonal
# forecaster (the seasonal sibling of `ts_forecast_backtest_holt`, same
# one-pass intermediate-state read).
# ---------------------------------------------------------------------------

_HW_BT_GUARD = (
    "holt-winters backtest undefined: fewer than 3 observed days"
)
_HW_BT_ORIGINS = 7  # evaluate the last <= 7 usable origins

_HW_SOLD = (
    "(CASE CAST(s.day % 7 AS BIGINT) "
    + " ".join(f"WHEN {k} THEN r.s{k}" for k in range(7))
    + " END)"
)
_HW_LNEW = f"CAST(floor((s.n - {_HW_SOLD} + r.l + r.b) / 2.0) AS BIGINT)"
_HW_SNEW = (
    f"(CAST(floor((s.n - ({_HW_LNEW}) + {_HW_SOLD}) / 2.0) AS BIGINT))"
)
_HW_REC_STEP = (
    f"SELECT r.i + 1,\n"
    f"       {_HW_LNEW} AS l,\n"
    f"       CAST(floor((r.b + ({_HW_LNEW}) - r.l) / 2.0) AS BIGINT)"
    f" AS b,\n"
    + ",\n".join(
        f"       CASE WHEN CAST(s.day % 7 AS BIGINT) = {k}"
        f" THEN {_HW_SNEW} ELSE r.s{k} END AS s{k}"
        for k in range(7)
    )
    + "\n      FROM rec r JOIN ser s ON s.i = r.i + 1"
)

_HW_BT_ORACLE = f"""
    WITH RECURSIVE d AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    ser AS (
      SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d
    ),
    g AS (
      SELECT CASE WHEN COUNT(*) < 3
                  THEN CAST(error('{_HW_BT_GUARD}') AS BIGINT)
                  ELSE CAST(COUNT(*) AS BIGINT) END AS nd
      FROM ser
    ),
    rec AS (
      SELECT 1 AS i,
             CAST(seed1.n AS BIGINT) AS l,
             CAST(seed2.n - seed1.n AS BIGINT) AS b,
             {", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(7))}
      FROM (SELECT n FROM ser WHERE i = 1) seed1,
           (SELECT n FROM ser WHERE i = 2) seed2
      UNION ALL
      {_HW_REC_STEP}
    ),
    orig AS (
      SELECT r.*
      FROM rec r, g
      WHERE r.i <= g.nd - 1
        AND r.i >= GREATEST(2, g.nd - {_HW_BT_ORIGINS})
    ),
    fc AS (
      SELECT o.i AS c, sc.day AS oday, sn.day AS tday, sn.n AS actual,
             CAST(o.l + (sn.day - sc.day) * o.b
                  + (CASE CAST(sn.day % 7 AS BIGINT)
                     {" ".join(f"WHEN {k} THEN o.s{k}" for k in range(7))}
                     END) AS BIGINT) AS f
      FROM orig o
      JOIN ser sc ON sc.i = o.i
      JOIN ser sn ON sn.i = o.i + 1
    )
    SELECT CAST(oday * 86400000000 AS BIGINT) AS origin_day_us,
           CAST(tday * 86400000000 AS BIGINT) AS target_day_us,
           CAST(tday - oday AS BIGINT) AS gap_days,
           CAST(f AS BIGINT) AS forecast_events,
           CAST(actual AS BIGINT) AS actual_events,
           CAST(f - actual AS BIGINT) AS err,
           CAST(abs(f - actual) AS BIGINT) AS abs_err
    FROM fc ORDER BY 1
    """


@query("ts_forecast_backtest_hw", oracle=_HW_BT_ORACLE)
def ts_forecast_backtest_hw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING-ORIGIN BACKTEST of the certified Holt-Winters weekly
    forecaster — the seasonal sibling of `ts_forecast_backtest_holt`
    (round-12 README candidate (d)): for each of the last
    {_HW_BT_ORIGINS} usable origins c, take the FULL 9-state
    (l, b, s[0..6]) from the identical dyadic-floor recursion
    `ts_holt_winters_weekly` certifies (origins reuse the recursion's
    intermediate states — one pass, never a refit), forecast the next
    OBSERVED day calendar-faithfully (f = l + Δ·b + s[target_day mod
    7] — the seasonal slot follows the TRUE epoch-day of the target,
    exactly the parent's f_h convention), and report forecast vs
    actual with signed and absolute integer errors. The number this
    adds over the Holt backtest is the seasonal term's out-of-sample
    value: on a weekday/weekend-cycled series the HW backtest's
    abs_err should undercut the Holt backtest's at the same origins
    (crafted test pins a pure-cycle series to zero error), and a
    series where it DOESN'T is the signal to drop the seasonal state.

    Everything integer-exact (floor(x/2.0) dyadic smoothing), so the
    errors land in the oracle hash bit-identically; fewer than 3
    observed days raises LOUDLY on both engines.

    Scale shape: |days|-row map-side-combinable agg, ONE sequential
    applyInPandas group over the horizon-bounded series, at most
    {_HW_BT_ORIGINS} output rows — the `ts_forecast_backtest_holt`
    shape with 7 more longs of state.

    Reference basis: none; contract ops-analytics/time-series family
    — the evaluation rung above `ts_holt_winters_weekly`."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    # NULL ts rows are dropped BEFORE the day grouping on both engines:
    # without the filter the oracle's d CTE emits a NULL-day row that
    # counts toward the <3-days guard and takes a ROW_NUMBER slot
    # (NULLS LAST) while the pandas side dropna()s it — divergent on
    # any corpus with null timestamps (round-13 advisor finding; the
    # sibling event-time round-14 ops already filter).
    d = (
        e.filter(F.col("ts").isNotNull())
        .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sentinel = spark.range(1).select(
        F.lit(None).cast("long").alias("day"),
        F.lit(None).cast("long").alias("n"),
    )

    def backtest(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.dropna(subset=["day", "n"]).sort_values("day")
        xs = [int(v) for v in pdf["n"]]
        days = [int(v) for v in pdf["day"]]
        nd = len(xs)
        if nd < 3:
            raise ValueError(_HW_BT_GUARD)
        l, b = xs[0], xs[1] - xs[0]
        s = [0] * 7
        states = [(l, b, tuple(s))]
        for t in range(1, nd):
            x, dow = xs[t], days[t] % 7
            s_old = s[dow]
            l_new = math.floor((x - s_old + l + b) / 2.0)
            b = math.floor((b + l_new - l) / 2.0)
            s[dow] = math.floor((x - l_new + s_old) / 2.0)
            l = l_new
            states.append((l, b, tuple(s)))
        out = {
            "origin_day_us": [], "target_day_us": [], "gap_days": [],
            "forecast_events": [], "actual_events": [],
            "err": [], "abs_err": [],
        }
        for c in range(max(2, nd - _HW_BT_ORIGINS), nd):  # 1-based c
            lc, bc, sc = states[c - 1]
            gap = days[c] - days[c - 1]
            f = lc + gap * bc + sc[days[c] % 7]
            out["origin_day_us"].append(days[c - 1] * 86_400_000_000)
            out["target_day_us"].append(days[c] * 86_400_000_000)
            out["gap_days"].append(gap)
            out["forecast_events"].append(f)
            out["actual_events"].append(xs[c])
            out["err"].append(f - xs[c])
            out["abs_err"].append(abs(f - xs[c]))
        return pd.DataFrame(out)

    return (
        d.select("day", "n")
        .unionByName(sentinel)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            backtest,
            "origin_day_us long, target_day_us long, gap_days long,"
            " forecast_events long, actual_events long, err long,"
            " abs_err long",
        )
        .orderBy("origin_day_us")
    )
