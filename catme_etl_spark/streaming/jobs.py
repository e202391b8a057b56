"""Structured Streaming jobs over the ``events`` table (SURVEY §2.8
C5–C7): the same event-time semantics as ``operators/events.py``, run
incrementally with watermarks.

Each job reads the events parquet as a file STREAM (``readStream``,
``Trigger.AvailableNow`` — process everything currently present, in
bounded micro-batches, then stop), lands results in a memory sink, and
returns the sink's table, so the jobs double as driver-checkable
queries:

- complete-mode aggregations equal the batch answer (nothing is
  dropped: the watermark only bounds STATE eviction, and complete mode
  re-emits all windows) → full DuckDB oracle applies;
- append-mode session windows emit only sessions sealed by the final
  watermark (max event time − delay); their oracles are the batch
  sessionization filtered by the same seal (``_SEALED_PRED``).

A stream arm is its batch twin run incrementally: the stream keeps only
a state shape, written once here — ``_sealed_sessions`` (append-mode
session windows), ``_sealed_latencies`` (first view → first later
purchase per sealed session), ``_daily_counts`` (complete-mode daily
counts), ``_bin_fold`` / ``_unpack_bins`` (a per-key bin-count state and
its ``bins_csv`` snapshot) and ``_final_state`` (the update sink's
latest row per key) — and the verdict over the snapshot is the batch
query's own kernel from ``operators/events.py`` (``changepoint_verdict``,
``log2_latency_readoff``, ``volume_mad_verdict``,
``hourly_concurrency``) or ``operators/timeseries.py`` (the Holt
verdicts), certified by the batch query's oracle text.

Production notes, same code path: swap the memory sink for
parquet/Kafka + ``checkpointLocation`` (exactly-once via offset + state
checkpointing — the reference's SQLite chunk checkpoint is the
single-node shadow of this, ``unified_code.py:96-148``), and swap
AvailableNow for a continuous trigger. State stores shard by group key
across executors, so watermarking + state TTL is what makes a 100 TB
backfill's memory bounded.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from itertools import count

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money_sum
from ..operators.events import (
    _CHANGEPOINT_ORACLE,
    _HOUR_US,
    _ISLANDS_CTES,
    _ISLANDS_EV_CTES,
    _LOG2_SKETCH_SQL,
    _VOLUME_MAD_ORACLE,
    changepoint_verdict,
    hourly_concurrency,
    log2_latency_readoff,
    volume_mad_verdict,
)
from ..operators.registry import query

_SINK_SEQ = count()

# Scratch parent for the THROWAWAY checkpoints of one-shot
# (AvailableNow → memory sink) queries. Without an explicit location
# Spark creates the temp checkpoint under java.io.tmpdir (/tmp — spinning
# storage here), and every micro-batch pays offset-WAL + commit-log +
# state-store-delta fsyncs against it; measured on stream_tumbling_10min
# at sf0.1 that is walCommit+commitOffsets ≈ 0.6 s plus state commit
# time per query for a checkpoint that is deleted seconds later. These
# checkpoints are ephemeral BY CONTRACT (the query is one-shot and the
# sink is a memory table), so RAM-backed scratch is the honest cost;
# durability is a property of RESUMABLE streams, and those keep their
# explicit durable ``checkpointLocation`` (``stream_to_parquet``).
# Override with $SPARK_GRAFT_STREAM_SCRATCH; falls back to the system
# temp dir when /dev/shm is absent (e.g. macOS dev boxes).


def _scratch_parent(spark: SparkSession | None = None) -> str:
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if not base:
        # The /dev/shm default is NODE-LOCAL: on a multi-node cluster a
        # streaming checkpoint (state store written from executors) on a
        # non-shared local path is broken, so the RAM-backed default only
        # engages when the master is local[*] (driver == executors). A
        # cluster with RAM-backed SHARED scratch opts in via the env var.
        is_local = True
        if spark is not None:
            try:
                is_local = spark.conf.get("spark.master", "local").startswith(
                    "local"
                )
            except Exception:
                is_local = True
        base = (
            "/dev/shm"
            if is_local
            and os.path.isdir("/dev/shm")
            and os.access("/dev/shm", os.W_OK)
            else None
        )
    if not base:
        import tempfile

        base = tempfile.gettempdir()
    # Per-user parent (round-14 ADVICE): a fixed world-shared tmpfs path
    # is a squat hazard — another user owning it makes mkdtemp fail with
    # EACCES for everyone else. uid suffix keeps the parent user-owned.
    d = os.path.join(base, f"catme_etl_stream_ckpt_{os.getuid()}")
    os.makedirs(d, exist_ok=True)
    return d


# Source sizing for the one-shot fixture streams (guide §2.1). The
# quantile stagers write 4 slice files; at maxFilesPerTrigger=1 every
# one-shot query pays 4 micro-batches of trigger planning + state-store
# commits — measured ≈ 0.3-0.9 s of pure per-batch fixed cost per query
# at sf0.1 — for semantics that do not depend on the batch boundaries:
# the slices are time/id-ordered so nothing ever arrives behind the
# watermark, complete-mode folds are order-insensitive, and append-mode
# emission is decided by the FINAL watermark (max event time − delay),
# which is identical at any batch count (the engine's terminal no-data
# batch seals against it either way). So all 4 files go in one data
# batch; tests pin that 1 file per trigger gives identical results. The
# lateness audit (`_stream_events_lateness`) and the admission gate
# (`_stream_docs_mod4`) take 1 file per trigger instead: their oracles
# replay per-slice watermark / cap-exhaustion mechanics.
STREAM_MAX_FILES = 4


def _stage_stream(
    spark: SparkSession,
    stage: str,
    source: Callable[[], tuple[DataFrame, Column]],
    max_files: int,
) -> DataFrame:
    """File stream over a fixture table, staged into ``stage`` as slice
    files. ``source()`` returns the table and its slice-index column
    (0-3); it is called only while staging, so once the stage exists a
    stream query reads nothing but the stage.

    FIXTURE-ONLY: Spark's file-stream source monitors a DIRECTORY (new
    files appear = new data), while each fixture table is one read-only
    parquet file. So the rows are written once, as ``slice0``..
    ``slice3``, oldest slice first — sequential writes give increasing
    mtimes, the order the source reads them in, as files land in a
    landing zone. Rows whose index is NULL are not staged; an empty
    slice is not written, so every file is one non-empty micro-batch.
    The ``_STAGED`` marker makes this run once per stage dir, across
    sessions too. A real deployment points ``readStream`` at the
    landing zone and this helper disappears — no query logic lives in
    it.
    """
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        src, slice_idx = source()
        src = src.withColumn("_slice", slice_idx)
        for i in range(4):  # sequential writes → increasing mtimes
            sl = src.filter(F.col("_slice") == i).drop("_slice")
            if sl.isEmpty():
                continue
            sl.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, f"slice{i}")
            )
        open(done, "w").close()
    first = min(f for f in os.listdir(stage) if f.startswith("slice"))
    schema = spark.read.parquet(os.path.join(stage, first)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


def _quartile_slice(src: DataFrame, key: Column, what: str) -> Column:
    """Slice index 0-3 of ``key``'s quartile RANGE (half-open
    ``(lo, hi]``) — the slice rule of the quantile stagers. Quantile
    boundaries + range tests partition the rows exactly with no sort: a
    global row_number would funnel the whole table through one task
    (the anti-pattern this repo bans in query code), and no slice needs
    an order inside it, because watermark advancement is per micro-
    batch. A NULL key gets a NULL index (not staged); an empty source
    has no boundaries and fails with a clear message."""
    bounds = src.select(key.alias("_k")).stat.approxQuantile(
        "_k", [0.25, 0.5, 0.75], 0.001
    )
    if not bounds:
        raise ValueError(
            f"streaming staging: source {what!r} has no rows to slice"
        )
    idx = F.when(key > bounds[-1], len(bounds))
    for i in reversed(range(len(bounds))):
        idx = F.when(key <= bounds[i], i).otherwise(idx)
    return idx


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events parquet, normalized to a micro-
    second ``ts`` (same integer-division nanos fix as the batch loader).

    Slices by event-time quartile ranges, written oldest first: at 1
    file per trigger watermarks advance between batches and stateful
    operators carry state across them (the mode tests/test_streaming.py
    pins equal to the default), and slicing any other way would make
    whole batches arrive behind the advanced watermark and be dropped
    as late. NULL-``ts`` rows are pinned to the earliest slice by a
    sentinel (approxQuantile ignores NULLs, and every range test
    excludes them).
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = os.path.join(
        "/tmp/catme_etl_stream_src_v2", sf_dir.strip("/").replace("/", "_")
    )

    def source():
        src = spark.read.parquet(path)
        if dict(src.dtypes).get("ts") == "bigint":
            tsn = F.col("ts")
        else:  # timestamp / timestamp_ntz — epoch micros is sortable
            tsn = F.unix_micros(F.col("ts").cast("timestamp"))
        tsn = F.coalesce(tsn.cast("long"), F.lit(-(1 << 63)))
        return src, _quartile_slice(src, tsn, path)

    df = _stage_stream(spark, stage, source, STREAM_MAX_FILES)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # session tz is UTC: cast preserves the instant; watermarks
        # require the LTZ TimestampType
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_STREAM_SHUFFLE_PARTITIONS = 4


def _run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Execute a one-shot (AvailableNow) streaming query into a memory
    sink; return the sink as a batch DataFrame.

    Shuffle partitions are dropped to ``_STREAM_SHUFFLE_PARTITIONS``
    (4) for the query's lifetime: a stateful streaming query
    creates one state store PER shuffle partition PER micro-batch, so
    32 partitions × 4 micro-batches of a small test stream is pure
    constant overhead (measured at sf0.1: 8 partitions cost ~0.2-0.3 s
    more per query than 4; 2 is no better — the floor moves to
    planning/commit). The value is captured by the query at start (it
    is recorded in the checkpoint), and the session's batch setting is
    restored after — on a real cluster a long-lived stream sizes this
    to its state volume instead.

    SINGLE-THREADED assumption: the conf override is session-global
    for the query's lifetime, so a batch query run CONCURRENTLY on the
    same session (another thread) would see
    ``_STREAM_SHUFFLE_PARTITIONS`` (4) shuffle partitions. The
    sweep/bench/pytest harnesses all run queries sequentially; a
    multi-tenant deployment would run streams on their own session
    (``spark.newSession()``) instead.
    """
    import shutil
    import tempfile

    spark = df.sparkSession
    name = f"stream_sink_{next(_SINK_SEQ)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE_PARTITIONS)
    ckpt = tempfile.mkdtemp(prefix=f"{name}_", dir=_scratch_parent(spark))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _final_state(sunk: DataFrame, key: str, *fields: str) -> DataFrame:
    """The latest row per ``key`` of an update-mode memory sink, which
    keeps every micro-batch's update: each stateful arm here emits
    ``fields`` led by a counter that only grows, so the max of their
    struct is the final state. Returns ``(key, *fields)``."""
    return (
        sunk.groupBy(key)
        .agg(F.max(F.struct(*fields)).alias("_s"))
        .select(key, *(F.col(f"_s.{f}").alias(f) for f in fields))
    )


def tumbling_event_agg(e: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation over ANY stream exposing
    ``(ts timestamp, event_type string, value double)`` — the job logic
    is source-independent (file stream in the registered query, rate
    source in tests/test_streaming.py, Kafka/landing-zone in a real
    deployment: only the ``readStream`` line changes)."""
    e = e.withWatermark("ts", "1 hour")
    return e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("sum_value"),
    )


@query(
    "stream_tumbling_10min",
    oracle="""
    SELECT (CAST(floor(epoch(ts) / 600) AS BIGINT) * 600) * 1000000 AS win_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, streamed. Complete mode
    → equals the batch tumbling aggregation bit-for-bit."""
    agg = tumbling_event_agg(_stream_events(spark, sf_dir))
    sunk = _run_to_memory(agg, "complete")
    return sunk.select(
        F.unix_micros(F.col("w.start")).alias("win_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "stream_dedup_event_id",
    oracle="""
    SELECT event_id, user_id, event_type,
           ROUND(CAST(ROUND(value * 100) AS BIGINT) / 100.0, 2) AS value2
    FROM events
    """,
)
def stream_dedup_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (C7): ``dropDuplicatesWithinWatermark`` on
    the event key — state for a key is held only within the watermark
    horizon, which is what bounds dedup state on an unbounded stream.
    event_id is unique in the synthetic data, so the oracle is the
    table itself (the semantics under test are: nothing is dropped that
    shouldn't be, and the job runs stateful streaming end to end)."""
    e = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    dd = e.dropDuplicatesWithinWatermark(["event_id"])
    out = dd.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.round(F.col("value") * 100, 0).cast("long") / 100.0, 2).alias(
            "value2"
        ),
    )
    return _run_to_memory(out, "append")


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (C7's
    escape hatch for semantics no built-in stateful op covers): the
    per-user state is an explicit (count, cents) record carried across
    micro-batches, updated by arbitrary pandas code. State shards by
    group key across executors; a watermark+TTL would bound it on an
    unbounded stream. Totals equal the batch aggregate, so the
    mechanism is oracle-checked."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = _stream_events(spark, sf_dir).select("user_id", "value")

    def totals(key, pdfs, state):
        n, cents_total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer cents, same exactness contract as money_sum
            cents_total += int((pdf["value"] * 100).round(0).astype("int64").sum())
        state.update((n, cents_total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(cents_total / 100.0, 2)],
            }
        )

    out = e.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = _run_to_memory(out, "update")
    return _final_state(sunk, "user_id", "n_events", "sum_value")


def has_transform_with_state_runtime() -> bool:
    """``transformWithStateInPandas``'s Python driver worker speaks a
    protobuf-based state protocol; without the ``protobuf`` package the
    worker crashes at init. Capability-probe so callers (and the test
    suite) can gate on it — the same honest treatment as the Excel
    engine and multimodal codecs in this codec-free container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_user_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via ``transformWithStateInPandas``
    — Spark 4's successor to ``applyInPandasWithState`` (C7, the
    operator-API tier above it): explicit named state variables with
    schemas, optional TTL, and timer callbacks, managed by the state
    store per group key. Here one ValueState carries (count,
    cents-total, cents-max) per user across micro-batches; emitted
    totals converge to the batch aggregate
    (``SELECT user_id, COUNT(*), SUM, MAX ... GROUP BY user_id``).

    NOT in the query registry: the container lacks ``protobuf``, which
    the TWS Python driver worker needs (see
    :func:`has_transform_with_state_runtime`), so this is exercised by
    a skip-guarded test; ``stream_stateful_user_totals`` covers the
    same C7 contract through ``applyInPandasWithState``, which has no
    such dependency."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, cents long, maxc long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, maxc = (
                self._state.get() if self._state.exists() else (0, 0, None)
            )
            for pdf in rows:
                c = (pdf["value"] * 100).round(0).astype("int64")
                n += len(pdf)
                cents += int(c.sum())
                batch_max = int(c.max())
                maxc = batch_max if maxc is None else max(maxc, batch_max)
            self._state.update((n, cents, maxc))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(cents / 100.0, 2)],
                    "max_value": [round(maxc / 100.0, 2)],
                }
            )

        def close(self) -> None:
            pass

    e = _stream_events(spark, sf_dir).select("user_id", "value")
    out = e.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=(
            "user_id long, n_events long, sum_value double, max_value double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    sunk = _run_to_memory(out, "update")
    return _final_state(
        sunk, "user_id", "n_events", "sum_value", "max_value"
    )


@query(
    "stream_stream_view_to_purchase",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS delta_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 10 MINUTE
    """,
)
def stream_stream_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to purchases by the same
    user within the next 10 minutes, both sides watermarked — the time
    bound in the join condition is what lets Spark EVICT buffered state
    (a view older than max-seen-time − 10 min − watermark can never
    match again). Inner join + bounded condition → output equals the
    batch inequality join, so it's fully oracle-checked."""
    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    sunk = _run_to_memory(joined, "append")
    return sunk.select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("delta_us"),
    )


def stream_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Checkpointed ``foreachBatch`` parquet sink — the production
    shape of the reference's chunk-checkpoint loop (C1–C3,
    `unified_code.py:96-148,459-460`): offsets + sink commits live in
    ``checkpoint_dir``, so a re-run after a crash resumes instead of
    reprocessing. ``foreachBatch`` is at-least-once — a crash between
    the sink write and the offset commit replays the batch — so the
    write must be idempotent PER BATCH ID: each batch overwrites its
    own ``batch_id=N`` partition directory, making the replay a no-op
    rewrite instead of an append-duplication (the same idempotent-
    overwrite contract as the reference's chunk_{i}.json rewrite).
    Returns rows written."""
    e = _stream_events(spark, sf_dir)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        e.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).count()


def _sealed_sessions(
    spark: SparkSession, sf_dir: str, *aggs: Column
) -> DataFrame:
    """The sealed-session state shape every session arm here shares:
    per ``(user_id, w)`` — ``w`` a 30-minute-gap ``session_window`` —
    the aggregates ``aggs``, watermark 1 h, run to an APPEND sink, so
    only sessions the final watermark has sealed come out (each once).
    State is one row per OPEN session; sealed sessions leave the store
    as the watermark advances."""
    e = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(*aggs)
    return _run_to_memory(agg, "append")


# The oracles' watermark seal: a session (last event ``sess_end``) is
# sealed once its window end, last event + gap, is at or before the
# final watermark, max(ts) - 1 h.
_SEALED_PRED = (
    "sess_end + INTERVAL 30 MINUTE\n"
    "            <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)"
)


@query(
    "stream_session_sealed",
    oracle=f"""
    WITH {_ISLANDS_CTES},
    g AS (
      SELECT user_id, epoch_us(MIN(ts)) AS sess_start_us,
             COUNT(*) AS n_events, MAX(ts) AS sess_end
      FROM islands GROUP BY user_id, sess
    )
    SELECT user_id, sess_start_us, n_events
    FROM g
    WHERE sess_end + INTERVAL 30 MINUTE
          <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_session_sealed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) in APPEND mode: only sessions the
    final watermark (max event time − 1 h) has sealed are emitted.

    Hash-certified by BATCH EQUIVALENCE: once the watermark passes a
    session's end, its contents are frozen — so the sealed set equals
    the batch gaps-and-islands sessionization (the
    `events_session_30min` oracle) filtered to sessions whose Spark
    window end (last event + gap) is at-or-before the final watermark.
    The streamed run is genuinely multi-micro-batch (4 time-ordered
    slices, watermark advancing between batches); the oracle replays
    the same semantics in one SQL pass, verified set-identical at
    sf0.001 and sf0.01. Sessions still OPEN at end-of-stream are
    (correctly) absent from both sides — that is the append-mode
    contract this query demonstrates."""
    sunk = _sealed_sessions(
        spark, sf_dir, F.count(F.lit(1)).alias("n_events")
    )
    return sunk.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("sess_start_us"),
        "n_events",
    )


@query(
    "stream_sliding_10min_5min",
    oracle="""
    SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - k * 300) * 1000000
               AS win_start_us,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events, (SELECT unnest(range(2)) AS k)
    GROUP BY 1
    """,
)
def stream_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation, streamed (width 10 min,
    slide 5 min): each event lands in width/slide = 2 window instances,
    expanded map-side before the stateful aggregation — the state store
    keys on (window, -) exactly like tumbling, just 2× as many keys.
    Complete mode → equals the batch sliding aggregation
    (`events_sliding_10min_5min`) bit-for-bit."""
    e = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    # COUNT(DISTINCT) is unsupported in streaming aggregations —
    # collect_set carries the distinct users in state (bounded: users
    # per 10-min window), counted by size() at emit
    agg = e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.collect_set("user_id").alias("_users"),
    )
    sunk = _run_to_memory(agg, "complete")
    return sunk.select(
        F.unix_micros(F.col("w.start")).alias("win_start_us"),
        "n_events",
        F.size("_users").cast("long").alias("n_users"),
    )


def _bin_fold(binned: DataFrame, n_bins: int) -> DataFrame:
    """Per ``event_type``, a dense ``n_bins``-bin count histogram kept
    as ``applyInPandasWithState`` state across micro-batches. Input is
    any stream of ``(event_type string, bin long)`` with bin already in
    [0, n_bins); state is ``n_bins`` longs + 1 count per key. Emits the
    running ``(event_type, n_total, bins_csv)`` snapshot per key per
    trigger, for the update sink."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def hist(key, pdfs, state):
        (bins_list, n_total) = (
            state.get if state.exists else ([0] * n_bins, 0)
        )
        bins = np.array(bins_list, dtype="int64")
        for pdf in pdfs:
            b = pdf["bin"].to_numpy().astype("int64")
            bins += np.bincount(b, minlength=n_bins).astype("int64")
            n_total += len(pdf)
        state.update((bins.tolist(), n_total))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_total": [n_total],
                "bins_csv": [",".join(str(int(x)) for x in bins)],
            }
        )

    return binned.groupBy("event_type").applyInPandasWithState(
        hist,
        outputStructType="event_type string, n_total long, bins_csv string",
        stateStructType="bins array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _unpack_bins(final: DataFrame, n: str) -> DataFrame:
    """``(event_type, bins_csv)`` snapshots back to ``(event_type, bin,
    n)`` rows, one per bin."""
    return final.select(
        "event_type",
        F.posexplode(F.split("bins_csv", ",")).alias("bin", "_n"),
    ).select(
        "event_type",
        F.col("bin").cast("long").alias("bin"),
        F.col("_n").cast("long").alias(n),
    )


@query(
    "stream_histogram_value_bins",
    oracle="""
    WITH c AS (
      SELECT event_type,
             LEAST(19, GREATEST(0,
               CAST(ROUND(value * 100) AS BIGINT) // 500)) AS bin,
             COUNT(*) AS n
      FROM events GROUP BY event_type, bin
    ),
    grid AS (
      SELECT t.event_type, g.bin
      FROM (SELECT DISTINCT event_type FROM events
            WHERE value IS NOT NULL) t,
           (SELECT unnest(range(20)) AS bin) g
    )
    SELECT grid.event_type, grid.bin, COALESCE(c.n, 0) AS n
    FROM grid LEFT JOIN c
      ON c.event_type = grid.event_type AND c.bin = grid.bin
    """,
)
def stream_histogram_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGEABLE-STATE histogram (C7): per event type, a
    20-bin fixed-width ($5) value histogram maintained as explicit
    state across micro-batches via ``applyInPandasWithState`` — the
    streaming analog of the batch sketch family (bitmap/HLL/CMS): the
    state is a small mergeable array, updated order-insensitively, so
    the stream can answer distribution questions at any trigger
    without rescanning history.

    Counts are clamped into [0, 19] ($0–$100 in $5 steps, top bin
    open-ended) so state size is a constant 20 longs per key
    regardless of stream length. The final per-type snapshot (largest
    n_total row in the update-mode sink) explodes back to (type, bin,
    n) rows and equals the batch histogram exactly — the oracle is the
    plain GROUP BY over the same parquet.
    """
    # NULL values are out of the histogram's domain on both sides (the
    # oracle's NULL bin falls out of the grid join) — filter before the
    # stateful operator. Cents are floor(x·100 + 0.5): half-away for
    # the non-negative values, and every negative cent lands in a bin
    # ≤ 0 on both engines, which the clip collapses.
    cents = F.floor(F.col("value") * 100 + 0.5)
    binned = (
        _stream_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.least(F.lit(19), F.greatest(F.lit(0), F.floor(cents / 500)))
            .cast("long")
            .alias("bin"),
        )
    )
    sunk = _run_to_memory(_bin_fold(binned, 20), "update")
    final = _final_state(sunk, "event_type", "n_total", "bins_csv")
    return _unpack_bins(final, "n")


# ---------------------------------------------------------------------------
# Streaming drift gate (round-7 item #4): the PSI verdict per micro-batch.
# ---------------------------------------------------------------------------


def drift_current_histogram(binned: DataFrame) -> DataFrame:
    """The mergeable-state core of the streaming drift gate: per
    ``event_type``, a dense 10-bin histogram of the CURRENT window
    maintained across micro-batches via ``applyInPandasWithState``
    (the `stream_histogram_value_bins` state shape, reference-edge
    bins instead of fixed $5 bins). Input is any stream exposing
    ``(event_type string, bin long)`` with bin already clamped to
    [0, 9] — binning happens BEFORE the stateful operator (a
    stream-static join against the reference profile), so the state
    fn never sees raw values and state stays a constant 10 longs +
    1 count per key. Emits the running (n_total, bins_csv) snapshot
    per key per trigger — each micro-batch yields a fresh drift
    verdict downstream, which is the thing a 100 TB ingest actually
    pages on. Kill-and-restart safe: state lives in the checkpoint
    (proven for this exact state shape in
    ``tests/test_round7_ops.py``)."""
    return _bin_fold(binned, 10)


_PSI_BIN_SQL = (
    "CAST(LEAST(9, GREATEST(0, floor((ev.value - vmin) * 10 / (vmax - vmin))))"
    " AS BIGINT)"
)


@query(
    "stream_drift_gate",
    oracle=f"""
    WITH t AS (
      SELECT (CAST(floor(MIN(epoch(ts))) AS BIGINT)
              + CAST(floor(MAX(epoch(ts))) AS BIGINT)) // 2 AS mid
      FROM events
    ),
    r AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax,
             CAST(COUNT(*) AS BIGINT) AS ta
      FROM events, t
      WHERE floor(epoch(ts)) < mid AND value IS NOT NULL
      GROUP BY event_type
      HAVING MAX(value) > MIN(value)
    ),
    refb AS (
      SELECT ev.event_type, {_PSI_BIN_SQL} AS bin, COUNT(*) AS n
      FROM events ev JOIN r USING (event_type), t
      WHERE floor(epoch(ev.ts)) < mid AND ev.value IS NOT NULL
      GROUP BY 1, 2
    ),
    curb AS (
      SELECT ev.event_type, {_PSI_BIN_SQL} AS bin, COUNT(*) AS n
      FROM events ev JOIN r USING (event_type), t
      WHERE floor(epoch(ev.ts)) >= mid AND ev.value IS NOT NULL
      GROUP BY 1, 2
    ),
    dense AS (
      SELECT g.event_type, g.ta, g.bin,
             COALESCE(rb.n, 0) AS na, COALESCE(cb.n, 0) AS nb
      FROM (SELECT event_type, ta, gb.bin
            FROM r, (SELECT unnest(range(10)) AS bin) gb) g
      LEFT JOIN refb rb ON rb.event_type = g.event_type AND rb.bin = g.bin
      LEFT JOIN curb cb ON cb.event_type = g.event_type AND cb.bin = g.bin
    ),
    tt AS (
      SELECT event_type, CAST(SUM(nb) AS BIGINT) AS tb
      FROM dense GROUP BY 1
    ),
    p AS (
      SELECT d.event_type, d.ta AS n_ref, tt.tb AS n_cur,
             floor(SUM(((na + 1.0) / (d.ta + 10.0) - (nb + 1.0) / (tb + 10.0))
                       * ln(((na + 1.0) / (d.ta + 10.0))
                            / ((nb + 1.0) / (tb + 10.0))))
                   * 10000 + 0.5) / 10000 AS psi_r4
      FROM dense d JOIN tt USING (event_type)
      GROUP BY 1, 2, 3
    )
    SELECT event_type, n_ref, n_cur, psi_r4,
           CASE WHEN psi_r4 >= 0.25 THEN 'hold'
                WHEN psi_r4 >= 0.1 THEN 'watch'
                ELSE 'ship' END AS verdict
    FROM p ORDER BY event_type
    """,
)
def stream_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING drift gate — `pipeline_drift_gate`'s batch
    verdict, recomputed per micro-batch as a 100 TB ingest actually
    runs it. A batch pass fixes the REFERENCE: the first half of the
    event timeline, profiled per type into 10 equal-width bins whose
    edges come from the REFERENCE data only (production PSI pins the
    bin edges at profile time — the current window must be binned on
    the same grid or drift scores are incomparable; out-of-range
    current values clamp into the edge bins). The CURRENT window
    (second half) then arrives as a file stream: a stream-static join
    attaches the reference edges, the mergeable 10-bin state
    (:func:`drift_current_histogram`) accumulates across
    micro-batches, and each trigger's snapshot yields a fresh
    Laplace-smoothed PSI + ship/watch/hold verdict per type (same
    thresholds as the batch gate). The certified output is the FINAL
    snapshot, which must equal the batch computation exactly — the
    `stream_session_sealed`-style batch-equivalence certification; the
    DuckDB oracle is that batch computation.

    KS is deliberately absent from the streaming tier: KS-D needs the
    full joint ECDF (not mergeable in constant state), so the
    streaming gate carries the PSI half of the batch verdict and a
    nightly batch `pipeline_drift_gate` re-adjudicates with KS.

    Scale shape: reference profile is one metadata agg + one binned
    agg over the reference window (both map-side combinable); the
    stream shuffles only (type, bin) pairs into per-key constant
    state; the verdict math runs on a |types|×10 grid. NULL values
    are out of the histogram domain on both engines (filtered before
    the stateful op; the oracle's WHERE mirrors)."""
    from ..operators._shared import bounded_collect
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    mid = bounded_collect(
        ev.agg(
            F.expr(
                "(CAST(min(unix_timestamp(ts)) AS BIGINT)"
                " + CAST(max(unix_timestamp(ts)) AS BIGINT)) div 2"
            ).alias("mid")
        ),
        max_rows=1,
        what="stream_drift_gate timeline midpoint",
    )[0].mid
    val_ok = F.col("value").isNotNull()
    ref_rows = ev.filter((F.unix_timestamp("ts") < mid) & val_ok)
    r = (
        ref_rows.groupBy("event_type")
        .agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count(F.lit(1)).alias("ta"),
        )
        .filter(F.col("vmax") > F.col("vmin"))
    )
    bin_col = (
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * 10
                    / (F.col("vmax") - F.col("vmin"))
                ),
            ),
        )
        .cast("long")
        .alias("bin")
    )
    refb = (
        ref_rows.join(F.broadcast(r), "event_type")
        .select("event_type", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    grid = r.select("event_type", "ta").crossJoin(
        spark.range(10).select(F.col("id").cast("long").alias("bin"))
    )
    refd = grid.join(refb, ["event_type", "bin"], "left").select(
        "event_type",
        "ta",
        "bin",
        F.coalesce("na", F.lit(0)).alias("na"),
    )

    cur = (
        _stream_events(spark, sf_dir)
        .filter((F.unix_timestamp("ts") >= F.lit(mid)) & val_ok)
        .join(F.broadcast(r.select("event_type", "vmin", "vmax")), "event_type")
        .select("event_type", bin_col)
    )
    sunk = _run_to_memory(drift_current_histogram(cur), "update")
    curb = _unpack_bins(
        _final_state(sunk, "event_type", "n_total", "bins_csv"), "nb"
    )
    dense = refd.join(curb, ["event_type", "bin"], "left").select(
        "event_type",
        "ta",
        "bin",
        "na",
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    tt = dense.groupBy("event_type").agg(F.sum("nb").cast("long").alias("tb"))
    pa = (F.col("na") + 1.0) / (F.col("ta") + 10.0)
    pb = (F.col("nb") + 1.0) / (F.col("tb") + 10.0)
    p = (
        dense.join(F.broadcast(tt), "event_type")
        .groupBy(
            "event_type",
            F.col("ta").cast("long").alias("n_ref"),
            F.col("tb").alias("n_cur"),
        )
        .agg(
            (
                F.floor(F.sum((pa - pb) * F.log(pa / pb)) * 10000 + F.lit(0.5))
                / 10000
            ).alias("psi_r4")
        )
    )
    return p.select(
        "event_type",
        "n_ref",
        "n_cur",
        "psi_r4",
        F.when(F.col("psi_r4") >= 0.25, "hold")
        .when(F.col("psi_r4") >= 0.1, "watch")
        .otherwise("ship")
        .alias("verdict"),
    ).orderBy("event_type")


def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the documents parquet, sliced by doc_id quartile
    ranges (documents carry no event time; arrival order by id stands in
    for ingest order). NULL doc_ids are not staged."""
    path = os.path.join(sf_dir, "documents.parquet")
    stage = os.path.join(
        "/tmp/catme_etl_stream_docs_v1", sf_dir.strip("/").replace("/", "_")
    )

    def source():
        src = spark.read.parquet(path)
        return src, _quartile_slice(src, F.col("doc_id"), path)

    return _stage_stream(spark, stage, source, STREAM_MAX_FILES)


@query(
    "stream_bloom_index_maintenance",
    oracle="""
    WITH corpus AS (
      SELECT text FROM documents WHERE doc_id % 10 <> 9
    ),
    cpos AS (
      SELECT (CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 4096) AS p FROM corpus
      UNION ALL
      SELECT (CAST(('0x' || substring(md5(text), 9, 8)) AS BIGINT) % 4096) AS p FROM corpus
      UNION ALL
      SELECT (CAST(('0x' || substring(md5(text), 17, 8)) AS BIGINT) % 4096) AS p FROM corpus
    )
    SELECT p // 32 AS w,
           CAST(bit_or(1::BIGINT << (p % 32)) AS BIGINT) AS word
    FROM cpos GROUP BY p // 32
    """,
)
def stream_bloom_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest prefilter's Bloom index maintained BY the stream
    (C7): corpus documents arrive as micro-batches and each batch's
    md5-slice bit positions fold into the per-word filter state with a
    streaming ``bit_or`` aggregate — the textbook mergeable-state
    sketch (bit_or is commutative, associative, idempotent, so state
    per word is ONE int64 and replay/out-of-order arrival cannot
    corrupt it). The final complete-mode snapshot is certified EQUAL,
    word for word, to the batch-built filter
    (`dedup_bloom_prefilter_audit`'s words table over the same corpus
    slice) — the stream and the nightly build can hand each other the
    index at any boundary.

    State shape: ≤ 128 keys × one int64 — constant regardless of
    stream length, the smallest stateful operator in the module.
    Engine-managed aggregate state (no applyInPandasWithState
    needed): declaring the bit_or lets Spark keep partial words
    map-side per micro-batch.

    Reference basis: none; contract C7 streaming family, the
    streaming arm of the queued Bloom audit."""
    from ..functions.texttools import hex_prefix_long

    docs = _stream_docs(spark, sf_dir).filter(F.col("doc_id") % 10 != 9)
    pos = None
    for j in range(3):
        part = docs.select(
            (hex_prefix_long(F.md5("text"), 8, 1 + 8 * j) % 4096).alias("p")
        )
        pos = part if pos is None else pos.unionAll(part)
    bits = pos.select(
        F.expr("p div 32").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), p % 32)").alias("b"),
    )
    agg = bits.groupBy("w").agg(
        F.expr("CAST(bit_or(b) AS BIGINT)").alias("word")
    )
    return _run_to_memory(agg, "complete")


# Per session, the first view ``v``, the first purchase at or after it
# ``p``, and the last event ``sess_end`` — the sealed latency arms'
# sessions, which `_SEALED_PRED` then filters.
_SEALED_CONV_CTES = f"""{_ISLANDS_EV_CTES},
    s1 AS (
      SELECT user_id, sess,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
             MAX(ts) AS sess_end
      FROM islands GROUP BY user_id, sess
    ),
    s3 AS (
      SELECT s1.user_id, s1.sess, s1.v, s1.sess_end,
             MIN(CASE WHEN i.event_type = 'purchase' AND i.ts >= s1.v
                      THEN i.ts END) AS p
      FROM s1 JOIN islands i
        ON i.user_id = s1.user_id AND i.sess = s1.sess
      GROUP BY s1.user_id, s1.sess, s1.v, s1.sess_end
    )"""


def _sealed_latencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_SEALED_CONV_CTES`` + ``_SEALED_PRED``: one row
    ``(day, us)`` per sealed converting session — the first-view day
    and the first-view→first-later-purchase microseconds. The session
    state carries the first view ts and the purchase-ts list; the
    latency is one ``array_min(filter(...))`` over the sealed row."""
    sealed = _sealed_sessions(
        spark,
        sf_dir,
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("purchases"),
    )
    return (
        sealed.filter(F.col("v").isNotNull())
        .select(
            F.expr("unix_micros(v) div 86400000000").alias("day"),
            F.unix_micros("v").alias("v_us"),
            F.expr("array_min(filter(purchases, p -> p >= unix_micros(v)))")
            .alias("p_us"),
        )
        .filter(F.col("p_us").isNotNull())
        .select("day", (F.col("p_us") - F.col("v_us")).alias("us"))
    )


@query(
    "stream_latency_sketch_sealed",
    oracle=f"""
    WITH {_SEALED_CONV_CTES},
    lat AS (
      SELECT epoch_us(p) - epoch_us(v) AS us
      FROM s3
      WHERE p IS NOT NULL
        AND {_SEALED_PRED}
    ),
    {_LOG2_SKETCH_SQL}""",
)
def stream_latency_sketch_sealed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The log2 latency sketch maintained ON the stream (C7) — the
    streaming arm `events_latency_log2_sketch`'s docstring promises
    ("mergeable across days/partitions/clusters, and streamable"),
    built the way a live conversion-latency monitor actually runs:
    one engine-managed streaming SESSION-WINDOW aggregation (30-min
    gap, 1-h watermark — the certified `stream_session_sealed`
    machinery) carries per-open-session state of exactly (first view
    ts, purchase-ts list) across micro-batches; APPEND mode emits each
    session once, when the watermark seals it. The sealed snapshot
    then collapses batch-side — first-view→first-subsequent-purchase
    microseconds via one array_min(filter(...)), binary-magnitude
    buckets via the certified `length(bin(us))` integer idiom, and
    the p50/p90/p99 read-off over the ≤ 64-row cumulative grid.

    Certified by BATCH EQUIVALENCE against the exact `_LAT_CTES`
    pipeline restricted to watermark-sealed sessions (sess_end +
    30 min ≤ max(ts) − 1 h) — the same seal predicate
    `stream_session_sealed` certifies. Sessions still open at
    end-of-stream are absent from both sides by the append-mode
    contract.

    State shape: one row per OPEN session — (timestamp, small
    purchase-ts array); the array is bounded by purchases-per-session
    (not stream length), and sealed sessions leave the store at
    watermark advance. The bucket grid itself is the ≤ 64-row
    constant the batch sketch certifies; at 100 TB the session store
    shards by user across executors (the same keyed-state layout
    every stateful op here assumes) while the read-off stays a
    64-row reduction.

    Reference basis: none; contract C7 streaming family — the
    latency sibling of `stream_bloom_index_maintenance`'s
    filter-maintenance pattern (state the stream OWNS, snapshots the
    batch can certify)."""
    return log2_latency_readoff(_sealed_latencies(spark, sf_dir))


def _minhash_band_cols():
    """Row-wise (no-explode) minhash band computation for streaming:
    the batch path aggregates per-doc mins over an exploded shingle
    table (two stateful steps — illegal in one streaming query), but
    the signature is a pure per-ROW function of the text, so the
    stream computes shingles → 56-bit hashes → 32 seeded mins →
    8 band keys entirely inside higher-order array expressions and
    leaves only ONE stateful agg (the index fold) for the engine.
    Returns (shingle_count_col, band_keys_array_col) computing the
    exact values of `_minhash_signatures`/`_minhash_bands`."""
    from ..functions.texttools import MINHASH_P, minhash_constants
    from ..operators.dedup import _BAND_ROWS, _N_SEEDS

    shingles = (
        "array_distinct(regexp_extract_all(text,"
        " '(?=(?:^| )(\\\\S+ \\\\S+ \\\\S+))', 1))"
    )
    xs = (
        f"transform({shingles}, g ->"
        f" CAST(conv(substring(md5(g), 1, 14), 16, 10) AS BIGINT)"
        f" % {MINHASH_P}L)"
    )
    consts = minhash_constants(_N_SEEDS)
    mins = [
        f"array_min(transform(_xs, x -> ({a}L * x + {b}L) % {MINHASH_P}L))"
        for (a, b) in consts
    ]
    bkeys = []
    for b in range(_N_SEEDS // _BAND_ROWS):
        parts = ", ".join(
            f"CAST(_h{b * _BAND_ROWS + r} AS STRING)" for r in range(_BAND_ROWS)
        )
        bkeys.append(f"concat_ws(',', {parts})")
    return xs, mins, f"array({', '.join(bkeys)})"


def _minhash_band_gen():
    """mapInPandas generator computing the exact per-doc band keys of
    :func:`_minhash_band_cols` (r14 optimization, guide §4.2): the
    interpreted higher-order form evaluated 32 seeded Carter-Wegman
    lambdas per shingle per row (~800k interpreted evals per
    micro-batch at sf0.1); here the shingle set is one Java-equivalent
    regex pass (``re.ASCII`` pins \\S to Java's ASCII class), the
    56-bit md5 values are bulk hashlib, and all 32 seed minima come
    from ONE numpy broadcast + ``minimum.reduceat`` over the
    flattened batch. a·x+b < 2^62 + 2^31 so int64 never wraps — the
    same bound the JVM/DuckDB literals rely on. Emits
    (doc_id, band, bkey) rows; docs with no shingle (< 3 tokens or
    null text) emit nothing, matching the ``size(_xs) > 0`` filter."""
    import re
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd

    from ..functions.texttools import MINHASH_P, minhash_constants
    from ..operators.dedup import _BAND_ROWS, _N_SEEDS

    pat = re.compile(r"(?=(?:^| )(\S+ \S+ \S+))", re.ASCII)
    consts = minhash_constants(_N_SEEDS)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    n_bands = _N_SEEDS // _BAND_ROWS

    def gen(batches):
        for pdf in batches:
            doc_ids, offs, xs_all = [], [], []
            pos = 0
            for doc_id, text in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                if text is None:
                    continue
                gs = pat.findall(text)
                if not gs:
                    continue
                xs_all.extend(
                    int(_md5(g.encode()).hexdigest()[:14], 16) % MINHASH_P
                    for g in gs
                )
                doc_ids.append(doc_id)
                offs.append(pos)
                pos += len(gs)
            if not doc_ids:
                continue
            xs = np.array(xs_all, dtype=np.int64)[None, :]
            h = np.minimum.reduceat(
                (A * xs + B) % MINHASH_P, np.array(offs), axis=1
            )  # (n_seeds, n_docs)
            # width derived from the modulus (round-14 ADVICE): at
            # MINHASH_P = 2^31-1 this is U10; a wider prime would
            # otherwise silently truncate band-key components.
            hs = h.astype(f"U{len(str(MINHASH_P))}")
            bkeys = [
                [
                    ",".join(hs[b * _BAND_ROWS + r, j] for r in range(_BAND_ROWS))
                    for b in range(n_bands)
                ]
                for j in range(len(doc_ids))
            ]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        np.array(doc_ids, dtype=np.int64), n_bands
                    ),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(doc_ids)
                    ),
                    "bkey": [k for row in bkeys for k in row],
                }
            )

    return gen


from ..operators.dedup import _MINHASH_BANDS_CTES as _MH_BANDS_CTES  # noqa: E402

_STREAM_MINHASH_ORACLE = f"""
    WITH {_MH_BANDS_CTES}
    SELECT band, bkey,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM bands GROUP BY band, bkey
    """


@query(
    "stream_minhash_band_index",
    oracle=_STREAM_MINHASH_ORACLE,
)
def stream_minhash_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash LSH index maintained BY the stream (C7) —
    the near-dup sibling of `stream_bloom_index_maintenance`: corpus
    documents arrive as micro-batches, each doc's 32-seed signature
    and 8 band keys are computed STATELESSLY per batch (shingle →
    md5 → Carter-Wegman mins, one vectorized numpy pass inside
    `mapInPandas` — value-identical to the interpreted
    higher-order-expression form it replaced, which paid ~800k
    interpreted lambda evals per micro-batch; r14 optimization,
    guide §4.2 — no per-doc aggregation state), and the only
    stateful step is the index fold:
    a streaming groupBy(band, bkey) maintaining (n_docs, canonical =
    min doc_id) per bucket. COUNT and MIN are both
    commutative/associative merges, so out-of-order micro-batches
    cannot corrupt a bucket, and the complete-mode snapshot is
    certified row-for-row equal to the batch `_minhash_bands` index
    aggregated the same way — an ingest stream and the nightly batch
    build can hand the LSH index to each other at any boundary
    (probing it is `dedup_minhash_incremental`'s certified job).

    State shape: one (count, min) row per DISTINCT (band, bucket) —
    the state IS the index, growing with corpus vocabulary, sharded
    by bucket key across executors; per-row signature work is
    stateless and scales out embarrassingly. Docs with < 3 tokens
    produce no shingles and are excluded on both engines (they carry
    no banding signal; exact dedup owns them).

    Reference basis: none; contract C7 streaming family + F9 LSH."""
    docs = _stream_docs(spark, sf_dir).select("doc_id", "text")
    d = docs.mapInPandas(
        _minhash_band_gen(), schema="doc_id long, band int, bkey string"
    )
    agg = d.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("canonical_id"),
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_volume_anomaly_weekly",
    oracle=_VOLUME_MAD_ORACLE,
)
def stream_volume_anomaly_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The weekly ingest-volume MAD alarm fed BY the stream (C7) —
    the streaming arm of `events_volume_anomaly_by_type_week`, in the
    `stream_drift_gate` split of labor: the STREAM
    maintains only the compact mergeable state (one engine-managed
    count per (event_type, 7-day tumbling window) — Spark's epoch-
    anchored windows land on exactly the batch op's
    `epoch_us // 604800000000` buckets), and the robust verdict
    (lower-median/MAD grid walks, the all-integer 10000·d > 44478·mad
    threshold) runs batch-side on the complete-mode snapshot. Output
    certified row-for-row equal to the batch monitor — the alarm a
    live collector actually runs, handing the nightly batch the same
    numbers at any boundary.

    State shape: |types| × |weeks| counts — bounded by calendar ×
    type cardinality, not stream volume; counts merge map-side per
    micro-batch. The MAD walk costs two keyed windows over that
    constant-size grid per evaluation.

    Reference basis: none; contract C7 streaming family."""
    e = _stream_events(spark, sf_dir)
    agg = e.groupBy(
        "event_type", F.window("ts", "7 days").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    snap = _run_to_memory(agg, "complete").select("event_type", "n")
    return volume_mad_verdict(snap)


@query(
    "stream_concurrency_by_hour",
    oracle=f"""
    WITH {_ISLANDS_CTES},
    g AS (
      SELECT user_id,
             epoch_us(MIN(ts)) // 3600000000 AS h1,
             epoch_us(MAX(ts)) // 3600000000 AS h2,
             MAX(ts) AS sess_end
      FROM islands GROUP BY user_id, sess
    ),
    sealed AS (
      SELECT * FROM g
      WHERE {_SEALED_PRED}
    ),
    covered AS (
      SELECT user_id, unnest(range(h1, h2 + 1)) AS h FROM sealed
    )
    SELECT CAST(h * 3600000000 AS BIGINT)        AS hour_start_us,
           CAST(COUNT(*) AS BIGINT)              AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM covered GROUP BY h
    """,
)
def stream_concurrency_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly session-concurrency curve maintained ON the stream
    (C7) — the streaming arm of `events_concurrency_by_hour`, built
    from the certified `stream_session_sealed` machinery: one
    engine-managed session-window aggregation (30-min gap, 1-h
    watermark) seals each session once in APPEND mode; the sealed
    snapshot expands batch-side to covered hours (session_window.end
    is last-event + gap, so last-event hour = end − 30 min) and
    aggregates sessions + distinct users per hour. Certified by batch
    equivalence against the gaps-and-islands sessionization under the
    same watermark seal predicate — the capacity dashboard a live
    platform reads, minus only the sessions still open at the query
    instant (absent from both sides by the append contract).

    State shape: one (start, end, count) row per OPEN session —
    sealed sessions leave the store as the watermark advances; the
    hour expansion is a bounded explode over sealed rows only.

    Reference basis: none; contract C5/C7 streaming family."""
    sealed = _sealed_sessions(
        spark, sf_dir, F.count(F.lit(1)).alias("n_events")
    )
    return hourly_concurrency(
        sealed.select(
            "user_id",
            F.expr(f"unix_micros(w.start) div {_HOUR_US}").alias("h1"),
            F.expr(
                f"unix_micros(w.end - INTERVAL 30 MINUTES) div {_HOUR_US}"
            ).alias("h2"),
        )
    )


_LAT_ALERT_SLA_US = 1_200_000_000  # 20-minute conversion-latency SLA


@query(
    "stream_latency_alert_daily",
    oracle=f"""
    WITH {_SEALED_CONV_CTES},
    lat AS (
      SELECT epoch_us(v) // 86400000000 AS day,
             epoch_us(p) - epoch_us(v) AS us
      FROM s3
      WHERE p IS NOT NULL
        AND {_SEALED_PRED}
    ),
    g AS (
      SELECT day, length(bin(us)) AS bl, CAST(COUNT(*) AS BIGINT) AS k
      FROM lat GROUP BY 1, 2
    ),
    n AS (SELECT day, CAST(SUM(k) AS BIGINT) AS n FROM g GROUP BY 1),
    c AS (
      SELECT a.day, a.bl, CAST(SUM(b.k) AS BIGINT) AS cum
      FROM g a JOIN g b ON b.day = a.day AND b.bl <= a.bl
      GROUP BY 1, 2
    ),
    ro AS (
      SELECT c.day, n.n AS n_converted,
             CAST(MIN(CASE WHEN 2 * cum >= n.n
                           THEN (CAST(1 AS BIGINT) << bl) - 1 END)
                  AS BIGINT) AS p50_hi_us,
             CAST(MIN(CASE WHEN 10 * cum >= 9 * n.n
                           THEN (CAST(1 AS BIGINT) << bl) - 1 END)
                  AS BIGINT) AS p90_hi_us
      FROM c JOIN n ON n.day = c.day
      GROUP BY 1, 2
    )
    SELECT CAST(day * 86400000000 AS BIGINT) AS day_start_us,
           n_converted, p50_hi_us, p90_hi_us,
           CAST(CASE WHEN p90_hi_us > {_LAT_ALERT_SLA_US}
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
    FROM ro
    """,
)
def stream_latency_alert_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The latency monitor's THRESHOLD-CROSSING VERDICT on the stream
    (C8's missing half, round-9 verdict item #7a): where
    `stream_latency_sketch_sealed` certifies the corpus-wide sketch,
    this is what a paging monitor actually emits — per DAY of first
    view, the sealed-session p50/p90 bucket read-off and an ALERT flag
    the moment the day's p90 upper bound crosses the 20-minute
    conversion SLA.

    Same state/verdict split the README documents: the ONLY streaming
    state is the engine-managed session window carrying (first view
    ts, purchase-ts list) per OPEN session — identical to the sealed
    sketch's store, bounded by open sessions, never corpus-sized. The
    verdict side stays a per-day ≤ 64-row log2 grid: `length(bin(us))`
    buckets, cumulative rank via the bounded same-day self-join of the
    grid (`log2_latency_readoff`, the batch sketch's kernel), integer
    cross-multiplication for the percentile ranks (2·cum ≥ n,
    10·cum ≥ 9·n — no division), and the alert compares the bucket's
    exact 2^bl − 1 upper bound against the SLA constant, so the
    verdict is integer-exact on both engines. A day with ANY
    conversions always reads a p90 bucket (the top bucket's cum = n
    satisfies every rank), so no NULL-verdict branch exists.

    At 100 TB the session store shards by user; the verdict side is
    (days × ≤64) rows regardless of corpus size, and because the grid
    is mergeable the same read-off runs per-hour or per-region by
    swapping the group key.

    Reference basis: none; contract C7/C8 streaming family —
    completes the state-on-stream / verdict-batch-side split with the
    threshold decision itself certified.
    """
    ro = log2_latency_readoff(_sealed_latencies(spark, sf_dir), by=("day",))
    return ro.select(
        (F.col("day") * 86400000000).cast("long").alias("day_start_us"),
        "n_converted",
        "p50_hi_us",
        "p90_hi_us",
        F.when(F.col("p90_hi_us") > F.lit(_LAT_ALERT_SLA_US), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("alert"),
    )


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-series arms' state: event counts per epoch-anchored
    1-day tumbling window, run to a COMPLETE sink (COUNT merges in any
    order, so out-of-order micro-batches cannot corrupt a day), as
    ``(day, n)`` with ``day`` the epoch-day index. State is one row per
    observed day."""
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return _run_to_memory(agg, "complete").select(
        F.expr("unix_micros(w.start) div 86400000000").alias("day"), "n"
    )


@query(
    "stream_changepoint_daily",
    oracle=_CHANGEPOINT_ORACLE,
)
def stream_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changepoint monitor's STREAMING ARM (C7) — the state/verdict
    split applied to `events_changepoint_max_meanshift`: the stream
    owns only the mergeable daily-count state (epoch-anchored 1-day
    tumbling windows in complete mode — COUNT is
    commutative/associative, so out-of-order micro-batches cannot
    corrupt a day), and the batch-side verdict runs the IDENTICAL
    cross-multiplied rational argmax (`changepoint_verdict`, the
    factored kernel the batch operator itself calls) on the snapshot.
    Certified against the SAME oracle as the batch op, so the stream
    and the nightly batch produce byte-identical split verdicts at any
    handoff boundary — the level-shift alarm a live ingest dashboard
    reads beside the weekly MAD monitor (that one flags magnitude
    outliers; this one localizes WHEN the regime changed).

    State shape: one (day, count) row per observed day — bounded by
    the stream's horizon, not its volume; the verdict side is the
    |days|² bounded triangular argmax.

    Reference basis: none; contract C5/C7 streaming family."""
    return changepoint_verdict(_daily_counts(spark, sf_dir))


from ..functions.texttools import sql_hex_long  # noqa: E402
from ..operators.dedup import WINNOW_K as _WK  # noqa: E402
from ..operators.dedup import WINNOW_W as _WW  # noqa: E402

_WINNOW_SHARD = 64  # this stream owns fp-space slice fp % 64 == 0; a
# production deployment runs 64 such workers, each with 1/64 of the
# index as its state — sharding by FINGERPRINT keeps every posting of
# a fingerprint on one worker, so counts and canonicals stay exact.

def _winnow_shard_gen(k: int, w: int, shard: int):
    """mapInPandas generator for the per-batch winnowing pass: per doc,
    56-bit md5 k-gram hashes (bulk hashlib over byte slices — one
    encode per ASCII doc, char-slice fallback otherwise, so the hashed
    bytes equal Spark's ``md5(substring(text, i+1, k))`` exactly),
    vectorized sliding-window-of-``w`` minima, per-doc distinct, and
    the ``fp % shard == 0`` slice filter. Emits (doc_id, fp) postings
    only — the stateful index fold stays a JVM streaming groupBy.
    Value-identical to the interpreted transform/array_min(slice)
    row-wise expressions it replaces (same md5 prefix → BIGINT
    mapping, same window minima, same distinct-per-doc posting set);
    docs shorter than k + w - 1 produce no full window and are
    dropped, matching the previous ``ng >= w`` filter."""
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd

    def gen(batches):
        swv = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            doc_out: list[np.ndarray] = []
            fp_out: list[np.ndarray] = []
            for doc_id, text in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                if text is None:
                    continue
                ng = len(text) - k + 1
                if ng < w:
                    continue
                if text.isascii():
                    b = text.encode()
                    it = (
                        int.from_bytes(_md5(b[i : i + k]).digest()[:7], "big")
                        for i in range(ng)
                    )
                else:
                    it = (
                        int.from_bytes(
                            _md5(text[i : i + k].encode()).digest()[:7],
                            "big",
                        )
                        for i in range(ng)
                    )
                hs = np.fromiter(it, dtype=np.int64, count=ng)
                fps = np.unique(swv(hs, w).min(axis=1))
                fps = fps[fps % shard == 0]
                if len(fps):
                    fp_out.append(fps)
                    doc_out.append(
                        np.full(len(fps), doc_id, dtype=np.int64)
                    )
            if fp_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(doc_out),
                        "fp": np.concatenate(fp_out),
                    }
                )

    return gen


@query(
    "stream_winnowing_shard_index",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, len(text) - {_WK} + 1 AS ng
      FROM documents WHERE len(text) >= {_WK + _WW - 1}
    ),
    hashed AS (
      SELECT doc_id, ng,
             list_transform(range(ng), i ->
               {sql_hex_long(f"md5(substring(text, i + 1, {_WK}))", 14, 1)}
             ) AS hs
      FROM docs
    ),
    fps AS (
      SELECT DISTINCT doc_id, unnest(
        list_distinct(list_transform(range(ng - {_WW} + 1), i ->
          list_min(hs[i + 1 : i + {_WW}])))
      ) AS fp
      FROM hashed
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM fps WHERE fp % {_WINNOW_SHARD} = 0
    GROUP BY fp
    """,
)
def stream_winnowing_shard_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One SHARD of the winnowing fingerprint index maintained BY the
    stream (C7) — the char-level sibling of
    `stream_minhash_band_index`, completing the streaming-index family
    (Bloom filter, LSH band index, winnowing fp index): each arriving
    document's {_WK}-char k-gram hashes, window-of-{_WW} minima, and
    shard filter are computed STATELESSLY per batch (a window
    function per doc is illegal in one streaming query, so the
    per-doc pass runs inside `mapInPandas`: bulk md5 over byte
    slices + a vectorized numpy sliding-window min — identical
    values to the previous interpreted higher-order-expression form,
    which cost 1.4-2 s per micro-batch in interpreted lambda
    evaluation; r14 optimization, guide §4.2), leaving ONE stateful
    fold: a streaming groupBy(fp) maintaining (n_docs, canonical =
    min doc_id) per fingerprint. COUNT and MIN are
    commutative/associative merges, and the complete-mode snapshot is
    certified row-for-row equal to the batch index aggregated the same
    way.

    This stream owns fingerprint-space slice fp % {_WINNOW_SHARD} = 0;
    a deployment runs {_WINNOW_SHARD} such workers. Sharding by
    FINGERPRINT (not by document) keeps every posting of a fingerprint
    on one worker, so its count and canonical are exact without any
    cross-worker merge — exactly how a distributed inverted index
    scales, and what bounds this op's state to 1/{_WINNOW_SHARD} of
    the index at any corpus size. Docs shorter than the K + W - 1
    guarantee threshold produce no full window and are absent on both
    engines.

    Reference basis: none; contract C7 streaming family + the F75
    winnowing rung."""
    docs = _stream_docs(spark, sf_dir).select("doc_id", "text")
    d = docs.mapInPandas(
        _winnow_shard_gen(_WK, _WW, _WINNOW_SHARD),
        schema="doc_id long, fp long",
    )
    agg = d.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("canonical_id"),
    )
    return _run_to_memory(agg, "complete")



from ..operators.timeseries import _HOLT_ORACLE  # noqa: E402
from ..operators.timeseries import holt_forecast_verdict  # noqa: E402


@query(
    "stream_holt_forecast_daily",
    oracle=_HOLT_ORACLE,
)
def stream_holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Holt forecast's STREAMING ARM (C7) — the same state/verdict
    split as `stream_changepoint_daily`: the stream owns only the
    mergeable epoch-anchored daily-count state (1-day tumbling
    windows, complete mode), and the batch side runs the IDENTICAL
    dyadic-floor Holt recursion (`holt_forecast_verdict`, the factored
    kernel the batch operator itself calls) on the snapshot. Certified
    against the SAME oracle, so the live forecast a capacity dashboard
    reads is byte-identical to the nightly batch forecast at any
    handoff boundary. Every daily-series verdict now has its streaming
    arm: the MAD anomaly monitor, the changepoint localizer, and the
    trend forecast.

    State shape: one (day, count) row per observed day; the verdict is
    the horizon-bounded recursion plus 7 output rows.

    Reference basis: none; contract C5/C7 streaming family."""
    return holt_forecast_verdict(_daily_counts(spark, sf_dir))


from ..operators.timeseries import _HW_ORACLE  # noqa: E402
from ..operators.timeseries import holt_winters_verdict  # noqa: E402


@query("stream_holt_winters_weekly", oracle=_HW_ORACLE)
def stream_holt_winters_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Holt-Winters weekly forecast maintained BY the stream: the
    stream owns only mergeable epoch-anchored 1-day tumbling counts
    (complete mode), and the sealed snapshot feeds the IDENTICAL
    dyadic-floor Holt-Winters recursion (`holt_winters_verdict`, the
    factored kernel) — certified byte-equal to `ts_holt_winters_weekly`
    via the SAME oracle string. Completes the pattern: every daily-
    series verdict in the repo (MAD monitor, changepoint, linear
    trend, seasonal trend) now has a streaming arm.

    State shape: one (day, count) row per observed day; the verdict is
    the horizon-bounded 9-state recursion plus 7 output rows.

    Reference basis: none; contract C5/C7 streaming family."""
    return holt_winters_verdict(_daily_counts(spark, sf_dir))


from ..operators import _ivf  # noqa: E402
from ..operators.similarity import INGEST_ADM_CTES, INGEST_CTES  # noqa: E402

_IVF_MAINT_ORACLE = (
    INGEST_ADM_CTES
    + """,
    ex AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_existing
      FROM assign WHERE vec_id % 10 <> 9 GROUP BY 1
    ),
    na AS (
      SELECT cid, CAST(SUM(admitted) AS BIGINT) AS n_admitted
      FROM adm GROUP BY 1
    ),
    sz AS (
      SELECT ex.cid, ex.n_existing,
             COALESCE(na.n_admitted, CAST(0 AS BIGINT)) AS n_admitted,
             ex.n_existing
               + COALESCE(na.n_admitted, CAST(0 AS BIGINT)) AS n_total
      FROM ex LEFT JOIN na ON na.cid = ex.cid
    ),
    tot AS (
      SELECT CAST(SUM(n_total) AS BIGINT) AS grand,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM sz
    )
    SELECT sz.cid, sz.n_existing, sz.n_admitted, sz.n_total,
           CAST(CASE WHEN 2 * sz.n_total * tot.n_lists > 3 * tot.grand
                     THEN 1 ELSE 0 END AS BIGINT) AS do_split,
           CAST(CASE WHEN 4 * sz.n_total * tot.n_lists < tot.grand
                     THEN 1 ELSE 0 END AS BIGINT) AS do_merge
    FROM sz, tot
    ORDER BY sz.cid
    """
)


def _stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the embeddings parquet, sliced by vec_id quartile
    ranges (vectors carry no event time; arrival order by id stands in
    for ingest order). NULL vec_ids are not staged."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    stage = os.path.join(
        "/tmp/catme_etl_stream_emb_v1", sf_dir.strip("/").replace("/", "_")
    )

    def source():
        src = spark.read.parquet(path)
        return src, _quartile_slice(src, F.col("vec_id"), path)

    return _stage_stream(spark, stage, source, STREAM_MAX_FILES)


@query("stream_ivf_list_maintenance", oracle=_IVF_MAINT_ORACLE)
def stream_ivf_list_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The vector index's LIST-OCCUPANCY store maintained BY the
    stream — the fourth streaming index family member (Bloom words,
    MinHash bands, winnowing fp-shard, now IVF inverted-list sizes),
    closing the loop the ingest arm opened: as vector batches arrive
    (the ingest slice, `_ivf.is_ingest`), each micro-batch
    admits against the PERSISTED composed index (the same driver-fit
    `_ivf.ivfpq_artifacts` broadcast the recall audit and
    `pipeline_vector_index_ingest` certify) and folds its per-list
    admitted counts into the stream state — a mergeable SUM keyed by
    centroid id, so out-of-order or replayed micro-batches cannot
    corrupt a count.

    The batch-side verdict composes the snapshot with the persisted
    index's EXISTING list sizes (read off the broadcast artifact —
    |lists| rows, no corpus rescan) and emits the nightly maintenance
    decision per list, in exact cross-multiplied integer form so both
    engines land the same verdict bit-for-bit: `do_split` iff
    2 * n_total * n_lists > 3 * grand (occupancy above 1.5× the mean
    — the planted clusters skew real lists past this at every
    fixture SF) and `do_merge` iff 4 * n_total * n_lists < grand
    (below a quarter of the mean — a probe wasted on a near-empty
    list). These are the actions a production IVF index actually
    schedules from occupancy telemetry; the decision thresholds are
    data-relative, so the op keeps firing as the corpus grows instead
    of saturating like a fixed cap.

    State shape: one int64 per inverted list — bounded by the index
    (|corpus|/{{stride}} lists), not by stream volume; admission work
    per batch is O(batch × list) through the broadcast artifacts,
    identical to the certified batch ingest.

    Reference basis: none; contract C7/C8 streaming-index family +
    F10/F14 ANN family, the maintenance rung above
    `pipeline_vector_index_ingest`."""
    _emb, art = _ivf.ivf_index(spark, sf_dir)
    batch = (
        _stream_embeddings(spark, sf_dir)
        .filter(_ivf.is_ingest(F.col("vec_id")))
        .select("vec_id")
    )
    dec = batch.mapInPandas(_ivf.ingest_gen(art), schema=_ivf.INGEST_SCHEMA)
    agg = dec.groupBy("cid").agg(
        F.sum("admitted").cast("long").alias("n_admitted")
    )
    snap = _run_to_memory(agg, "complete")

    ex = spark.createDataFrame(
        list(_ivf.existing_list_sizes(art.value).items()),
        "cid long, n_existing long",
    )
    z = F.lit(0).cast("long")
    sz = ex.join(snap, "cid", "left").select(
        "cid",
        "n_existing",
        F.coalesce("n_admitted", z).cast("long").alias("n_admitted"),
        (F.col("n_existing") + F.coalesce("n_admitted", z))
        .cast("long")
        .alias("n_total"),
    )
    tot = sz.agg(
        F.sum("n_total").cast("long").alias("grand"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    return (
        sz.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_existing",
            "n_admitted",
            "n_total",
            F.when(
                2 * F.col("n_total") * F.col("n_lists")
                > 3 * F.col("grand"),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("do_split"),
            F.when(
                4 * F.col("n_total") * F.col("n_lists") < F.col("grand"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("do_merge"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Streaming watermark family: WATERMARK-LATENESS AUDIT (the observability
# rung under C6).
# ---------------------------------------------------------------------------

_LATE_USER_MOD = 7  # user_id % 10 == 7 rows arrive in the LAST slice

_LATENESS_ORACLE = """
    WITH lev AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS tus,
             (epoch_us(ts) // 600000000) * 600000000 AS ws,
             (epoch_us(ts) // 600000000) * 600000000 + 600000000 AS wend
      FROM events WHERE ts IS NOT NULL
    ),
    ldays AS (SELECT DISTINCT tus // 86400000000 AS day FROM lev),
    ldr AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) - 1 AS rk,
             COUNT(*) OVER () AS nd
      FROM ldays
    ),
    lbat0 AS (
      SELECT e.user_id, e.tus, e.ws, e.wend,
             CASE WHEN e.user_id % 10 = 7 THEN 3
                  ELSE CAST((d.rk * 4) // d.nd AS BIGINT) END AS b0
      FROM lev e JOIN ldr d ON d.day = e.tus // 86400000000
    ),
    lbat AS MATERIALIZED (
      -- dense batch index: an empty slice is never written, so the
      -- stream's micro-batch numbering compresses over present slices
      SELECT l.*, DENSE_RANK() OVER (ORDER BY b0) - 1 AS b FROM lbat0 l
    ),
    lbmax AS (SELECT b, MAX(tus) AS mx FROM lbat GROUP BY b),
    lwmf AS (
      -- the late filter lags one watermark behind eviction: batch k
      -- filters against wm published after batch k-2
      SELECT a.b,
             (SELECT MAX(x.mx) FROM lbmax x WHERE x.b <= a.b - 2)
               - 3600000000 AS wm_filter
      FROM lbmax a
    ),
    lgmax AS (SELECT MAX(tus) - 3600000000 AS wm_final FROM lev),
    lmarked AS MATERIALIZED (
      SELECT lbat.*,
             CASE WHEN w.wm_filter IS NOT NULL
                       AND lbat.wend <= w.wm_filter
                  THEN 1 ELSE 0 END AS dropped
      FROM lbat JOIN lwmf w ON w.b = lbat.b
    ),
    lwins AS (
      SELECT ws, wend, CAST(COUNT(*) AS BIGINT) AS n
      FROM lmarked WHERE dropped = 0 GROUP BY 1, 2
    ),
    lfin AS (
      SELECT w.*, CASE WHEN w.wend <= g.wm_final THEN 1 ELSE 0 END AS f
      FROM lwins w, lgmax g
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lev) AS n_events_total,
           (SELECT CAST(COALESCE(SUM(dropped), 0) AS BIGINT) FROM lmarked)
             AS n_dropped_late,
           CAST(COALESCE(SUM(CASE WHEN f = 1 THEN 1 END), 0) AS BIGINT)
             AS n_windows_finalized,
           CAST(COALESCE(SUM(CASE WHEN f = 1 THEN n END), 0) AS BIGINT)
             AS n_events_streamed,
           CAST(COALESCE(SUM(CASE WHEN f = 0 THEN n END), 0) AS BIGINT)
             AS n_events_pending
    FROM lfin
    """


def _stream_events_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with DETERMINISTIC LATE ARRIVALS, one slice per trigger:
    on-time rows slice into 4 contiguous day-groups (exact rank
    arithmetic over the |days|-bounded distinct-day list — no
    approxQuantile, because the lateness audit's oracle must replay the
    slice assignment bit-for-bit), while every user_id % 10 == 7 row is
    withheld until the LAST slice — the repo's straggler stand-in. By
    the time slice 3 arrives the watermark has advanced past the early
    day-groups, so a known, SQL-derivable subset of the stragglers is
    genuinely dropped as late. NULL-``ts`` rows are not staged."""
    from ..sources.tables import load_table

    stage = os.path.join(
        "/tmp/catme_etl_stream_late_v1", sf_dir.strip("/").replace("/", "_")
    )

    def source():
        src = load_table(spark, sf_dir, "events").filter(
            F.col("ts").isNotNull()
        )
        day = F.expr("unix_micros(ts) div 86400000000")
        dl = sorted(
            r.day for r in src.select(day.alias("day")).distinct().collect()
        )
        if not dl:
            raise ValueError(
                f"lateness staging: {sf_dir!r} has no timestamped events"
            )
        # the day of distinct-day rank i is in group (i * 4) // nd, so
        # group g starts at rank ceil(g * nd / 4) (absent if >= nd)
        nd, grp = len(dl), F.lit(0)
        for g in (1, 2, 3):
            start = -(-g * nd // 4)
            if start < nd:
                grp = F.when(day >= dl[start], g).otherwise(grp)
        late = F.col("user_id") % 10 == F.lit(_LATE_USER_MOD)
        return src, F.when(late, F.lit(3)).otherwise(grp)

    return _stage_stream(spark, stage, source, 1)


@query("stream_watermark_lateness_audit", oracle=_LATENESS_ORACLE)
def stream_watermark_lateness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DROPPED-LATE-ROW ACCOUNTING for the watermarked tumbling
    aggregation — the observability rung under C6 (round-11 verdict
    item #6d): every event in the table is classified STREAMED (left
    the engine in a finalized window), DROPPED LATE (discarded by the
    watermark filter), or PENDING (still in state when the stream
    ended), and the three counts must tie out against the batch
    recount: total = streamed + dropped + pending.

    The certificate is asymmetric by design: the Spark side reports
    what the REAL streaming engine did (append-mode finalized windows
    over the deterministic late-arrival staging), while the oracle
    derives the same five numbers from a pure SQL SIMULATION of
    Spark's pinned watermark mechanics — wm(k) = max(event time over
    batches <= k) - delay; the late filter in batch k drops rows
    whose WINDOW END <= wm(k-2) (the filter lags one watermark behind
    eviction — probed, not assumed); a final no-data batch advances
    eviction to global-max - delay, so finalized = window end <=
    that. A green hash therefore certifies the engine's actual
    drop/finalize bookkeeping equals the documented model — the audit
    a pipeline owner reads when "how much data are we losing to
    lateness?" matters.

    State shape: tumbling-window counts only (|windows in horizon|
    rows); the simulation side adds one |batches|-bounded (<= 4)
    driver read for the per-slice watermark table. The 100 TB shape
    is identical — the audit is a window-count aggregate plus a
    per-landing-file max-timestamp table.

    Reference basis: none; contract C6 streaming family."""
    e = _stream_events_lateness(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = e.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    snap = _run_to_memory(agg, "append")
    stream_side = snap.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows_finalized"),
        F.coalesce(F.sum("n"), F.lit(0))
        .cast("long")
        .alias("n_events_streamed"),
    )

    from ..sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        )
        .withColumn(
            "wend",
            (F.expr("tus div 600000000") * 600000000 + 600000000).cast(
                "long"
            ),
        )
        .withColumn("day", F.expr("tus div 86400000000"))
    )
    dl = sorted(r.day for r in ev.select("day").distinct().collect())
    nd = len(dl)
    gmap = {int(d): (i * 4) // nd for i, d in enumerate(dl)}
    gdf = spark.createDataFrame(
        [(d, g) for d, g in gmap.items()], "day long, grp long"
    )
    ev = ev.join(F.broadcast(gdf), "day").withColumn(
        "b0",
        F.when(
            F.col("user_id") % 10 == F.lit(_LATE_USER_MOD), F.lit(3)
        ).otherwise(F.col("grp")),
    )
    # per-slice watermark table: |batches|-bounded (<= 4) driver read
    brows = sorted(
        (int(r.b0), int(r.mx))
        for r in ev.groupBy("b0").agg(F.max("tus").alias("mx")).collect()
    )
    # wm published after batch k = cummax(batch maxes <= k) - delay;
    # the filter in batch k uses the one published after batch k-2
    run = None
    pub = []
    for _b0, mx in brows:
        run = mx if run is None else max(run, mx)
        pub.append(run)
    wmf_df = spark.createDataFrame(
        [
            (brows[k][0], None if k < 2 else pub[k - 2] - 3600000000)
            for k in range(len(brows))
        ],
        "b0 long, wm_filter long",
    )
    marked = ev.join(F.broadcast(wmf_df), "b0").withColumn(
        "dropped",
        F.when(
            F.col("wm_filter").isNotNull()
            & (F.col("wend") <= F.col("wm_filter")),
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    batch_side = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_events_total"),
        F.coalesce(F.sum("dropped"), F.lit(0))
        .cast("long")
        .alias("n_dropped_late"),
    )
    return (
        batch_side.crossJoin(F.broadcast(stream_side))
        .select(
            "n_events_total",
            "n_dropped_late",
            "n_windows_finalized",
            "n_events_streamed",
            (
                F.col("n_events_total")
                - F.col("n_dropped_late")
                - F.col("n_events_streamed")
            )
            .cast("long")
            .alias("n_events_pending"),
        )
    )


_SESSION_GAP_US = 1_800_000_000  # 30-minute session gap
_SESSION_ORACLE = f"""
    WITH se AS (
      SELECT user_id, epoch_us(ts) AS tus
      FROM events WHERE ts IS NOT NULL
    ),
    sm AS (
      SELECT user_id, tus,
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
    ss AS (
      SELECT user_id,
             CAST(MIN(tus) AS BIGINT) AS session_start_us,
             CAST(MAX(tus) + {_SESSION_GAP_US} AS BIGINT)
               AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sg GROUP BY user_id, sid
    ),
    swm AS (SELECT MAX(tus) - 3600000000 AS wmf FROM se)
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM ss, swm
    WHERE session_end_us <= wmf
    ORDER BY user_id, session_start_us
    """


@query("stream_session_window_gap", oracle=_SESSION_ORACLE)
def stream_session_window_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GAP-BASED SESSION WINDOWS maintained by the stream — the
    dynamic-window member the C5/C6 family was missing (tumbling and
    sliding windows are fixed grids; sessions grow with activity):
    `F.session_window(ts, 30 minutes)` merges a user's events into
    state-backed sessions that extend while events keep arriving
    within the gap (ADJACENT windows merge too: an event exactly one
    gap after the last still joins — probed, so the oracle breaks
    only at inter-event gap STRICTLY greater than 30 min) and close when the watermark passes session end
    (last event + gap). Append mode emits exactly the FINALIZED
    sessions — end <= global-max - 1h delay under the one-shot
    staging — and the oracle derives the identical set from the batch
    gaps-islands formulation (break at inter-event gap > 30 min,
    sessions as island aggregates, the SAME finalization filter), so
    a green hash certifies Spark's session-merge + eviction semantics
    against the classical SQL construction, cross-engine.

    State shape: one (start, end, count) record per OPEN session per
    user — bounded by the watermark horizon, the exact reason session
    windows need one; the oracle's window functions are per-user
    partitions (never a global sort).

    Reference basis: none; contract C5/C6 streaming family — the
    dynamic-window rung beside `stream_tumbling_10min` /
    `stream_sliding_10min_5min`."""
    snap = _sealed_sessions(
        spark, sf_dir, F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return snap.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


# ---------------------------------------------------------------------------
# Streaming admission family: RELEASE-ADMISSION GATE (the release budget as
# an intake controller).
# ---------------------------------------------------------------------------

_ADMIT_INTAKE_DIV = 10  # intake budget = |corpus| div 10 documents

from ..operators.dedup import _RELEASE_HEAD_CTES  # noqa: E402
from ..operators.dedup import _manifest_chain_sql  # noqa: E402

_ADMIT_GATE_ORACLE = f"""
    WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("b", "TRUE")},
    caps AS MATERIALIZED (
      SELECT source,
             (alloc_tokens * ((SELECT COUNT(*) FROM documents)
                              // {_ADMIT_INTAKE_DIV})) // 1000000
               AS cap_docs
      FROM manb
    ),
    arr AS (
      SELECT source, doc_id % 4 AS sl, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, sl, n,
             SUM(n) OVER (PARTITION BY source ORDER BY sl
                          ROWS UNBOUNDED PRECEDING) AS cm
      FROM arr
    ),
    tots AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_arrived FROM arr
      GROUP BY 1
    ),
    j AS (
      SELECT t.source, CAST(COALESCE(c.cap_docs, 0) AS BIGINT) AS cap_docs,
             t.n_arrived
      FROM tots t LEFT JOIN caps c USING (source)
    ),
    ex AS (
      SELECT cum.source, CAST(MIN(cum.sl) AS BIGINT) AS exhausted_at_slice
      FROM cum JOIN j ON j.source = cum.source
      WHERE cum.cm > j.cap_docs
      GROUP BY 1
    )
    SELECT j.source, j.cap_docs, j.n_arrived,
           CAST(LEAST(j.cap_docs, j.n_arrived) AS BIGINT) AS n_admitted,
           CAST(j.n_arrived - LEAST(j.cap_docs, j.n_arrived) AS BIGINT)
             AS n_rejected,
           CAST(COALESCE(ex.exhausted_at_slice, -1) AS BIGINT)
             AS exhausted_at_slice
    FROM j LEFT JOIN ex ON ex.source = j.source
    ORDER BY j.source
    """


def _stream_docs_mod4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged into 4 slices by the EXACT rule doc_id % 4, one
    slice per trigger — the admission gate's oracle must replay
    per-slice arrival counts bit-for-bit, which the quartile slices
    can't give it."""
    stage = os.path.join(
        "/tmp/catme_etl_stream_docs_mod4_v1",
        sf_dir.strip("/").replace("/", "_"),
    )

    def source():
        src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return src, F.col("doc_id") % 4

    return _stage_stream(spark, stage, source, 1)


@query("stream_release_admission_gate", oracle=_ADMIT_GATE_ORACLE)
def stream_release_admission_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus-release BUDGET as a streaming ADMISSION CONTROLLER —
    the enforcement rung above the release capstone: the certified
    manifest's per-source `alloc_tokens` shares convert into intake
    caps over a |corpus| div {_ADMIT_INTAKE_DIV} document budget
    (cap = (alloc · intake) div 1e6 — the same floor-share
    convention), and the stream admits arriving documents per source
    FIRST-COME until the cap exhausts: per micro-batch,
    take = min(batch, cap − admitted), carried across batches in
    per-source state (`applyInPandasWithState`). A source absent from
    the manifest (no train documents) gets cap 0 — everything
    rejected, loudly visible in the output rather than silently
    admitted.

    Per source: cap, arrivals, admissions, rejections, and the slice
    index where the FIRST rejection happened (−1 if the cap never
    exhausted) — the last column is what certifies genuine
    cross-batch state: it depends on the running admitted count at
    each slice boundary, which no per-batch recount can fake. The
    oracle replays the identical greedy arithmetic from per-(source,
    slice) arrival counts (slices are the exact doc_id % 4 staging
    rule) and the manifest lineage.

    State shape: two int64 per source — bounded by |sources|, not by
    stream volume; admission work per batch is a length read per
    source group. The 100 TB shape is the same controller in front of
    the ingest landing zone, caps refreshed per release.

    Reference basis: none; contract C7 streaming family + the
    training-data release ladder (SURVEY §2.10)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import release_manifest
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    man = release_manifest(spark, sf_dir)
    n_docs = d.count()
    intake = n_docs // _ADMIT_INTAKE_DIV
    # |sources|-bounded driver read: the caps table IS the controller's
    # config artifact
    caps = {
        r.source: (int(r.alloc_tokens) * intake) // 1_000_000
        for r in man.select("source", "alloc_tokens").collect()
    }

    docs = _stream_docs_mod4(spark, sf_dir).select(
        "source", (F.col("doc_id") % 4).alias("sl")
    )

    def admit(key, pdfs, state):
        admitted, exhausted = (
            state.get if state.exists else (0, -1)
        )
        cap = caps.get(key[0], 0)
        for pdf in pdfs:
            arr = len(pdf)
            sl = int(pdf["sl"].iloc[0])
            take = min(arr, cap - admitted)
            if take < arr and exhausted == -1:
                exhausted = sl
            admitted += take
        state.update((admitted, exhausted))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_admitted": [admitted],
                "exhausted_at_slice": [exhausted],
            }
        )

    out = docs.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType=(
            "source string, n_admitted long, exhausted_at_slice long"
        ),
        stateStructType="admitted long, exhausted long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = _run_to_memory(out, "update")
    # admitted only grows and the exhaustion slice is set once
    fin = _final_state(sunk, "source", "n_admitted", "exhausted_at_slice")
    arr = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_arrived")
    )
    caps_df = spark.createDataFrame(
        [(s, int(c)) for s, c in sorted(caps.items())],
        "source string, cap_docs long",
    )
    return (
        arr.join(caps_df, "source", "left")
        .join(fin, "source", "left")
        .select(
            "source",
            F.coalesce("cap_docs", F.lit(0)).cast("long").alias("cap_docs"),
            "n_arrived",
            F.coalesce("n_admitted", F.lit(0))
            .cast("long")
            .alias("n_admitted"),
            (F.col("n_arrived") - F.coalesce("n_admitted", F.lit(0)))
            .cast("long")
            .alias("n_rejected"),
            F.coalesce("exhausted_at_slice", F.lit(-1))
            .cast("long")
            .alias("exhausted_at_slice"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Streaming IVF index family: COMPACTION SCHEDULER (tombstone telemetry ->
# prioritized compaction queue; the retire-side sibling of
# `stream_ivf_list_maintenance`).
# ---------------------------------------------------------------------------

_COMPACT_SCHED_ORACLE = (
    INGEST_CTES
    + """,
    exi AS MATERIALIZED (
      SELECT vec_id, cid AS list_id FROM assign WHERE vec_id % 10 <> 9
    ),
    exc AS (
      SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_existing
      FROM exi GROUP BY 1
    ),
    del AS (
      SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_deleted
      FROM exi WHERE vec_id % 25 = 3 GROUP BY 1
    ),
    v AS (
      SELECT e.list_id, e.n_existing,
             CAST(COALESCE(d.n_deleted, 0) AS BIGINT) AS n_deleted,
             CAST(CASE WHEN 4 * COALESCE(d.n_deleted, 0) >= e.n_existing
                       THEN 1 ELSE 0 END AS BIGINT) AS do_compact
      FROM exc e LEFT JOIN del d USING (list_id)
    ),
    q AS (
      SELECT list_id,
             CAST(ROW_NUMBER() OVER (ORDER BY n_deleted DESC, list_id)
                  AS BIGINT) AS queue_rank
      FROM v WHERE do_compact = 1
    )
    SELECT v.list_id, v.n_existing, v.n_deleted, v.do_compact,
           q.queue_rank
    FROM v LEFT JOIN q USING (list_id)
    ORDER BY v.list_id
    """
)


@query("stream_compaction_scheduler", oracle=_COMPACT_SCHED_ORACLE)
def stream_compaction_scheduler(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming COMPACTION SCHEDULER — tombstone telemetry folded by
    the stream into a prioritized compaction queue, the retire-side
    sibling of `stream_ivf_list_maintenance` (which watches
    occupancy; this watches decay): deletion notices arrive on the
    embedding stream (persisted-index members hitting the repo's
    tombstone rule, `_ivf.is_deleted`), each micro-batch looks up the
    victim's inverted list through the SAME persisted driver-fit
    artifact every index op shares, and the stream state keeps one
    mergeable per-list DELETE counter — replay/out-of-order safe the
    way every streaming index store in the family is.

    The batch-side verdict composes the snapshot with the persisted
    list sizes (read off the broadcast artifact — |lists| rows, no
    corpus rescan): `do_compact` iff 4·deleted >= existing (the
    certified `pipeline_vector_index_delete_compact` threshold), and
    — the scheduler's contribution — a QUEUE RANK over the flagged
    lists by reclaimable postings (n_deleted DESC, ties to the lowest
    list id), so a nightly compactor with a fixed I/O budget rewrites
    the most decayed lists first and a list that never crosses the
    threshold never costs a rewrite. NULL rank = not scheduled.

    State shape: one int64 per inverted list — bounded by the index,
    not stream volume; per-batch work is O(batch) id->list lookups
    through the broadcast.

    Reference basis: none; contract C7/C8 streaming-index family +
    F10/F14 ANN retire rung."""
    from pyspark.sql import Window

    _emb, art = _ivf.ivf_index(spark, sf_dir)
    vid = F.col("vec_id")
    dels = (
        _stream_embeddings(spark, sf_dir)
        .filter(~_ivf.is_ingest(vid) & _ivf.is_deleted(vid))
        .select("vec_id")
    )
    looked = dels.mapInPandas(
        _ivf.assign_lookup_gen(art), "vec_id long, list_id long"
    )
    agg = looked.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_deleted")
    )
    snap = _run_to_memory(agg, "complete")

    sizes = _ivf.existing_list_sizes(art.value)
    # Universe = lists with >=1 EXISTING member, matching the oracle's
    # exc CTE: a list whose members are all in the ingest slice
    # has nothing to compact and must not occupy a queue_rank slot —
    # emitting it with n_existing=0 would flag it (4*0 >= 0) and shift
    # every later rank (round-13 advisor finding).
    ex = spark.createDataFrame(
        [(c, n) for c, n in sizes.items() if n],
        "list_id long, n_existing long",
    )
    z = F.lit(0).cast("long")
    v = ex.join(snap, "list_id", "left").select(
        "list_id",
        "n_existing",
        F.coalesce("n_deleted", z).cast("long").alias("n_deleted"),
        F.when(
            4 * F.coalesce("n_deleted", z) >= F.col("n_existing"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("do_compact"),
    )
    q = (
        v.filter(F.col("do_compact") == 1)
        .select(
            "list_id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("n_deleted").desc(), F.col("list_id")
                )
            )
            .cast("long")
            .alias("queue_rank"),
        )
    )
    return (
        v.join(q, "list_id", "left")
        .select(
            "list_id", "n_existing", "n_deleted", "do_compact", "queue_rank"
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# Streaming admission family: SOURCE QUOTA WITH ROLLOVER (admission control —
# the ingest-side budget arm of the streaming family, beside the release
# admission gate).
# ---------------------------------------------------------------------------

_QUOTA_NUM, _QUOTA_DEN = 9, 10  # per-day quota = 90% of the observed
# daily average, so a calibrated replay exhibits both rejection (busy
# days) and rollover (quiet days) at every SF

_QUOTA_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS day
      FROM events WHERE ts IS NOT NULL
    ),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev),
    grid AS (
      SELECT t.event_type, CAST(UNNEST(generate_series(
               CAST(b.mn AS TIMESTAMP), CAST(b.mx AS TIMESTAMP),
               INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM ev) t, bounds b
    ),
    cnt AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS a
      FROM ev GROUP BY 1, 2
    ),
    daily AS (
      SELECT g.event_type, g.day,
             CAST(datediff('day', b.mn, g.day) + 1 AS BIGINT) AS d,
             COALESCE(c.a, 0) AS a
      FROM grid g
      LEFT JOIN cnt c ON c.event_type = g.event_type AND c.day = g.day,
      bounds b
    ),
    q AS (
      SELECT event_type,
             (CAST(SUM(a) AS BIGINT) * {_QUOTA_NUM})
               // ({_QUOTA_DEN} * CAST(COUNT(*) AS BIGINT)) AS quota
      FROM daily GROUP BY 1
    ),
    cum AS (
      SELECT d.event_type, d.day, d.d, d.a, q.quota,
             CAST(SUM(d.a) OVER (PARTITION BY d.event_type ORDER BY d.d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS t
      FROM daily d JOIN q ON q.event_type = d.event_type
    ),
    mm AS (
      SELECT event_type, day, d, a, quota, t,
             LEAST(0, MIN(d * quota - t) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)) AS m
      FROM cum
    ),
    adm AS (
      SELECT event_type, day, d, a, quota,
             t + m AS cum_adm,
             t + m - COALESCE(LAG(t + m) OVER (
               PARTITION BY event_type ORDER BY d), 0) AS admitted,
             d * quota - (t + m) AS carry
      FROM mm
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           a AS arrivals, quota AS quota_per_day,
           CAST(admitted AS BIGINT) AS admitted,
           CAST(a - admitted AS BIGINT) AS rejected,
           CAST(carry AS BIGINT) AS carry
    FROM adm ORDER BY event_type, day
    """


@query("stream_source_quota_rollover", oracle=_QUOTA_ORACLE)
def stream_source_quota_rollover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-SOURCE DAILY INGEST QUOTA WITH ROLLOVER — admission
    control for a crawl pipeline (each source may land Q docs/day;
    unused budget carries forward, overflow is REJECTED, not queued),
    the ingest-side sibling of `stream_release_admission_gate`: the
    stream owns only the mergeable per-(source, day) arrival counts
    (1-day event-time tumbling windows, complete mode — the same
    bounded state as every daily-series arm), and the batch verdict
    replays the quota ledger over the calibrated snapshot.

    The exactness device is the MIN-PLUS CLOSED FORM of the rollover
    recursion: admitted(d) = min(a(d), Q + carry(d-1)) with
    carry(d) = dQ - A(d) unrolls to cumulative admitted
    A(d) = t(d) + min(0, min_j<=d (jQ - t(j))) — a cumulative sum
    plus a running minimum, so the SEQUENTIAL ledger becomes two
    per-source windows (per-key groups, never a global sort) and
    both engines walk identical integers instead of a recursive CTE
    / driver loop. Uncapped rollover is what makes the closed form
    exact, and is the documented semantics (a cap re-introduces the
    recursion; the published fix is the same two-window form on
    capped segments).

    Quota is CALIBRATED from the snapshot — {_QUOTA_NUM}/{_QUOTA_DEN}
    of the source's observed daily average (floor) — so the certified
    replay exercises rejection on busy days AND rollover credit on
    quiet ones at every SF. The day grid is dense (global min..max
    day crossed with sources): a zero-arrival day still accrues
    quota, which only the grid — not the observed rows — can
    represent. NULL-ts rows are dropped identically on both engines
    (the round-14 event-time convention).

    Scale shape: stream state |sources|x|days| counters; the verdict
    is two keyed windows + one largest-of join on |sources| rows.

    Reference basis: none; contract C5/C7 streaming family."""
    e = _stream_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = e.groupBy(
        F.col("event_type"), F.window("ts", "1 day").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("a"))
    snap = _run_to_memory(agg, "complete").select(
        "event_type", F.to_date(F.col("w.start")).alias("day"), "a"
    )

    from pyspark.sql import Window

    bounds = snap.agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    types = snap.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day"),
        F.col("mn"),
    )
    # Fresh aliases (new expression IDs) break the shared lineage with
    # `grid`, which derives from the same memory-sink snapshot.
    obs = snap.select(
        F.col("event_type").alias("o_et"),
        F.col("day").alias("o_day"),
        F.col("a").alias("o_a"),
    )
    daily = (
        grid.join(
            obs,
            (F.col("event_type") == F.col("o_et"))
            & (F.col("day") == F.col("o_day")),
            "left",
        )
        .select(
            "event_type",
            "day",
            (F.datediff("day", "mn") + 1).cast("long").alias("d"),
            F.coalesce("o_a", F.lit(0)).cast("long").alias("a"),
        )
    )
    q = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                f"(CAST(SUM(a) AS BIGINT) * {_QUOTA_NUM})"
                f" div ({_QUOTA_DEN} * COUNT(*))"
            )
            .cast("long")
            .alias("quota")
        )
        .select(F.col("event_type").alias("q_et"), "quota")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlag = Window.partitionBy("event_type").orderBy("d")
    cum = (
        daily.join(F.broadcast(q), F.col("event_type") == F.col("q_et"))
        .drop("q_et")
        .withColumn("t", F.sum("a").over(wcum).cast("long"))
    )
    mm = cum.withColumn(
        "m",
        F.least(
            F.lit(0).cast("long"),
            F.min(F.col("d") * F.col("quota") - F.col("t")).over(wcum),
        ),
    ).withColumn("cum_adm", F.col("t") + F.col("m"))
    adm = mm.withColumn(
        "admitted",
        (
            F.col("cum_adm")
            - F.coalesce(F.lag("cum_adm").over(wlag), F.lit(0))
        ).cast("long"),
    )
    return adm.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("a").alias("arrivals"),
        F.col("quota").alias("quota_per_day"),
        "admitted",
        (F.col("a") - F.col("admitted")).cast("long").alias("rejected"),
        (F.col("d") * F.col("quota") - F.col("cum_adm"))
        .cast("long")
        .alias("carry"),
    ).orderBy("event_type", "day")
