"""Streaming-specific tests: checkpointed foreachBatch sink resume
semantics and sealed-session append mode."""

from __future__ import annotations

import pytest

import __spark_entry__ as e
from conftest import SF0001
from catme_etl_spark.streaming.jobs import stream_to_parquet


def test_foreachbatch_checkpoint_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = stream_to_parquet(spark, sf_dir, out, ckpt)
    assert n1 > 0
    # re-run with the same checkpoint: offsets already committed,
    # nothing reprocessed, no duplicate rows appended
    n2 = stream_to_parquet(spark, sf_dir, out, ckpt)
    assert n2 == n1


def test_sealed_sessions_are_subset_of_batch_sessions(spark):
    sf = "/root/testdata/sf0.01"
    qs = e.queries()
    sealed = qs["stream_session_sealed"](spark, sf)
    batch = qs["events_session_30min"](spark, sf).select(
        "user_id", "sess_start_us", "n_events"
    )
    extra = sealed.exceptAll(batch).count()
    assert extra == 0, "append mode must emit only watermark-sealed sessions"
    assert 0 < sealed.count() <= batch.count()


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """The 100×-state-size knob for C7: the RocksDB state store
    provider (public Spark conf; state spills to local disk instead of
    living on the executor heap) must produce results identical to the
    default HDFS-backed in-memory provider on the custom
    applyInPandasWithState job. On a cluster this is the difference
    between stateful jobs bounded by executor heap and bounded by local
    SSD."""
    from catme_etl_spark.streaming.jobs import stream_stateful_user_totals

    key = "spark.sql.streaming.stateStore.providerClass"
    default = {
        tuple(r) for r in stream_stateful_user_totals(spark, sf_dir).collect()
    }
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = {
            tuple(r)
            for r in stream_stateful_user_totals(spark, sf_dir).collect()
        }
    finally:
        spark.conf.unset(key)
    assert rocks == default and len(rocks) > 0


def test_tumbling_agg_from_rate_source(spark):
    """VERDICT r2 item 8: the streaming jobs are source-independent —
    the same tumbling aggregation runs from a ``rate-micro-batch``
    source with NO fixture staging. Deterministic: each micro-batch
    emits exactly 100 rows and advances event time 10 minutes, so in
    complete mode sum(n_events) equals rows emitted by committed
    batches (a multiple of 100) and each 10-minute window holds
    exactly one batch's rows."""
    import time

    from pyspark.sql import functions as F

    from catme_etl_spark.streaming.jobs import tumbling_event_agg

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("numPartitions", 2)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 600000)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 7).cast("double").alias("value"),
        )
    )
    agg = tumbling_event_agg(src)
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_tumbling")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table("rate_tumbling")
    rows = out.collect()
    total = sum(r["n_events"] for r in rows)
    assert total >= 100 and total % 100 == 0
    # every committed 10-minute window holds one full batch
    per_window: dict = {}
    for r in rows:
        per_window[r["w"]["start"]] = per_window.get(r["w"]["start"], 0) + r["n_events"]
    assert all(v == 100 for v in per_window.values())


def test_transform_with_state_matches_batch_aggregate(spark):
    """Spark 4 transformWithStateInPandas tier of C7 (ValueState per
    user across micro-batches) — skip-guarded: the TWS Python driver
    worker needs protobuf, absent in this container."""
    import pytest

    from catme_etl_spark.streaming.jobs import (
        has_transform_with_state_runtime,
        stream_tws_user_value_stats,
    )

    if not has_transform_with_state_runtime():
        pytest.skip("no protobuf: transformWithStateInPandas worker cannot start")
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = stream_tws_user_value_stats(spark, sf)
    exact = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    joined = got.join(exact, "user_id", "full")
    assert joined.filter("n_events IS NULL OR n_exact IS NULL").count() == 0
    assert joined.filter("n_events <> n_exact").count() == 0


def test_stateful_restart_recovers_state_from_checkpoint(spark, tmp_path):
    """Kill-and-restart contract for STATEFUL streaming (C1-C3/C7): a
    windowed count stream consumes half the input, terminates, and a
    brand-new query object with the same checkpointLocation consumes
    only the remaining files — committed offsets are not reprocessed
    and the window state is recovered, so the merged update-mode
    output equals the full-batch aggregate. If state were lost on
    restart, the second run's windows would undercount; if offsets
    were lost, counts would double."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda i, minutes: (i, t0 + dt.timedelta(minutes=minutes))  # noqa: E731
    # windows of 10 min; rows span both halves so state MUST carry over
    first = [mk(1, 0), mk(2, 1), mk(3, 11), mk(4, 12)]
    second = [mk(5, 2), mk(6, 13), mk(7, 21)]
    schema = "event_id long, ts timestamp"

    def run_once(tag):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        agg = stream.groupBy(F.window("ts", "10 minutes").alias("w")).agg(
            F.count(F.lit(1)).alias("n")
        )

        def write_batch(df, batch_id):
            df.select(
                F.unix_micros(F.col("w.start")).alias("win_us"), "n"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run={tag}", f"batch_id={batch_id}")
            )

        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    def land(rows, name):
        # the file source monitors the landing ROOT; stage the part
        # file there directly (subdirs that aren't key=value partition
        # dirs are invisible to the source)
        import glob
        import shutil

        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(landing, name + ".parquet"))

    land(first, "f1")
    run_once("a")  # consumes f1, commits offsets + window state, dies

    land(second, "f2")
    run_once("b")  # NEW query object, same checkpoint: f2 only

    # latest update per window across both runs == full batch aggregate
    merged = (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .groupBy("win_us")
        .agg(F.max("n").alias("n"))
    )
    got = {(r["win_us"], r["n"]) for r in merged.collect()}
    full = spark.createDataFrame(first + second, schema)
    want = {
        (r["win_us"], r["n"])
        for r in full.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "n")
        .collect()
    }
    assert got == want
    # run b's sink must contain the window that straddles the restart
    # with the CUMULATIVE count: the 00:00-00:10 window saw 2 rows in
    # f1 and 1 in f2 — run b emitting 3 proves it resumed from the
    # checkpointed state (a fresh query would emit 1)
    t0_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    run_b = spark.read.parquet(os.path.join(out_dir, "run=b"))
    b_rows = {(r["win_us"], r["n"]) for r in run_b.collect()}
    assert (t0_us, 3) in b_rows


def test_minhash_band_index_restart_recovers_state(spark, sf_dir, tmp_path):
    """Kill-and-restart contract for the STREAMING LSH INDEX (round-9
    verdict item #5): `stream_minhash_band_index` certifies its
    complete-mode snapshot equals the batch-built band index, but that
    alone doesn't prove the index survives a crash. Here the corpus
    lands in two files; a first query consumes half and dies; a
    brand-new query object with the same checkpointLocation consumes
    ONLY the second file, and its final snapshot must still equal the
    batch index over the FULL corpus. Buckets hit by both halves must
    show the cumulative (n_docs, min canonical) — impossible unless
    the (band, bkey) state store was recovered; a doc counted twice
    (offsets lost) or dropped (state lost) changes some bucket's
    count, and the row-set equality catches either."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from catme_etl_spark.streaming.jobs import _minhash_band_gen

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )

    def land(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(landing, name + ".parquet"))

    def band_index(df):
        # the registered op's own kernel: stateless per-batch
        # signatures (mapInPandas), one stateful (band, bkey) fold
        d = df.select("doc_id", "text").mapInPandas(
            _minhash_band_gen(), schema="doc_id long, band int, bkey string"
        )
        return d.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )

    def run_once(tag):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        agg = band_index(stream)

        def write_batch(df, batch_id):
            # complete mode: every batch is the full snapshot; the
            # run's final overwrite is its last word
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run_{tag}")
            )

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.foreachBatch(write_batch)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    land(docs.filter("doc_id % 2 = 0"), "f1")
    run_once("a")  # consumes f1, commits offsets + index state, dies

    land(docs.filter("doc_id % 2 = 1"), "f2")
    run_once("b")  # NEW query object, same checkpoint: reads f2 ONLY

    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    snap_a = spark.read.parquet(os.path.join(out_dir, "run_a"))
    snap_b = spark.read.parquet(os.path.join(out_dir, "run_b"))
    want = rows(band_index(docs))

    assert rows(snap_b) == want
    # the restart genuinely ADDED mass (run a saw only half the docs):
    # equality above can't be explained by run b reprocessing
    # everything from scratch unless offsets were lost — and the halves
    # are disjoint files, so a from-scratch run b would MISS f1's docs
    a_mass = snap_a.agg(F.sum("n_docs")).collect()[0][0]
    b_mass = snap_b.agg(F.sum("n_docs")).collect()[0][0]
    assert a_mass < b_mass


def test_session_window_restart_recovers_open_sessions(spark, tmp_path):
    """Kill-and-restart contract for ENGINE-MANAGED SESSION-WINDOW
    state (the C8 latency family's store): a session's view arrives in
    file 1, the query dies, and its purchase arrives in file 2
    processed by a brand-new query object on the same checkpoint. The
    sealed append-mode output must contain ONE merged session carrying
    both halves — impossible unless the open-session state (and the
    watermark) survived the restart — and no session may emit twice
    (offsets recovered)."""
    import datetime as dtm
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    os.makedirs(out_dir)

    t0 = dtm.datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"

    def land(rows, name):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(landing, name + ".parquet"))

    def run_once(tag):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
            .withWatermark("ts", "1 hour")
        )
        agg = stream.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        ).agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("v"),
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("purchases"),
        )

        def write_batch(df, batch_id):
            df.select(
                "user_id", F.unix_micros("v").alias("v_us"), "purchases"
            ).write.mode("append").parquet(os.path.join(out_dir, f"run_{tag}"))

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.foreachBatch(write_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    land(
        [
            (1, t0, "view"),
            (3, t0 + dtm.timedelta(minutes=5), "view"),
        ],
        "f1",
    )
    run_once("a")  # nothing sealed: watermark far before the sessions

    land(
        [
            (1, t0 + dtm.timedelta(minutes=10), "purchase"),
            (9, dtm.datetime(2024, 1, 3), "click"),  # watermark anchor
        ],
        "f2",
    )
    run_once("b")  # NEW query, same checkpoint: f2 only

    def rows(tag):
        path = os.path.join(out_dir, f"run_{tag}")
        if not glob.glob(os.path.join(path, "part-*.parquet")):
            return []
        return [
            (r["user_id"], r["v_us"], tuple(r["purchases"]))
            for r in spark.read.parquet(path).collect()
        ]

    assert rows("a") == []  # nothing sealed before the anchor
    got = sorted(rows("b"))
    t0_us = int(t0.replace(tzinfo=dtm.timezone.utc).timestamp()) * 1_000_000
    # user 1: view from f1 MERGED with purchase from f2 in one session;
    # user 3: view-only session sealed by the recovered watermark
    assert got == [
        (1, t0_us, (t0_us + 600_000_000,)),
        (3, t0_us + 300_000_000, ()),
    ]


def test_winnowing_shard_restart_recovers_state(spark, sf_dir, tmp_path):
    """Kill-and-restart contract for the STREAMING WINNOWING SHARD
    (round-10 verdict item #5): `stream_winnowing_shard_index`
    certifies its complete-mode snapshot equals the batch-built
    fp-shard, but not that the shard survives a crash. The corpus
    lands in two files; a first query consumes half and dies; a
    brand-new query object on the same checkpointLocation consumes
    ONLY the second file, and its final snapshot must still equal the
    batch shard over the FULL corpus. A fingerprint hit by both halves
    must show the cumulative (n_docs, min canonical) — impossible
    unless the groupBy(fp) state store was recovered; double-counting
    (offsets lost) or dropping (state lost) changes some row, and the
    row-set equality catches either."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from catme_etl_spark.streaming.jobs import (
        _WINNOW_SHARD,
        _winnow_shard_gen,
        _WK,
        _WW,
    )

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")

    def land(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(landing, name + ".parquet"))

    def shard_index(df):
        # the registered op's own kernel: stateless per-batch winnowing
        # pass (mapInPandas), one stateful (fp) fold
        d = df.select("doc_id", "text").mapInPandas(
            _winnow_shard_gen(_WK, _WW, _WINNOW_SHARD),
            schema="doc_id long, fp long",
        )
        return d.groupBy("fp").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )

    def run_once(tag):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        agg = shard_index(stream)

        def write_batch(df, batch_id):
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run_{tag}")
            )

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.foreachBatch(write_batch)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    land(docs.filter("doc_id % 2 = 0"), "f1")
    run_once("a")  # consumes f1, commits offsets + shard state, dies

    land(docs.filter("doc_id % 2 = 1"), "f2")
    run_once("b")  # NEW query object, same checkpoint: reads f2 ONLY

    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    snap_a = spark.read.parquet(os.path.join(out_dir, "run_a"))
    snap_b = spark.read.parquet(os.path.join(out_dir, "run_b"))
    want = rows(shard_index(docs))

    assert rows(snap_b) == want
    # the restart genuinely ADDED mass (run a saw only half the docs):
    # a from-scratch run b would MISS f1's docs entirely, and a
    # double-processing run b would overshoot — either breaks equality
    a_mass = snap_a.agg(F.sum("n_docs")).collect()[0][0]
    b_mass = snap_b.agg(F.sum("n_docs")).collect()[0][0]
    assert a_mass < b_mass


def test_ivf_occupancy_restart_recovers_state(spark, sf_dir, tmp_path):
    """Kill-and-restart contract for the FOURTH streaming index store
    (`stream_ivf_list_maintenance`'s per-list admitted counts): the
    vector corpus lands in two files; a first query admits the first
    file's batch vectors through the broadcast `ivfpq_artifacts`
    kernel and dies after committing offsets + the groupBy(cid) SUM
    state; a brand-new query object on the same checkpointLocation
    consumes ONLY the second file, and its final snapshot must equal
    the batch-kernel admitted counts over the FULL corpus. A list
    admitted to by both halves shows the cumulative count —
    impossible without state recovery; double-counting or dropping
    changes a row and the set equality catches either."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from catme_etl_spark.operators._shared import (
        shared_broadcast,
        shared_matrix_broadcast,
    )
    from catme_etl_spark.operators._ivf import ingest_gen, ivfpq_artifacts
    from catme_etl_spark.sources.tables import load_table

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    bc = shared_matrix_broadcast("embeddings_matrix", sf_dir, spark, emb)
    art = shared_broadcast(
        "ivfpq_artifacts", sf_dir, spark, lambda: ivfpq_artifacts(bc)
    )
    dec_schema = (
        "vec_id long, cid long, n_cand long, min_adc long,"
        " sum_adc long, admitted long"
    )

    def admitted_counts(df):
        return (
            df.filter(F.col("vec_id") % 10 == 9)
            .select("vec_id")
            .mapInPandas(ingest_gen(art), schema=dec_schema)
            .groupBy("cid")
            .agg(F.sum("admitted").cast("long").alias("n_admitted"))
        )

    def land(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(landing, name + ".parquet"))

    def run_once(tag):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        agg = admitted_counts(stream)

        def write_batch(df, batch_id):
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run_{tag}")
            )

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                agg.writeStream.foreachBatch(write_batch)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    land(emb.filter("vec_id % 20 < 10"), "f1")
    run_once("a")  # admits f1's batch vectors, commits state, dies

    land(emb.filter("vec_id % 20 >= 10"), "f2")
    run_once("b")  # NEW query object, same checkpoint: reads f2 ONLY

    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    snap_b = spark.read.parquet(os.path.join(out_dir, "run_b"))
    assert rows(snap_b) == rows(admitted_counts(emb))
    # the restart genuinely ADDED mass: run a saw only half the corpus
    snap_a = spark.read.parquet(os.path.join(out_dir, "run_a"))
    a_mass = snap_a.agg(F.sum("n_admitted")).collect()[0][0]
    b_mass = snap_b.agg(F.sum("n_admitted")).collect()[0][0]
    assert a_mass < b_mass


def test_winnow_shard_kernel_matches_hof_expression(spark, sf_dir):
    """The r14 numpy winnowing kernel emits the exact (doc_id, fp)
    posting set of the interpreted higher-order-expression form it
    replaced (same md5-prefix -> BIGINT mapping, same window-of-W
    minima, same per-doc distinct, same shard filter)."""
    import os

    from pyspark.sql import functions as F

    from catme_etl_spark.streaming.jobs import (
        _WINNOW_SHARD,
        _winnow_shard_gen,
        _WK,
        _WW,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    hs = (
        f"transform(sequence(0, ng - 1), i -> "
        f"CAST(conv(substring(md5(substring(text, i + 1, {_WK})),"
        f" 1, 14), 16, 10) AS BIGINT))"
    )
    rowwise = (
        f"array_distinct(transform(sequence(0, ng - {_WW}), i ->"
        f" array_min(slice(_hs, i + 1, {_WW}))))"
    )
    old = (
        docs.select(
            "doc_id", "text", (F.length("text") - _WK + 1).alias("ng")
        )
        .filter(F.col("ng") >= _WW)
        .withColumn("_hs", F.expr(hs))
        .select("doc_id", F.explode(F.expr(rowwise)).alias("fp"))
        .filter(F.col("fp") % _WINNOW_SHARD == 0)
    )
    new = docs.mapInPandas(
        _winnow_shard_gen(_WK, _WW, _WINNOW_SHARD),
        schema="doc_id long, fp long",
    )
    a = {(r.doc_id, r.fp) for r in old.collect()}
    b = {(r.doc_id, r.fp) for r in new.collect()}
    assert a == b and len(a) > 0


def test_minhash_band_kernel_matches_hof_expression(spark, sf_dir):
    """The r14 numpy band-key kernel emits the exact
    (doc_id, band, bkey) set of the interpreted
    higher-order-expression form it replaced (same shingle regex
    under Java/ASCII \\S semantics, same md5-56 % P shingle hashes,
    same 32 Carter-Wegman minima, same band-key strings)."""
    import os

    from pyspark.sql import functions as F

    from catme_etl_spark.streaming.jobs import (
        _minhash_band_cols,
        _minhash_band_gen,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    xs, mins, bkeys = _minhash_band_cols()
    d = docs.withColumn("_xs", F.expr(xs)).filter(F.expr("size(_xs) > 0"))
    for s, m in enumerate(mins):
        d = d.withColumn(f"_h{s}", F.expr(m))
    old = d.select(
        "doc_id", F.posexplode(F.expr(bkeys)).alias("band", "bkey")
    )
    new = docs.mapInPandas(
        _minhash_band_gen(), schema="doc_id long, band int, bkey string"
    )
    a = {(r.doc_id, r.band, r.bkey) for r in old.collect()}
    b = {(r.doc_id, r.band, r.bkey) for r in new.collect()}
    assert a == b and len(a) > 0


def test_single_batch_trigger_matches_multi_batch(spark, monkeypatch):
    """Round-15 source sizing (guide §2.1): the default one-data-batch
    trigger (all 4 staged files at once) must produce exactly the
    4-micro-batch regime's rows for every batch-count-independent
    consumer class — complete-mode folds, append-mode session windows
    sealed by the FINAL watermark, update-mode stateful operators whose
    consumer takes the final snapshot, and watermarked dedup."""
    import __spark_entry__ as e
    from catme_etl_spark.streaming import jobs

    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    for name in (
        "stream_tumbling_10min",        # complete-mode aggregation
        "stream_session_sealed",        # append-mode session windows
        "stream_stateful_user_totals",  # update-mode custom state
        "stream_dedup_event_id",        # dropDuplicatesWithinWatermark
    ):
        monkeypatch.setattr(jobs, "STREAM_MAX_FILES", 1)
        multi = sorted(tuple(r) for r in qs[name](spark, sf).collect())
        monkeypatch.undo()
        single = sorted(tuple(r) for r in qs[name](spark, sf).collect())
        assert multi == single and multi, name


def test_scratch_parent_is_per_user_and_local_only(spark, tmp_path, monkeypatch):
    """The RAM-backed /dev/shm checkpoint default must only engage on a
    local master (state stores write from executors — a node-local path
    is broken on a cluster), the parent must be uid-scoped (round-14
    ADVICE: fixed world-shared tmpfs paths are a squat hazard), and the
    env override must always win."""
    import os

    from catme_etl_spark.streaming.jobs import _scratch_parent

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    p = _scratch_parent(spark)  # test session master is local[N]
    assert p.endswith(f"catme_etl_stream_ckpt_{os.getuid()}")
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert p.startswith("/dev/shm")

    class _Conf:
        def get(self, key, default=None):
            return "spark://cluster:7077"

    class _ClusterSession:
        conf = _Conf()

    p2 = _scratch_parent(_ClusterSession())
    assert not p2.startswith("/dev/shm")

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    p3 = _scratch_parent(spark)
    assert p3.startswith(str(tmp_path))


def test_ingest_gen_vectorized_matches_loop(spark, sf_dir):
    """The segment-reduce form of the ADC admission kernel emits
    byte-identical rows to the original per-row isin/loop form — same
    candidates (member lists per probed centroid), same int64
    arithmetic, min/sum/len order-insensitive."""
    import numpy as np
    import pandas as pd

    from catme_etl_spark.operators._shared import (
        shared_broadcast,
        shared_matrix_broadcast,
    )
    from catme_etl_spark.operators._ivf import ingest_gen, ivfpq_artifacts
    from catme_etl_spark.operators.similarity import (
        INGEST_REJECT_FACTOR,
        NPROBE,
        PQ_M,
        PQ_SUB,
    )
    from catme_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    bc = shared_matrix_broadcast("embeddings_matrix", sf_dir, spark, emb)
    art = shared_broadcast(
        "ivfpq_artifacts", sf_dir, spark, lambda: ivfpq_artifacts(bc)
    )
    ids, Q, assign, codes, cids, C, wids, W = art.value
    new_ids = ids[ids % 10 == 9]
    pdf = pd.DataFrame({"vec_id": new_ids})

    got = pd.concat(list(ingest_gen(art)(iter([pdf])))).reset_index(
        drop=True
    )

    # reference: the original per-row loop form
    existing = ids % 10 != 9
    ia = pdf["vec_id"].to_numpy()
    pos = np.searchsorted(ids, ia)
    qa = Q[pos]
    dq = (
        (qa * qa).sum(axis=1)[:, None]
        + (C * C).sum(axis=1)[None, :]
        - 2 * (qa @ C.T)
    )
    order = np.argsort(dq, axis=1, kind="stable")
    probes = cids[order[:, :NPROBE]]
    luts = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
        qm, Wm = qa[:, lo:hi], W[:, lo:hi]
        luts.append(
            (qm * qm).sum(axis=1)[:, None]
            + (Wm * Wm).sum(axis=1)[None, :]
            - 2 * (qm @ Wm.T)
        )
    rows = []
    for r in range(len(ia)):
        cand = np.isin(assign, probes[r]) & existing
        cidx = np.nonzero(cand)[0]
        adc = np.zeros(len(cidx), dtype=np.int64)
        for m in range(PQ_M):
            adc += luts[m][r][codes[cidx, m]]
        n = len(cidx)
        if n:
            mn, sm = int(adc.min()), int(adc.sum())
            adm = 0 if INGEST_REJECT_FACTOR * mn * n < sm else 1
        else:
            mn, sm, adm = -1, 0, 1
        rows.append((int(ia[r]), int(probes[r][0]), n, mn, sm, adm))
    ref = pd.DataFrame(
        rows,
        columns=["vec_id", "cid", "n_cand", "min_adc", "sum_adc", "admitted"],
    )
    assert got.astype("int64").values.tolist() == ref.values.tolist()


# (stager, fixture table, slice key, stage root, files per trigger)
STAGERS = [
    ("_stream_events", "events", "ts", "/tmp/catme_etl_stream_src_v2", 4),
    ("_stream_docs", "documents", "doc_id", "/tmp/catme_etl_stream_docs_v1", 4),
    ("_stream_embeddings", "embeddings", "vec_id", "/tmp/catme_etl_stream_emb_v1", 4),
    ("_stream_events_lateness", "events", "ts", "/tmp/catme_etl_stream_late_v1", 1),
    ("_stream_docs_mod4", "documents", "doc_id", "/tmp/catme_etl_stream_docs_mod4_v1", 1),
]


def _stage_dir(root, sf_dir):
    import os

    return os.path.join(root, sf_dir.strip("/").replace("/", "_"))


@pytest.mark.parametrize(
    "stager,table,key,root,max_files", STAGERS, ids=[s[0] for s in STAGERS]
)
def test_stager_slices_cover_source_once(
    spark, tmp_path, stager, table, key, root, max_files
):
    """Every fixture stager writes its slices in index order (increasing
    mtimes), stages each source row once — NULL-ts events pinned to
    slice 0 by the events stager, NULL keys dropped by the others —
    keeps its files-per-trigger, and leaves an existing stage alone."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catme_etl_spark.streaming import jobs

    # sf0.001 plus two rows with a NULL slice key, under a fresh stage key
    t = pq.read_table(os.path.join(SF0001, f"{table}.parquet"))
    nulls = t.slice(0, 2)
    i = nulls.schema.get_field_index(key)
    nulls = nulls.set_column(i, key, pa.nulls(2, nulls.schema.field(key).type))
    pq.write_table(pa.concat_tables([t, nulls]), tmp_path / f"{table}.parquet")
    sf = str(tmp_path)
    stage = _stage_dir(root, sf)
    keeps_null_key = stager == "_stream_events"
    try:
        df = getattr(jobs, stager)(spark, sf)
        assert df.isStreaming
        slices = sorted(d for d in os.listdir(stage) if d.startswith("slice"))
        assert slices == ["slice0", "slice1", "slice2", "slice3"]
        files = {
            d: [os.path.join(stage, d, f) for f in os.listdir(os.path.join(stage, d))
                if f.endswith(".parquet")]
            for d in slices
        }
        assert all(len(f) == 1 for f in files.values()), files
        mtimes = [os.stat(files[d][0]).st_mtime_ns for d in slices]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

        counts = [spark.read.parquet(os.path.join(stage, d)).count() for d in slices]
        assert sum(counts) == t.num_rows + (2 if keeps_null_key else 0), counts
        if keeps_null_key:
            slice0 = spark.read.parquet(os.path.join(stage, "slice0"))
            assert slice0.filter(slice0[key].isNull()).count() == 2

        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(data_batches) == len(slices) // max_files

        before = {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(stage) for f in fs
        }
        getattr(jobs, stager)(spark, sf)
        after = {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(stage) for f in fs
        }
        assert after == before
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_lateness_stager_reads_nanosecond_timestamps(spark, tmp_path):
    """The lateness stager stages through ``load_table``, so an events
    fixture whose ``ts`` is parquet TIMESTAMP(NANOS) is read (as raw
    nanos, truncated to micros) even in a session where no earlier
    stream query has set ``nanosAsLong``."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catme_etl_spark.sources.tables import load_table
    from catme_etl_spark.streaming.jobs import _stream_events_lateness

    t = pq.read_table(os.path.join(SF0001, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet", version="2.6")
    sf = str(tmp_path)
    stage = _stage_dir("/tmp/catme_etl_stream_late_v1", sf)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    spark.conf.unset(conf)
    try:
        df = _stream_events_lateness(spark, sf)
        assert dict(df.dtypes)["ts"] == "timestamp"
        staged = spark.read.parquet(
            *[os.path.join(stage, d) for d in os.listdir(stage) if d.startswith("slice")]
        )
        want = load_table(spark, SF0001, "events").filter("ts IS NOT NULL")
        key = ["event_id", "ts"]
        assert sorted(staged.select(key).collect()) == sorted(
            want.select(key).collect()
        )
    finally:
        if prev is not None:
            spark.conf.set(conf, prev)
        shutil.rmtree(stage, ignore_errors=True)
