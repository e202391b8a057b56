"""Round-7 operator invariants: the SRP band index is a durable
artifact (probe the stored table → identical ingest decision), the
index and the corpus-dedup path compute identical signatures, the
approx profiler counts NULLs and stays in-bounds on a crafted table,
the quantization kernels refuse degenerate corpora, and the broadcast
size gate fails CLOSED on an unprobeable table."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e

SF001 = "/root/testdata/sf0.01"


def _duck_view(con, name, path_glob):
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path_glob}'")


def test_semantic_ingest_probe_against_durable_index(spark, tmp_path):
    """The session-shared SRP band index stands in for a PERSISTED
    index table (the vector-store sibling of round 3's MinHash
    band-index proof): write the bands to parquet, run the whole
    ingest decision against the STORED table, and admit exactly the
    same rows as the in-memory query."""
    from catme_etl_spark.functions.vector import make_cosine_pandas_udf
    from catme_etl_spark.operators.similarity import _srp_bands
    from catme_etl_spark.sources.tables import load_table

    idx_path = str(tmp_path / "srp_index.parquet")
    _srp_bands(spark, SF001).write.parquet(idx_path)
    bands = spark.read.parquet(idx_path)

    new = bands.filter(F.col("vec_id") % 10 == 9).select(
        F.col("vec_id").alias("vec_n"),
        F.col("b").alias("b_n"),
        F.col("bval").alias("bval_n"),
    )
    cand = (
        bands.join(
            F.broadcast(new),
            (F.col("b") == F.col("b_n"))
            & (F.col("bval") == F.col("bval_n"))
            & (F.col("vec_id") != F.col("vec_n")),
        )
        .select(
            F.least("vec_id", "vec_n").alias("vec_a"),
            F.greatest("vec_id", "vec_n").alias("vec_b"),
        )
        .distinct()
    )
    emb = load_table(spark, SF001, "embeddings")
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    cos_udf = make_cosine_pandas_udf()
    dup = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_raw", cos_udf("emb_a", "emb_b"))
        .filter(F.round("cos_raw", 6) >= 0.4)
        .select("vec_a", "vec_b")
    )
    new_a = F.col("vec_a") % 10 == 9
    new_b = F.col("vec_b") % 10 == 9
    rejected = dup.select(
        F.when(new_a & ~new_b, F.col("vec_a"))
        .otherwise(F.col("vec_b"))
        .alias("vec_id")
    ).distinct()
    durable = (
        emb.filter(F.col("vec_id") % 10 == 9)
        .join(rejected, "vec_id", "left_anti")
        .select("vec_id")
    )
    in_memory = e.queries()["pipeline_semantic_ingest"](spark, SF001)
    assert {r.vec_id for r in durable.collect()} == {
        r.vec_id for r in in_memory.collect()
    }


def test_srp_bands_agree_with_corpus_dedup_candidates(spark):
    """Both SRP paths derive their hyperplanes from the same md5 grid,
    so the index's band self-join must reproduce the corpus-dedup
    candidate set EXACTLY — the claim that lets the ingest path probe
    an index the dedup path built."""
    from catme_etl_spark.operators.similarity import (
        _srp_bands,
        _srp_candidates,
    )

    bands = _srp_bands(spark, SF001)
    a = bands.select(F.col("vec_id").alias("vec_a"), "b", "bval")
    bb = bands.select(
        F.col("vec_id").alias("vec_b"),
        F.col("b").alias("b2"),
        F.col("bval").alias("bval2"),
    )
    from_index = (
        a.join(
            bb,
            (F.col("b") == F.col("b2"))
            & (F.col("bval") == F.col("bval2"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    assert {tuple(r) for r in from_index.collect()} == {
        tuple(r) for r in _srp_candidates(spark, SF001).collect()
    }


def test_profile_approx_counts_nulls_on_crafted_table(spark, tmp_path):
    """Crafted-NULL semantics for the APPROX profiler (the round-6
    exact-profiler case extended per the round-7 plan): NULL counting
    must match, the exact n_distinct column must match the oracle on
    the same crafted parquet, and the sketch bounds must hold (at
    these cardinalities HLL++ is exact, so a bounds failure here is a
    real regression)."""
    from catme_etl_spark.operators.quality import quality_table_profile_approx

    rows = [
        (1.0, 10.0, 0.1, 0.02, dt.datetime(2024, 1, 1), "A", "O"),
        (2.0, 20.0, 0.2, None, dt.datetime(2024, 1, 2), None, "F"),
        (3.0, 30.0, 0.2, 0.04, dt.datetime(2024, 1, 3), None, "O"),
    ]
    df = spark.createDataFrame(
        rows,
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_shipdate timestamp, l_returnflag string, "
        "l_linestatus string",
    )
    out = str(tmp_path / "lineitem.parquet")
    df.coalesce(1).write.parquet(out)

    got = {
        r.col_name: r
        for r in quality_table_profile_approx(spark, str(tmp_path)).collect()
    }
    assert got["l_tax"].n_nulls == 1
    assert got["l_returnflag"].n_nulls == 2
    assert got["l_returnflag"].n_distinct == 1
    assert got["l_discount"].n_distinct == 2
    assert all(r.nd_within_bounds for r in got.values())

    con = duckdb.connect()
    _duck_view(con, "lineitem", out + "/*.parquet")
    oracle = con.execute(
        e.oracle_sql()["quality_table_profile_approx"]
    ).fetchall()
    spark_rows = sorted(
        tuple(r)
        for r in quality_table_profile_approx(spark, str(tmp_path)).collect()
    )
    assert spark_rows == sorted(tuple(r) for r in oracle)


def test_profile_approx_plans_no_expand(spark, sf_dir, monkeypatch):
    """The point of the approx profiler: NO Expand node anywhere in
    its plan, in either regime. The exact profiler's fused form plans
    the 7-way COUNT(DISTINCT) Expand (the documented cost of
    exactness); its single-split form runs each COUNT(DISTINCT) as its
    own leg, which plans none. Each regime is pinned by patching
    ``_is_single_split`` (the sf0.001 lineitem arrives as one split)."""
    from catme_etl_spark.operators import quality

    def plan(fn):
        return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    for single_split in (False, True):
        monkeypatch.setattr(
            quality, "_is_single_split", lambda df, v=single_split: v
        )
        assert "Expand" not in plan(quality.quality_table_profile_approx)
        exact_has_expand = "Expand" in plan(quality.quality_table_profile)
        assert exact_has_expand is not single_split, single_split


def test_drift_state_survives_kill_and_restart(spark, tmp_path):
    """Kill-and-restart contract for the drift gate's mergeable state
    (the `test_stateful_restart_recovers_state_from_checkpoint`
    pattern applied to :func:`drift_current_histogram`): consume half
    the binned stream, terminate, restart a NEW query object on the
    same checkpoint with more files landed — the final snapshot must
    equal the full-batch histogram (state recovered, offsets not
    reprocessed)."""
    import glob
    import os
    import shutil

    from catme_etl_spark.streaming.jobs import drift_current_histogram

    landing = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "event_type string, bin long"
    first = [("a", 0), ("a", 0), ("a", 9), ("b", 4)]
    second = [("a", 0), ("b", 4), ("b", 5)]

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
        )
        out = drift_current_histogram(stream)

        def write_batch(df, batch_id):
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run={tag}", f"batch_id={batch_id}")
            )

        q = (
            out.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    land(first, "f1")
    run_once("a")
    land(second, "f2")
    run_once("b")  # NEW query object, same checkpoint

    merged = (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .groupBy("event_type")
        .agg(F.max(F.struct("n_total", "bins_csv")).alias("s"))
        .select("event_type", "s.n_total", "s.bins_csv")
    )
    got = {(r.event_type, r.n_total, r.bins_csv) for r in merged.collect()}
    want = set()
    for et in ("a", "b"):
        bins = [0] * 10
        rows = [b for t, b in first + second if t == et]
        for b in rows:
            bins[b] += 1
        want.add((et, len(rows), ",".join(map(str, bins))))
    assert got == want
    # run b alone must carry CUMULATIVE counts for keys seen in run a
    run_b = spark.read.parquet(os.path.join(out_dir, "run=b"))
    b_rows = {(r.event_type, r.n_total) for r in run_b.collect()}
    assert ("a", 4) in b_rows  # 3 in f1 + 1 in f2 — state recovered


def test_quant_guard_rejects_degenerate_corpus():
    """int8/PQ quantization divides by the corpus absmax: an empty or
    all-zero corpus must fail loudly (NaN codes would rank garbage),
    per the round-6 degenerate-input discipline."""
    import numpy as np

    from catme_etl_spark.operators._ivf import quant_max_abs

    with pytest.raises(ValueError, match="empty"):
        quant_max_abs(np.empty((0, 64)))
    with pytest.raises(ValueError, match="all-zero"):
        quant_max_abs(np.zeros((5, 64)))
    assert quant_max_abs(np.array([[0.0, -2.5]])) == 2.5


def test_maybe_broadcast_fails_closed_on_missing_table(spark, sf_dir):
    """A layout change or table-name typo must NOT silently re-pin the
    unconditional broadcast hint (the round-6 advice fail-open): an
    unprobeable table returns the frame UNHINTED."""
    from catme_etl_spark.operators._shared import _table_bytes, maybe_broadcast
    from catme_etl_spark.sources.tables import load_table

    with pytest.raises(FileNotFoundError):
        _table_bytes(sf_dir, "no_such_table")

    nation = load_table(spark, sf_dir, "nation")
    hinted = maybe_broadcast(nation, sf_dir, "nation")
    unhinted = maybe_broadcast(nation, sf_dir, "no_such_table")
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert (
        "ResolvedHint"
        not in unhinted._jdf.queryExecution().analyzed().toString()
    )
