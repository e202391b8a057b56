"""Crafted-table tests for the round-10 debut queue (live since its
flip; see tests/test_ordering.py). Each op is runnable and
oracle-carrying; these pin the closed-form/boundary semantics the
fixtures never exercise."""

from __future__ import annotations

import datetime as dt

import duckdb

import __spark_entry__ as entry


def _oracle(con, name):
    sql = entry.oracle_sql()[name]
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_events(spark, tmp_path, rows):
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(out)
    return out


def _con(view, path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}/*.parquet'")
    return con


def test_fano_constant_vs_spike(spark, tmp_path):
    """Constant daily volume reads Fano = 0 (not bursty); a one-day
    spike over a flat floor reads the hand-computed 4.0 (bursty).
    Series A: [2,2,2,2] -> num = 4*16-64 = 0. Series B: [1,1,1,9] ->
    (4*84 - 144) / (4*12) = 192/48 = 4."""
    from catme_etl_spark.operators.events import events_burstiness_fano

    day = 86400
    rows = []
    for d, n in enumerate([2, 2, 2, 2]):
        for i in range(n):
            rows.append((1, dt.datetime(2024, 1, 1)
                         + dt.timedelta(seconds=d * day + i), "flat", 1.0))
    for d, n in enumerate([1, 1, 1, 9]):
        for i in range(n):
            rows.append((2, dt.datetime(2024, 1, 1)
                         + dt.timedelta(seconds=d * day + i), "spiky", 1.0))
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(events_burstiness_fano(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "events_burstiness_fano")
    by = {r[0]: r for r in got}
    assert by["flat"] == ("flat", 4, 8, 0, False)
    assert by["spiky"] == ("spiky", 4, 12, 4000000, True)


def test_hapax_and_ttr_closed_form(spark, tmp_path):
    """s1: tokens (a b a c) -> N=4, V=3, hapax {b,c} -> 666666 ppm,
    TTR 750000. s2: (x y x y) -> no hapax, TTR 500000."""
    from catme_etl_spark.operators.text import text_hapax_ratio_by_source

    docs = [
        (1, "a b", "en", "s1", 3),
        (2, "a c", "en", "s1", 3),
        (3, "x y", "en", "s2", 3),
        (4, "x y", "en", "s2", 3),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(text_hapax_ratio_by_source(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "text_hapax_ratio_by_source")
    assert got == [
        ("s1", 4, 3, 2, 666666, 750000),
        ("s2", 4, 2, 0, 0, 500000),
    ]


def test_split_balance_invariants(spark, tmp_path):
    """Cross-engine equality plus the structural invariants: per-lang
    doc counts conserve, and the ppm shares of a language's present
    splits sum to 1e6 up to floor loss (< #splits ppm)."""
    from catme_etl_spark.operators.quality import quality_split_balance_audit

    docs = [
        (i, f"doc {i} text", "en" if i % 3 else "de", "s", 10)
        for i in range(1, 61)
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(quality_split_balance_audit(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "quality_split_balance_audit")
    langs = {}
    for lang, split, n, share, exp, dev in got:
        langs.setdefault(lang, []).append((n, share, exp, dev))
        assert dev == abs(share - exp)
    for lang, rows in langs.items():
        total = sum(r[0] for r in rows)
        share_sum = sum(r[1] for r in rows)
        assert 1000000 - len(rows) < share_sum <= 1000000
        assert total == (40 if lang == "en" else 20)


def test_importance_weights_closed_form(spark, tmp_path):
    """Classes of 10 and 30 docs: w = 1e6·total/(k·n) gives exactly
    2_000_000 and 666_666 ppm; class masses expose the floor loss."""
    from catme_etl_spark.operators.sampling import (
        sample_importance_weights_ppm,
    )

    docs = [(i, "t", "a" if i <= 10 else "b", "s", 1) for i in range(1, 41)]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(sample_importance_weights_ppm(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "sample_importance_weights_ppm")
    assert got == [
        ("a", 10, 2000000, 20000000),
        ("b", 30, 666666, 19999980),
    ]


def test_bootstrap_degenerate_constant_sample(spark, tmp_path):
    """Every order at the same price: every resample mean equals the
    point mean, so the CI collapses to a point — on both engines."""
    from catme_etl_spark.operators.stats import stats_bootstrap_ci_md5

    orders = [(i, 25.50) for i in range(1, 41)]
    out = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders, "o_orderkey long, o_totalprice double"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(stats_bootstrap_ci_md5(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "stats_bootstrap_ci_md5")
    assert got == [(40, 32, 2550000000, 2550000000, 2550000000)]


def test_bootstrap_varied_cross_engine(spark, tmp_path):
    """Varied prices: the md5-indexed draws must agree bit-for-bit
    cross-engine, the CI must bracket sensibly, and the point mean is
    the hand-computable panel mean."""
    from catme_etl_spark.operators.stats import stats_bootstrap_ci_md5

    orders = [(i, float(i)) for i in range(1, 101)]
    out = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders, "o_orderkey long, o_totalprice double"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(stats_bootstrap_ci_md5(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "stats_bootstrap_ci_md5")
    (n, b, point, lo, hi), = got
    assert (n, b) == (100, 32)
    assert point == (1000000 * sum(i * 100 for i in range(1, 101))) // 100
    assert lo <= point <= hi and lo < hi


def test_near_dup_conflict_counts(spark, tmp_path):
    """Two byte-identical docs with different lang (near-dup pair,
    lang conflict), two with same metadata (pair, no conflict), one
    unrelated doc. Cross-engine equal with hand-checked masses."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import (
        dedup_near_dup_conflicting_metadata,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    docs = [
        (1, t1, "en", "web", 10),
        (2, t1, "de", "web", 10),   # near-dup of 1, lang conflict
        (3, t2, "en", "web", 10),
        (4, t2, "en", "web", 10),   # near-dup of 3, no conflict
        (5, "totally different words here now ok fine yes", "en", "web", 10),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    clear_shared()
    try:
        got = _spark_rows(
            dedup_near_dup_conflicting_metadata(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "dedup_near_dup_conflicting_metadata")
    assert got == [(2, 1, 0, 0)]


def test_stream_minhash_index_equals_batch(spark, tmp_path):
    """The streaming band index snapshot equals the batch band table
    aggregated the same way: identical docs share all 8 buckets
    (n_docs=2, canonical=min id), and a 2-token doc (no 3-gram
    shingles) is absent on BOTH engines."""
    from catme_etl_spark.streaming.jobs import stream_minhash_band_index

    t = "red orange yellow green blue indigo violet ultraviolet"
    docs = [
        (10, t, "en", "s", 8),
        (20, t, "en", "s", 8),
        (30, "completely different tokens appear in this document text",
         "en", "s", 8),
        (40, "too short", "en", "s", 2),  # < 3 tokens -> no shingles
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(stream_minhash_band_index(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "stream_minhash_band_index")
    by_docs = {}
    for band, bkey, n_docs, canon in got:
        by_docs.setdefault((n_docs, canon), 0)
        by_docs[(n_docs, canon)] += 1
    # 8 shared buckets for the identical pair, 8 singleton for doc 30
    assert by_docs == {(2, 10): 8, (1, 30): 8}


def test_stream_volume_anomaly_equals_batch(spark, tmp_path):
    """The streaming weekly MAD monitor must emit exactly the batch
    monitor's rows on the same data (complete-mode counts equal batch
    counts): reuse the known-spike fixture — only the 50-event week
    flags."""
    from catme_etl_spark.operators.events import (
        events_volume_anomaly_by_type_week,
    )
    from catme_etl_spark.streaming.jobs import stream_volume_anomaly_weekly

    week = 604800
    rows = []
    eid = 1
    for wk, n in enumerate([10, 12, 8, 13, 7, 50]):
        for i in range(n):
            rows.append((eid, dt.datetime(1970, 1, 15)
                         + dt.timedelta(seconds=wk * week + i), "view", 1.0))
            eid += 1
    out = _write_events(spark, tmp_path,
                        [(r[0],) + r[1:] for r in rows])
    got = _spark_rows(stream_volume_anomaly_weekly(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_volume_anomaly_weekly")
    assert got == _spark_rows(
        events_volume_anomaly_by_type_week(spark, str(tmp_path))
    )
    assert got == [("view", 6, 10, 2, 1)]


def test_stream_concurrency_sealed_subset(spark, tmp_path):
    """Sealed sessions only: a session spanning hours 0-1 and a lone
    anchor session 3 days later (unsealed, absent). Cross-engine
    equal, hand-checked rows."""
    from catme_etl_spark.streaming.jobs import stream_concurrency_by_hour

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=50), "view", 1.0),
        (1, t0 + dt.timedelta(minutes=70), "view", 1.0),  # spans hr 0-1
        (2, t0 + dt.timedelta(minutes=10), "view", 1.0),  # hr 0 only
        (9, t0 + dt.timedelta(days=3), "view", 1.0),      # anchor, open
    ]
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(stream_concurrency_by_hour(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_concurrency_by_hour")
    hour_us = 3_600_000_000
    base_h = (int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
              * 1_000_000 // hour_us)
    assert got == sorted(
        [
            ((base_h + 0) * hour_us, 2, 2),
            ((base_h + 1) * hour_us, 1, 1),
        ]
    )


def test_ivf_clustered_single_centroid_perfect_recall(spark, tmp_path):
    """With exactly one stride centroid (vec_id 0), every vector's
    single inverted list is probed, so IVF candidates = the whole
    corpus and recall@5 is exactly 1.0 — the closed-form degenerate
    the fixtures never isolate. Cross-engine equal."""
    from catme_etl_spark.operators.similarity import sim_ivf_recall_clustered

    import math

    vecs = []
    for i in range(8):
        vecs.append((i, [math.sin(i * 1.7 + j) for j in range(4)]))
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(sim_ivf_recall_clustered(spark, str(tmp_path)))
    con = _con("embeddings", out)
    assert got == _oracle(con, "sim_ivf_recall_clustered")
    assert got == [(8, 40, 40, 1.0)]


def test_near_dup_split_leakage_known_buckets(spark, tmp_path):
    """doc_ids 1,2,3 hash into the train buckets and 9 into test (the
    pinned md5 buckets from the decontamination tests): an identical
    pair (1, 9) is a train-eval leak exposing doc 1; pair (2, 3) is
    train-train — a near-dup pair but not a leak."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import quality_split_leakage_near_dup

    ta = "alpha beta gamma delta epsilon zeta eta theta"
    tb = "one two three four five six seven eight nine"
    docs = [
        (1, ta, "en", "s", 8),
        (9, ta, "en", "s", 8),
        (2, tb, "en", "s", 9),
        (3, tb, "en", "s", 9),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    clear_shared()
    try:
        got = _spark_rows(quality_split_leakage_near_dup(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "quality_split_leakage_near_dup")
    assert got == [(2, 1, 1, 1)]


def test_sqrt_temperature_mix_closed_form(spark, tmp_path):
    """Perfect squares make the tempering exact by hand: source counts
    (1, 4, 9) give weights (1e6, 2e6, 3e6) — tempered shares 1/6, 2/6,
    3/6 vs raw 1/14, 4/14, 9/14: the tail source triples its share."""
    from catme_etl_spark.operators.sampling import (
        sample_sqrt_temperature_mix,
    )

    docs, i = [], 0
    for src, n in (("tail", 1), ("mid", 4), ("head", 9)):
        for _ in range(n):
            i += 1
            docs.append((i, "t", "en", src, 1))
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(sample_sqrt_temperature_mix(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "sample_sqrt_temperature_mix")
    assert got == [
        ("head", 9, 642857, 500000),
        ("mid", 4, 285714, 333333),
        ("tail", 1, 71428, 166666),
    ]
