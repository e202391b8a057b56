"""Crafted-table tests for the round-9 debut queue (live since its
flip; see tests/test_ordering.py). Each op is runnable and
oracle-carrying; these tests pin the boundary semantics the fixtures
never exercise."""

from __future__ import annotations

import datetime as dt

import duckdb

import __spark_entry__ as entry


def _oracle(con, name):
    sql = entry.oracle_sql()[name]
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_weekly_seasonality_monday_anchor(spark, tmp_path):
    """2024-01-01 was a Monday: 00:30 UTC must land in hour-of-week 0
    and Sunday 23:30 in 167 — the (epoch_hour + 72) mod 168 anchor,
    checked cross-engine and in closed form."""
    from catme_etl_spark.operators.events import (
        events_weekly_seasonality_profile,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), "view", 1.0),   # Mon 00:30
        (2, dt.datetime(2024, 1, 7, 23, 30), "view", 1.0),  # Sun 23:30
        (3, dt.datetime(2024, 1, 1, 0, 45), "click", 1.0),  # Mon 00:45
        (4, dt.datetime(2024, 1, 3, 12, 0), "view", 1.0),   # Wed 12:00
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(events_weekly_seasonality_profile(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_weekly_seasonality_profile")
    assert got == [(0, 2, 500000), (60, 1, 250000), (167, 1, 250000)]


def test_diversity_length_corr_closed_forms(spark, tmp_path):
    """One source built so diversity-ppm falls perfectly linearly with
    length (r = -1 exactly); one source where every doc is identical
    (zero variance -> degenerate TRUE, r pinned to 0.0) — both
    engines agreeing."""
    from catme_etl_spark.operators.text import text_diversity_length_corr

    # linear: x = 2,4,8 with all-distinct, half-distinct, quarter-
    # distinct tokens -> y = 1e6, 5e5, 2.5e5... not linear in x.
    # Build y = 1_000_000 - 50_000 * x exactly: choose nd so that
    # (1e6 * nd) div x hits the target: x=2 nd=... easier: craft
    # token lists directly so y is affine in x.
    def doc(n_tokens, n_distinct):
        toks = [f"w{i}" for i in range(n_distinct)]
        toks += ["w0"] * (n_tokens - n_distinct)
        return " ".join(toks)

    # x=4 nd=2 -> y=500000 ; x=8 nd=2 -> y=250000 ; x=16 nd=2 -> 125000
    # y = 2e6 / x (inverse, not linear): r is NOT -1; instead use
    # two-point sources, where any non-degenerate pair gives |r| = 1.
    docs = [
        (1, doc(4, 2), "two_point", 1),
        (2, doc(8, 2), "two_point", 1),   # y falls as x rises -> r=-1
        (3, doc(5, 5), "flat", 1),
        (4, doc(5, 5), "flat", 1),        # zero variance both axes
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(text_diversity_length_corr(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "text_diversity_length_corr")
    by_src = {r[0]: r for r in got}
    assert by_src["two_point"] == ("two_point", 2, False, -1.0)
    assert by_src["flat"] == ("flat", 2, True, 0.0)


def test_recall_curve_degenerate_denominator(spark, tmp_path):
    """3-vector corpus: the brute truth emits only 2 neighbors per
    query (the round-8 degenerate guard), so n_truth must read 3/6/6
    at k=1/3/5 — the curve denominates on what exists, not on k times
    queries. With 3 vectors the int8 ranking and the float ranking
    retrieve the same sets at k >= 2, so recall@3 = recall@5 = 1."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import sim_recall_vs_k_curve

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.5, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.5], 1),
    ]
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(out)

    clear_shared()
    got = _spark_rows(sim_recall_vs_k_curve(spark, str(tmp_path)))
    clear_shared()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sim_recall_vs_k_curve")
    by_k = {r[0]: r for r in got}
    assert by_k[1][2] == 3 and by_k[3][2] == 6 and by_k[5][2] == 6
    assert by_k[3][3] == 1.0 and by_k[5][3] == 1.0


def test_cosine_band_histogram_known_bands(spark, tmp_path):
    """Unit vectors with cosines engineered mid-band: 0.275 lands in
    [0.25, 0.30), 0.425 in [0.40, 0.45), and the 0.117 pair falls
    outside the histogram window — counts and ppm shares are closed
    form and cross-engine equal. Mid-band targets keep float32
    widening noise ~5 orders of magnitude away from a band edge."""
    import math

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import sim_cosine_band_histogram

    v0 = [1.0, 0.0, 0.0, 0.0]
    v1 = [0.275, math.sqrt(1 - 0.275**2), 0.0, 0.0]
    v2 = [0.425, 0.0, math.sqrt(1 - 0.425**2), 0.0]
    rows = [(0, v0, 0), (1, v1, 0), (2, v2, 1)]
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(out)

    clear_shared()
    got = _spark_rows(sim_cosine_band_histogram(spark, str(tmp_path)))
    clear_shared()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sim_cosine_band_histogram")
    assert got == [(0.25, 1, 500000), (0.4, 1, 500000)]


def test_u_shaped_attribution_split_rules(spark, tmp_path):
    """Every U-split branch pinned: n=2 with an odd penny (first
    click's hour reads 51¢, second's 50¢), n=3 (40/20/40 -> the lone
    middle takes the whole 20% pool), n=4 ($1.00 -> 40+10+10+40 in
    one hour), and conservation per purchase is an identity on both
    engines."""
    from catme_etl_spark.operators.rangejoin import (
        events_attribution_u_shaped,
    )

    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes):
        return t + dt.timedelta(minutes=minutes)

    rows = [
        # purchase A ($1.01) with 2 clicks straddling an hour edge
        (101, 1, at(55), "click", 0.0),
        (102, 1, at(65), "click", 0.0),
        (103, 1, at(80), "purchase", 1.01),
        # purchase B ($1.00) with 3 clicks inside hour 12
        (201, 2, at(125), "click", 0.0),
        (202, 2, at(130), "click", 0.0),
        (203, 2, at(135), "click", 0.0),
        (204, 2, at(150), "purchase", 1.00),
        # purchase C ($1.00) with 4 clicks inside hour 14
        (301, 3, at(245), "click", 0.0),
        (302, 3, at(250), "click", 0.0),
        (303, 3, at(255), "click", 0.0),
        (304, 3, at(260), "click", 0.0),
        (305, 3, at(270), "purchase", 1.00),
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(events_attribution_u_shaped(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_attribution_u_shaped")

    base = int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    hour_us = 3_600_000_000
    assert got == sorted(
        [
            (base + 0 * hour_us, 1, 0.51),  # n=2: odd penny to 1st click
            (base + 1 * hour_us, 1, 0.50),
            (base + 2 * hour_us, 3, 1.00),  # n=3: 40 + 20 + 40
            (base + 4 * hour_us, 4, 1.00),  # n=4: 40 + 10 + 10 + 40
        ]
    )


def test_epoch_shuffle_head_matches_md5_mirror(spark, tmp_path):
    """The epoch order equals an independent hashlib mirror of
    md5(epoch || '_' || doc_id), and different epochs genuinely
    reorder the same corpus."""
    import hashlib

    from catme_etl_spark.operators.sampling import sample_epoch_shuffle_head

    ids = list(range(1, 13))
    docs = [(i, "w", "s", 1) for i in ids]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(sample_epoch_shuffle_head(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sample_epoch_shuffle_head")

    def key(epoch, i):
        return int(hashlib.md5(f"{epoch}_{i}".encode()).hexdigest()[:14], 16)

    orders = {}
    for ep in range(3):
        order = sorted(ids, key=lambda i: (key(ep, i), i))[:10]
        orders[ep] = order
        for pos, i in enumerate(order, start=1):
            assert (ep, pos, i) in got
    assert orders[0] != orders[1] and orders[1] != orders[2]


def test_bloom_prefilter_no_false_negatives(spark, tmp_path):
    """A batch doc whose text is an EXACT copy of a corpus doc must be
    flagged maybe (n_missed = 0 — the Bloom guarantee by
    construction); a unique batch doc exercises the probe's negative
    path. Cross-engine equal; the identity columns are pinned."""
    from catme_etl_spark.operators.dedup import dedup_bloom_prefilter_audit

    docs = [
        (1, "alpha beta gamma delta", "s", 1),
        (2, "epsilon zeta eta theta", "s", 1),
        (3, "iota kappa lambda mu", "s", 1),
        # batch (doc_id % 10 == 9)
        (9, "alpha beta gamma delta", "s", 1),   # exact dup of doc 1
        (19, "nu xi omicron pi totally fresh", "s", 1),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(dedup_bloom_prefilter_audit(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "dedup_bloom_prefilter_audit")
    (n_batch, n_maybe, n_exact, n_missed, n_fp, _fp_ppm) = got[0]
    assert (n_batch, n_exact, n_missed) == (2, 1, 0)
    assert n_maybe >= 1  # the dup is guaranteed flagged
    assert n_fp == n_maybe - n_exact


def test_js_divergence_closed_forms(spark, tmp_path):
    """Three hand-checkable pairs: identical distributions read 0,
    disjoint vocabularies read exactly ln 2 (the pair appears via the
    all-pairs LEFT join, not as a missing row), and a mixed pair
    matches the decomposition computed independently in-test."""
    import math

    from catme_etl_spark.operators.text import text_js_divergence_sources

    docs = [
        (1, "x x y", "a", 1),
        (2, "x x y", "b", 1),       # b == a -> JS = 0
        (3, "p q r", "c", 1),       # disjoint from everything
        (4, "x z", "d", 1),         # shares only x with a/b
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(text_js_divergence_sources(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "text_js_divergence_sources")

    by = {(r[0], r[1]): r for r in got}
    assert len(got) == 6  # all C(4,2) pairs present
    assert by[("a", "b")] == ("a", "b", 2, 0.0)
    ln2_6 = math.floor(math.log(2.0) / 2 * 2 * 1e6 + 0.5) / 1e6
    assert by[("a", "c")][3] == ln2_6 and by[("b", "c")][3] == ln2_6
    assert by[("c", "d")][3] == ln2_6

    # mixed pair (a, d): common token x with p=2/3, q=1/2; private
    # mass 1/3 (y) and 1/2 (z) — mirror the exact floor pipeline
    p, q = 2.0 / 3.0, 1.0 / 2.0
    term = p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))
    common_ppb = math.floor(term * 1e9 + 0.5)
    js = (common_ppb / 1e9 + math.log(2.0) * (1.0 / 3.0 + 1.0 / 2.0)) / 2
    expect = math.floor(js * 1e6 + 0.5) / 1e6
    assert by[("a", "d")] == ("a", "d", 1, expect)


def test_dup_conflicting_metadata_counts(spark, tmp_path):
    """Three exact-dup groups: one with a lang conflict (2 docs), one
    clean (same metadata), one with a source conflict; a unique doc
    joins no group — all four counters pinned cross-engine."""
    from catme_etl_spark.operators.quality import (
        quality_dup_conflicting_metadata,
    )

    docs = [
        (1, "same text one", "s1", "en", 1),
        (2, "same text one", "s1", "de", 1),   # lang conflict
        (3, "same text two", "s1", "en", 1),
        (4, "same text two", "s1", "en", 1),   # clean dup group
        (5, "same text three", "s1", "en", 1),
        (6, "same text three", "s2", "en", 1),  # source conflict
        (7, "unique text", "s1", "en", 1),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(quality_dup_conflicting_metadata(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "quality_dup_conflicting_metadata")
    assert got == [(3, 1, 1, 2)]


def test_daily_autocorrelation_alternating_series(spark, tmp_path):
    """A perfectly alternating daily series (10, 2, 10, 2, 10, 2):
    lag 1 reads exactly -1, lag 2 exactly +1; lags 6-7 have no pairs
    and are absent — both engines agreeing."""
    from catme_etl_spark.operators.events import events_daily_autocorrelation

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 1
    for day, n in enumerate([10, 2, 10, 2, 10, 2]):
        for i in range(n):
            rows.append(
                (eid, 1, t0 + dt.timedelta(days=day, minutes=i), "view", 1.0)
            )
            eid += 1
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(events_daily_autocorrelation(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_daily_autocorrelation")
    by_lag = {r[0]: r for r in got}
    assert sorted(by_lag) == [1, 2, 3, 4, 5]
    assert by_lag[1] == (1, 5, False, -1.0)
    assert by_lag[2] == (2, 4, False, 1.0)
    assert by_lag[5][2] is True or by_lag[5][3] in (-1.0, 1.0)


def test_quality_weighted_budget_conservation(spark, tmp_path):
    """A source of pure boilerplate fragments (fails the gate) earns
    zero allocation even though it has the most raw tokens; the
    passing sources split the 1e6 budget by largest remainder with
    exact conservation."""
    from catme_etl_spark.operators.sampling import (
        sample_quality_weighted_budget,
    )

    def doc(n_tokens, n_distinct):
        toks = [f"w{i}" for i in range(n_distinct)]
        toks += ["w0"] * (n_tokens - n_distinct)
        return " ".join(toks)

    docs = [
        # "good": 40 tokens, fully distinct -> passes (20..80, ratio 1)
        (1, doc(40, 40), "good", 1),
        # "ok": 30 tokens, ratio 0.5 -> passes
        (2, doc(30, 15), "ok", 1),
        # "junk": 200 repeated tokens -> fails the band; 10 tokens ->
        # fails the band too; ratio-failing 40-token doc
        (3, doc(200, 200), "junk", 1),
        (4, doc(10, 10), "junk", 1),
        (5, doc(40, 5), "junk", 1),  # ratio 0.125 <= 0.25
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(sample_quality_weighted_budget(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sample_quality_weighted_budget")

    by = {r[0]: r for r in got}
    assert by["junk"] == ("junk", 250, 0, 0)
    assert by["good"][2] == 40 and by["ok"][2] == 30
    assert sum(r[3] for r in got) == 1_000_000
    # 40/70 and 30/70 by largest remainder: 571428+1, 428571
    assert by["good"][3] == 571429 and by["ok"][3] == 428571


def test_stream_bloom_equals_batch_filter(spark, tmp_path):
    """The streamed Bloom index must equal the batch-built filter
    word for word on a crafted corpus: positions mirrored in-test via
    hashlib, the batch doc (id 9) excluded, and every corpus doc's
    three bits set in the final snapshot."""
    import hashlib

    from catme_etl_spark.streaming.jobs import stream_bloom_index_maintenance

    docs = [
        (1, "stream corpus doc one", "s", 1),
        (2, "stream corpus doc two", "s", 1),
        (3, "stream corpus doc three", "s", 1),
        (9, "batch doc must not contribute", "s", 1),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(stream_bloom_index_maintenance(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "stream_bloom_index_maintenance")

    words = {w: word for w, word in got}

    def positions(text):
        h = hashlib.md5(text.encode()).hexdigest()
        return [int(h[8 * j: 8 * j + 8], 16) % 4096 for j in range(3)]

    for _id, text, _s, _n in docs[:3]:
        for p in positions(text):
            assert words.get(p // 32, 0) & (1 << (p % 32)), (text, p)
    # the batch doc's bits are absent unless they collide with corpus
    mirror = {}
    for _id, text, _s, _n in docs[:3]:
        for p in positions(text):
            mirror[p // 32] = mirror.get(p // 32, 0) | (1 << (p % 32))
    assert words == mirror


def test_retention_halflife_perfect_halving(spark, tmp_path):
    """A single cohort of 8 users whose weekly actives halve exactly
    (4, 2, 1) fits slope −ln 2 and half-life 1.0 weeks through the
    exact floor pipeline; offsets with zero actives drop from the fit
    (n_points = 3) — both engines agreeing."""
    import math

    from catme_etl_spark.operators.events import events_retention_halflife_fit

    week = 604800

    def ts(w, i):
        return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=w * week + i)

    rows = []
    for u in range(1, 9):  # everyone active in week 0 -> one cohort
        rows.append((u, ts(0, u), "view", 1.0))
    for u in (1, 2, 3, 4):
        rows.append((u, ts(1, u), "view", 1.0))
    for u in (1, 2):
        rows.append((u, ts(2, u), "view", 1.0))
    rows.append((1, ts(3, 1), "view", 1.0))
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(events_retention_halflife_fit(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_retention_halflife_fit")

    # mirror the exact nano-floor pipeline
    pts = [(1, math.log(4 / 8)), (2, math.log(2 / 8)), (3, math.log(1 / 8))]
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sxx = sum(x * x for x, _ in pts)
    sy9 = sum(math.floor(y * 1e9 + 0.5) for _, y in pts)
    sxy9 = sum(math.floor(x * y * 1e9 + 0.5) for x, y in pts)
    slope = (k * (sxy9 / 1e9) - sx * (sy9 / 1e9)) / (k * sxx - sx * sx)
    exp_slope = math.floor(slope * 1e6 + 0.5) / 1e6
    exp_hl = math.floor(math.log(2.0) / (-slope) * 1e4 + 0.5) / 1e4
    assert got == [(3, False, exp_slope, exp_hl)]
    assert exp_hl == 1.0 and abs(exp_slope + math.log(2.0)) < 1e-5


def test_volume_anomaly_known_spike(spark, tmp_path):
    """Weekly counts (10, 12, 8, 13, 7, 50): lower median 10, absolute
    deviations (0, 2, 2, 3, 3, 40) give MAD 2, threshold 3·1.4826·2 ≈
    8.9 — only the 50-event spike flags. A constant-volume second type
    reads MAD 0 and flags nothing."""
    from catme_etl_spark.operators.events import (
        events_volume_anomaly_by_type_week,
    )

    week = 604800
    rows = []
    eid = 1
    for wk, n in enumerate([10, 12, 8, 13, 7, 50]):
        for i in range(n):
            rows.append(
                (
                    eid,
                    1,
                    dt.datetime(1970, 1, 1)
                    + dt.timedelta(seconds=wk * week + i),
                    "view",
                    1.0,
                )
            )
            eid += 1
    for wk in range(4):  # constant type: 5 per week
        for i in range(5):
            rows.append(
                (
                    eid,
                    2,
                    dt.datetime(1970, 1, 1)
                    + dt.timedelta(seconds=wk * week + 100 + i),
                    "click",
                    1.0,
                )
            )
            eid += 1
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    ).coalesce(1).write.parquet(out)

    got = _spark_rows(events_volume_anomaly_by_type_week(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_volume_anomaly_by_type_week")
    by = {r[0]: r for r in got}
    assert by["view"] == ("view", 6, 10, 2, 1)
    assert by["click"] == ("click", 4, 5, 0, 0)


def test_volume_anomaly_threshold_tie_is_integer_exact(spark, tmp_path):
    """The round-8 ADVICE hazard, pinned: with MAD = 5000 the old
    float threshold 3·1.4826·mad = 22239.000...  (an exact integer in
    DECIMAL arithmetic, an off-by-ulps double in Spark/Python), so a
    deviation of EXACTLY 22239 sat on the strict compare's knife edge
    cross-engine. The all-integer form 10000·d > 44478·mad makes the
    tie bit-identical everywhere: d = 22239 must NOT flag, d = 22240
    must. Weekly counts (5000, 10000, 10000, 15000, 32239) give lower
    median 10000, deviations (5000, 0, 0, 5000, 22239), MAD 5000 —
    the 'tie' type; a second type shifts the spike week to 32240."""
    import pandas as pd

    from catme_etl_spark.operators.events import (
        events_volume_anomaly_by_type_week,
    )

    week_us = 604_800
    frames = []
    for etype, spike in (("tie", 32239), ("over", 32240)):
        for wk, n in enumerate([5000, 10000, 10000, 15000, spike]):
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": 1,
                        "ts": pd.to_datetime(
                            [wk * week_us + i for i in range(n)], unit="s"
                        ),
                        "event_type": etype,
                        "value": 1.0,
                    }
                )
            )
    pdf = pd.concat(frames, ignore_index=True)
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(out)

    got = _spark_rows(events_volume_anomaly_by_type_week(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "events_volume_anomaly_by_type_week")
    by = {r[0]: r for r in got}
    assert by["tie"] == ("tie", 5, 10000, 5000, 0)   # 10000*22239 == 44478*5000
    assert by["over"] == ("over", 5, 10000, 5000, 1)
