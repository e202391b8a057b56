"""Crafted-table invariants for the second round-7 pending batch
(round-8 debuts), pinned cross-engine: Kaplan-Meier censoring
arithmetic on a hand-computed curve, the jackknife's exact-integer
variance algebra against a numpy mirror, PMI min-support exclusion,
padding-waste batching on a known interleave, association lift on a
4-user basket grid, and cross-source duplicate attribution in the
dedup impact report."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb

import __spark_entry__ as entry


def _oracle(con, name):
    sql = entry.oracle_sql()[name]
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _con(tmp_path, **tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet/*.parquet'"
        )
    return con


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / f"{name}.parquet")
    )


def test_kaplan_meier_hand_curve(spark, tmp_path):
    """5 users, horizon = last 7 days of a 20-day timeline: deaths at
    t=0,1,2 and censorings at t=0 (the timeline-end user) and t=15
    produce the hand-multiplied curve 0.8, 0.5333, 0.2667, 0.2667 —
    censored users leave the risk set WITHOUT a survival step."""
    from catme_etl_spark.operators.stats import stats_kaplan_meier_churn

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, days):
        return (i, t0 + dt.timedelta(days=days), user, "view", 1.0, "{}")

    rows = [
        ev(1, 1, 0), ev(2, 1, 1),          # u1: lifetime 1d, died
        ev(3, 2, 0), ev(4, 2, 2),          # u2: lifetime 2d, died
        ev(5, 3, 0), ev(6, 3, 15),         # u3: 15d, last > day13 → censored
        ev(7, 4, 1),                        # u4: 0d, died
        ev(8, 9, 20),                       # u9: 0d at timeline end → censored
    ]
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = _spark_rows(stats_kaplan_meier_churn(spark, str(tmp_path)))
    con = _con(tmp_path, events=True)
    assert got == _oracle(con, "stats_kaplan_meier_churn")
    assert got == [
        (0, 5, 1, 1, 0.8),
        (1, 3, 1, 0, 0.5333),
        (2, 2, 1, 0, 0.2667),
        (15, 1, 0, 1, 0.2667),
    ]


def test_jackknife_matches_numpy_mirror(spark, tmp_path):
    """The exact-int64 variance algebra (B−1)(B·Σr²−(Σr)²)/B² equals a
    straightforward numpy delete-one jackknife on the same grid."""
    from catme_etl_spark.operators.stats import agg_jackknife_mean_se

    rows = [(i, float(100 + 7 * i) + 0.25) for i in range(1, 41)]
    _write(spark, tmp_path, "orders", rows, "o_orderkey long, o_totalprice double")

    got = _spark_rows(agg_jackknife_mean_se(spark, str(tmp_path)))
    con = _con(tmp_path, orders=True)
    assert got == _oracle(con, "agg_jackknife_mean_se")

    # python mirror: same buckets, same tenth-of-a-cent replicate grid
    def bkt(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:14], 16) % 10

    per = {}
    for k, p in rows:
        c = round(p * 100)
        s, n = per.get(bkt(k), (0, 0))
        per[bkt(k)] = (s + c, n + 1)
    S = sum(s for s, _ in per.values())
    N = sum(n for _, n in per.values())
    B = len(per)
    r = [((S - s) * 10) // (N - n) for s, n in per.values()]
    sr, ssq = sum(r), sum(x * x for x in r)
    se = math.sqrt((B - 1) * (B * ssq - sr * sr)) / B / 10 / 100
    (n_orders, mean_total, jk_se, lo, hi) = got[0]
    assert n_orders == N
    assert mean_total == math.floor(S / N / 100 * 10000 + 0.5) / 10000
    assert jk_se == math.floor(se * 10000 + 0.5) / 10000
    assert lo <= mean_total <= hi


def test_pmi_min_support_and_value(spark, tmp_path):
    """A 6× bigram survives the min-support of 5 with pmi =
    ln(n_xy·N/(n_x·n_y)); a 4× bigram is excluded."""
    from catme_etl_spark.operators.text import text_pmi_collocations

    docs = [(i, "a b", "en", "s", 3) for i in range(6)] + [
        (10 + i, "c d", "en", "s", 3) for i in range(4)
    ]
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(text_pmi_collocations(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "text_pmi_collocations")
    assert len(got) == 1  # "c d" (4 < 5) excluded
    (prev, t, n_xy, n_x, n_y, pmi) = got[0]
    assert (prev, t, n_xy, n_x, n_y) == ("a", "b", 6, 6, 6)
    assert pmi == math.floor(math.log(6 * 10 / 36) * 10000 + 0.5) / 10000


def test_padding_waste_interleaved(spark, tmp_path):
    """Alternating long/short docs: arrival-order batches mix lengths
    (waste 144 per batch of 32), length-sorted batches are uniform
    (waste 0) → saving 10000 bp; a single partial batch saves 0."""
    from catme_etl_spark.operators.sampling import pack_padding_waste_audit

    docs = []
    for i in range(64):  # X: even ids 10 tokens, odd ids 1 token
        n = 10 if i % 2 == 0 else 1
        docs.append((i, " ".join(["w"] * n), "en", "X", n))
    for j, n in enumerate([5, 4, 3, 2, 1]):  # Y: one partial batch
        docs.append((100 + j, " ".join(["w"] * n), "en", "Y", n))
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(pack_padding_waste_audit(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "pack_padding_waste_audit")
    by = {r[0]: r for r in got}
    assert by["X"] == ("X", 64, 352, 0, 288, 10000)
    assert by["Y"] == ("Y", 5, 15, 10, 10, 0)


def test_assoc_lift_basket_grid(spark, tmp_path):
    """4 users: {A,B},{A},{B},{A,B} → n_A=n_B=3, n_AB=2, support
    5000 bp, both confidences 6666 bp, lift = 2·4/9 = 0.8889."""
    from catme_etl_spark.operators.events import events_assoc_lift

    t0 = dt.datetime(2024, 1, 1)
    rows, i = [], 0
    for user, types in [(1, "AB"), (2, "A"), (3, "B"), (4, "AB")]:
        for ch in types:
            ty = "click" if ch == "A" else "view"
            # duplicate events: the distinct must collapse them
            for _ in range(2):
                i += 1
                rows.append((i, t0 + dt.timedelta(minutes=i), user, ty, 1.0, "{}"))
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = _spark_rows(events_assoc_lift(spark, str(tmp_path)))
    con = _con(tmp_path, events=True)
    assert got == _oracle(con, "events_assoc_lift")
    assert got == [("click", "view", 3, 3, 2, 5000, 6666, 6666, 0.8889)]


def test_dedup_impact_cross_source_attribution(spark, tmp_path):
    """A duplicate group spanning sources keeps the global min doc_id
    and charges the removal to the REMOVED doc's own source."""
    from catme_etl_spark.operators.dedup import pipeline_dedup_impact_report

    docs = [
        (1, "same same text", "en", "S1", 14),   # keeper (min doc_id)
        (2, "same same text", "en", "S1", 14),   # removed → S1
        (3, "unique one", "en", "S1", 10),
        (4, "same same text", "en", "S2", 14),   # removed → S2
        (5, "unique two", "en", "S2", 10),
    ]
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(pipeline_dedup_impact_report(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "pipeline_dedup_impact_report")
    by = {r[0]: r for r in got}
    # S1: 3 docs, 3+3+2=8 tokens, 1 removed (3 tokens)
    assert by["S1"] == ("S1", 3, 8, 1, 3, 3333, 3750)
    # S2: 2 docs, 3+2=5 tokens, 1 removed (3 tokens)
    assert by["S2"] == ("S2", 2, 5, 1, 3, 5000, 6000)


def test_referential_integrity_orphans(spark, tmp_path):
    """Crafted orphans: one lineitem row points at a missing order,
    one customer at a missing nation — each edge reports its own
    orphan keys/rows; clean edges report zeros."""
    from catme_etl_spark.operators.quality import (
        quality_referential_integrity_audit,
    )

    _write(spark, tmp_path, "orders", [(1, 101), (2, 102)],
           "o_orderkey long, o_custkey long")
    _write(spark, tmp_path, "lineitem",
           [(1, 11, 21), (1, 12, 21), (99, 11, 22)],  # orderkey 99 orphan
           "l_orderkey long, l_partkey long, l_suppkey long")
    _write(spark, tmp_path, "part", [(11,), (12,)], "p_partkey long")
    _write(spark, tmp_path, "supplier", [(21, 1), (22, 1)],
           "s_suppkey long, s_nationkey long")
    _write(spark, tmp_path, "customer", [(101, 1), (102, 7)],  # nation 7 missing
           "c_custkey long, c_nationkey long")
    _write(spark, tmp_path, "nation", [(1,)], "n_nationkey long")

    got = _spark_rows(quality_referential_integrity_audit(spark, str(tmp_path)))
    con = _con(tmp_path, orders=True, lineitem=True, part=True,
               supplier=True, customer=True, nation=True)
    assert got == _oracle(con, "quality_referential_integrity_audit")
    by = {r[0]: r for r in got}
    assert by["lineitem.l_orderkey->orders"] == (
        "lineitem.l_orderkey->orders", 3, 2, 1, 1, 3333)
    assert by["customer.c_nationkey->nation"] == (
        "customer.c_nationkey->nation", 2, 2, 1, 1, 5000)
    assert by["lineitem.l_partkey->part"][3:] == (0, 0, 0)
    assert by["supplier.s_nationkey->nation"][3:] == (0, 0, 0)


def test_length_percentiles_disc_picks(spark, tmp_path):
    """Discrete ceilings on a known ladder: 10 docs of lengths 1..10
    → p10 = value at row 1, p50 at row 5, p90 at row 9; a 1-doc lang
    reports the same doc everywhere."""
    from catme_etl_spark.operators.text import text_length_percentiles_by_lang

    docs = [(i, " ".join(["w"] * i), "en", "s", i) for i in range(1, 11)]
    docs.append((100, "w w w", "de", "s", 3))
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(text_length_percentiles_by_lang(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "text_length_percentiles_by_lang")
    by = {r[0]: r for r in got}
    assert by["en"] == ("en", 10, 1, 5, 9, 10)
    assert by["de"] == ("de", 1, 3, 3, 3, 3)


def test_nprobe_curve_cross_list_miss(spark, tmp_path):
    """Two stride centroids (vec 0 and vec 50): vec 1's true nearest
    neighbor 51 lives in the OTHER inverted list, so nprobe=1 must
    miss it and nprobe=2 must reach full recall — the monotone trade
    the curve certifies."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import sim_ivf_nprobe_curve

    # 8 vectors so every query has >= TOP_K real neighbors (the brute
    # baseline emits k rows per query by construction)
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # centroid A
        (1, [0.9, 0.44, 0.0, 0.0]),    # A's list; true NNs include 51/52
        (2, [0.95, 0.1, 0.0, 0.0]),    # A's list
        (3, [1.0, -0.9, 0.0, 0.0]),    # A's list, far from everyone
        (4, [0.7, -0.7, 0.0, 0.0]),    # A's list, far from everyone
        (50, [0.0, 1.0, 0.0, 0.0]),    # centroid B
        (51, [0.6, 0.8, 0.0, 0.0]),    # B's list, close to vec 1
        (52, [0.1, 0.99, 0.0, 0.0]),   # B's list
    ]
    _write(spark, tmp_path, "embeddings", vecs,
           "vec_id long, embedding array<float>")
    clear_shared()
    got = sorted(tuple(r) for r in sim_ivf_nprobe_curve(spark, str(tmp_path)).collect())
    clear_shared()
    con = _con(tmp_path, embeddings=True)
    assert got == _oracle(con, "sim_ivf_nprobe_curve")
    by = {r[0]: r for r in got}
    assert by[1][2] == 40  # 8 queries x top-5 truth rows
    assert by[2][4] == 1.0 and by[4][4] == 1.0  # both lists probed -> exact
    assert by[1][4] < by[2][4]  # the cross-list miss at nprobe=1


def test_pii_scan_counts_and_share(spark, tmp_path):
    """Known emails/phones per source: match counts, per-doc booleans,
    and the any-PII share pin identically on both engines."""
    from catme_etl_spark.operators.quality import quality_pii_scan

    docs = [
        (1, "contact bob@example.com now", "en", "A", 27),
        (2, "call 555-123-4567 or 555.987.6543", "en", "A", 33),
        (3, "clean text here", "en", "A", 15),
        (4, "x@y.io and 111-222-3333 both", "en", "A", 28),
        (5, "nothing to see", "en", "B", 14),
        (6, "still nothing", "en", "B", 13),
    ]
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(quality_pii_scan(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "quality_pii_scan")
    by = {r[0]: r for r in got}
    assert by["A"] == ("A", 4, 2, 3, 2, 2, 7500)
    assert by["B"] == ("B", 2, 0, 0, 0, 0, 0)


def test_bot_signature_metronome_burst_human(spark, tmp_path):
    """Three behavior profiles: a metronomic user (6 identical 10s
    gaps → run 6), a bursty user (4 of 6 gaps sub-second → 6666 bp),
    and a human profile (varied slow gaps) — flags 1, 1, 0; a user
    under 5 gaps is excluded."""
    from catme_etl_spark.operators.events import events_bot_signature_scan

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0

    def emit(user, offsets_s):
        nonlocal eid
        for off in offsets_s:
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(seconds=off), user, "click", 1.0, "{}")
            )

    emit(1, [0, 10, 20, 30, 40, 50, 60])                    # metronome
    emit(2, [0, 0.5, 0.9, 1.2, 1.7, 21.7, 51.7])            # burst
    emit(3, [0, 7, 20, 65, 185, 218])                        # human
    emit(4, [0, 5, 11])                                      # too few gaps
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = _spark_rows(events_bot_signature_scan(spark, str(tmp_path)))
    con = _con(tmp_path, events=True)
    assert got == _oracle(con, "events_bot_signature_scan")
    assert got == [
        (1, 7, 6, 0, 6, 1),
        (2, 7, 6, 6666, 2, 1),
        (3, 6, 5, 0, 1, 0),
    ]


def test_dimension_profile_hand_moments(spark, tmp_path):
    """Two dims, three vectors: per-dim mean/std_pop/min/max equal the
    hand-computed moments after the shared ROUND(5)+0.0 pin."""
    from catme_etl_spark.operators.similarity import emb_dimension_profile

    vecs = [
        (1, [1.0, 0.0], 0),
        (2, [3.0, 0.0], 0),
        (3, [5.0, 4.0], 1),
    ]
    _write(spark, tmp_path, "embeddings", vecs,
           "vec_id long, embedding array<float>, label int")
    got = _spark_rows(emb_dimension_profile(spark, str(tmp_path)))
    con = _con(tmp_path, embeddings=True)
    assert got == _oracle(con, "emb_dimension_profile")
    import math as m

    assert got == [
        (1, 3.0, round(m.sqrt(8 / 3), 5), 1.0, 5.0),
        (2, round(4 / 3, 5), round(m.sqrt(96 / 27), 5), 0.0, 4.0),
    ]


def test_centroid_distance_matrix_two_labels(spark, tmp_path):
    """Label 0 centroid (2,0) vs label 1 centroid (0,4): L2 = sqrt(20),
    cosine = 0 — orthogonal clusters report zero similarity."""
    from catme_etl_spark.operators.similarity import sim_centroid_distance_matrix

    vecs = [
        (1, [1.0, 0.0], 0),
        (2, [3.0, 0.0], 0),
        (3, [0.0, 4.0], 1),
    ]
    _write(spark, tmp_path, "embeddings", vecs,
           "vec_id long, embedding array<float>, label int")
    got = _spark_rows(sim_centroid_distance_matrix(spark, str(tmp_path)))
    con = _con(tmp_path, embeddings=True)
    assert got == _oracle(con, "sim_centroid_distance_matrix")
    import math as m

    assert got == [(0, 1, round(m.sqrt(20), 4), 0.0)]


def test_vocab_overlap_known_jaccard(spark, tmp_path):
    """Vocab {a,b,c} vs {b,c,d}: intersection 2, union 4 → 0.5; a
    repeated token within a source must not inflate its vocab."""
    from catme_etl_spark.operators.text import text_vocab_overlap_sources

    docs = [
        (1, "a b c", "en", "A", 5),
        (2, "c c c", "en", "A", 5),   # repeats: vocab stays {a,b,c}
        (3, "b c d", "en", "B", 5),
    ]
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = _spark_rows(text_vocab_overlap_sources(spark, str(tmp_path)))
    con = _con(tmp_path, documents=True)
    assert got == _oracle(con, "text_vocab_overlap_sources")
    assert got == [("A", "B", 2, 0.5)]
