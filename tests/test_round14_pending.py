"""Crafted-table tests for the round-14 debut queue (live since its
flip; see tests/test_ordering.py). Each op is runnable and
oracle-carrying; these pin the closed-form/boundary semantics the
fixtures never exercise."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

import __spark_entry__ as entry
from tools.check_oracle import _apply_prefix_artifacts


def _oracle(con, name):
    # Registered WITH-prefixes run as temp tables, as in
    # tools/check_oracle.py: DuckDB inlines every reference to a CTE, and
    # pipeline_release_retention's 77 CTEs take it tens of minutes to
    # plan verbatim. The rewrite keeps the oracle's result unchanged.
    sql = _apply_prefix_artifacts(con, entry.oracle_sql()[name], {})
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_emb(spark, tmp_path, vecs):
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(out)
    return out


def _emb_con(tmp_path):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    return con


def _write_docs(spark, tmp_path, docs):
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(out)
    return out


def _write_events(spark, tmp_path, rows):
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(out)
    return out


def _con(view, path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}/*.parquet'")
    return con


def _crafted_corpus():
    """160-vector corpus with 4 stride centroids — the round-13 queue's
    crafted index fixture, reused so the compaction family is tested on
    the same geometry the rebalance family certified."""
    return [
        (
            i,
            [
                math.sin(i * 0.9 + j * 1.1) * (1.0 + (i % 7))
                for j in range(64)
            ],
        )
        for i in range(160)
    ]


def test_compaction_digest_and_conservation(spark, tmp_path):
    """Cross-engine equality on the crafted corpus plus the executor's
    structural promises: live postings are conserved
    (sum n_live == members - deleted), a compacted list's physical
    postings equal its live count, an uncompacted list keeps its
    tombstones, and live_md5 is the md5 of the ascending ','-joined
    live ids (recomputed here in python for one list)."""
    import hashlib

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        DELETE_MOD,
        pipeline_vector_index_compaction,
        pipeline_vector_index_delete_compact,
    )

    _write_emb(spark, tmp_path, _crafted_corpus())
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_compaction(spark, str(tmp_path))
        )
        verd = _spark_rows(
            pipeline_vector_index_delete_compact(spark, str(tmp_path))
        )
        from catme_etl_spark.operators._shared import shared_df

        members = shared_df(
            "ivf_rebalance_members", str(tmp_path), spark, lambda: None
        ).collect()
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "pipeline_vector_index_compaction")

    by_list = {}
    for r in members:
        by_list.setdefault(int(r.list_id), []).append(int(r.vec_id))
    for list_id, n_before, compacted, n_after, n_live, live_md5 in got:
        mem = by_list[list_id]
        live = sorted(v for v in mem if v % DELETE_MOD != 3)
        assert n_before == len(mem)
        assert n_live == len(live)
        assert n_after == (n_live if compacted else n_before)
        if live:
            want = hashlib.md5(
                ",".join(str(v) for v in live).encode()
            ).hexdigest()
            assert live_md5 == want
        else:
            assert live_md5 is None
    # verdict-vs-executor consistency: same lists, same live counts
    vmap = {r[0]: r for r in verd}
    for list_id, n_before, compacted, n_after, n_live, _md5 in got:
        v = vmap[list_id]
        assert v[1] == n_before and v[3] == n_live
        assert v[4] == compacted


def test_compaction_recompute_from_membership(spark, tmp_path):
    """Closed-form recompute on a 7-vector corpus: read the ACTUAL
    post-plant membership off the oracle's mem CTE (the corpus's
    0.75-toward-plant-centroid mix means raw geometry does not decide
    lists — the artifact does), recompute every output column in
    python including the md5 posting digest, and require both engines
    to match it. The fixture makes list 0 compact (3 of its 5 members
    tombstoned) while list 50 keeps its postings; a list can never go
    fully dead because its centroid is structurally live (multiples
    of the 50-stride are never ≡ 3 mod 25), so the LEFT JOIN's NULL
    arm is defensive, not reachable, on any stride corpus."""
    import hashlib

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        DELETE_MOD,
        _MEM_CTES,
        pipeline_vector_index_compaction,
    )

    def vec(sign, i):
        return [sign * (2.0 + 0.01 * ((i + j) % 13)) for j in range(64)]

    vecs = [
        (0, vec(+1, 0)),
        (3, vec(+1, 3)),
        (28, vec(+1, 28)),
        (53, vec(+1, 53)),
        (50, vec(-1, 50)),
        (51, vec(-1, 51)),
        (52, vec(-1, 52)),
    ]
    _write_emb(spark, tmp_path, vecs)
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_compaction(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "pipeline_vector_index_compaction")
    mem = con.execute(
        _MEM_CTES + " SELECT list_id, vec_id FROM mem"
    ).fetchall()
    by_list = {}
    for lid, vid in mem:
        by_list.setdefault(lid, []).append(vid)
    want = []
    for lid, vs in by_list.items():
        live = sorted(v for v in vs if v % DELETE_MOD != 3)
        n, nl = len(vs), len(live)
        comp = 1 if 4 * (n - nl) >= n else 0
        want.append(
            (
                lid, n, comp, nl if comp else n, nl,
                hashlib.md5(
                    ",".join(str(v) for v in live).encode()
                ).hexdigest() if live else None,
            )
        )
    assert got == sorted(want)
    rows = {r[0]: r for r in got}
    assert rows[0][2] == 1 and rows[0][4] == 2  # compacts to {0, 52}
    assert rows[50][2] == 0 and rows[50][5] is not None
    assert all(r[5] is not None for r in got)  # centroid always live


def test_compacted_recall_no_dead_neighbor(spark, tmp_path):
    """Cross-engine equality on the crafted corpus plus the deletion
    contract: the AFTER tier never returns a tombstoned neighbor and
    both tiers keep the honest denominators (n_truth =
    n_queries * min(TOP_K, |candidates|) on this dense fixture)."""
    from catme_etl_spark.operators._shared import (
        clear_shared,
        shared_broadcast,
        shared_matrix_broadcast,
    )
    from catme_etl_spark.operators._ivf import ivfpq_artifacts
    from catme_etl_spark.operators.similarity import (
        DELETE_MOD,
        TOP_K,
        _ivf_compact_gen,
        _rebalance_plan,
        sim_ivf_compacted_recall,
    )
    from catme_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    _write_emb(spark, tmp_path, _crafted_corpus())
    clear_shared()
    try:
        got = _spark_rows(
            sim_ivf_compacted_recall(spark, str(tmp_path))
        )
        # drive the generator directly for the tier-level contract
        emb = load_table(spark, str(tmp_path), "embeddings").select(
            "vec_id", "embedding"
        )
        bc = shared_matrix_broadcast(
            "embeddings_matrix", str(tmp_path), spark, emb
        )
        art = shared_broadcast(
            "ivfpq_artifacts", str(tmp_path), spark,
            lambda: ivfpq_artifacts(bc),
        )
        plan = shared_broadcast(
            "ivf_rebalance_plan", str(tmp_path), spark,
            lambda: _rebalance_plan(art.value),
        )
        panel = (
            emb.withColumn("_pk", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_pk", "vec_id")
            .limit(256)
            .select("vec_id")
        )
        rows = panel.mapInPandas(
            _ivf_compact_gen(art, plan),
            schema="query_id long, neighbor_id long, tier string",
        ).collect()
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "sim_ivf_compacted_recall")
    tiers = {r[0] for r in got}
    assert tiers == {"after", "before"}
    for r in rows:
        if r.tier in ("after", "truth_after"):
            assert r.neighbor_id % DELETE_MOD != 3, r
    for tier, n_queries, n_truth, n_hits, recall in got:
        assert 0 <= n_hits <= n_truth
        assert n_truth <= n_queries * TOP_K
        assert recall == math.floor(n_hits / n_truth * 1e6 + 0.5) / 1e6


def test_lifecycle_report_precedence_and_oracle(spark, tmp_path):
    """Cross-engine equality plus the precedence rule: a list that is
    BOTH split-worthy and compact-worthy reports action 'split' (the
    crafted corpus plants a huge list whose members are mostly
    tombstoned), and every row's action matches its flags."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        pipeline_index_lifecycle_report,
    )

    # centroid A (vec 0): 16 members — 9 live ids + 6 tombstoned ids
    # (≡ 3 mod 25, none ≡ 9 mod 10) + the centroid, so it is BOTH
    # split-worthy (2·16·2 > 3·18) and compact-worthy (4·6 >= 16);
    # centroid B (vec 50): 2 members -> merge-worthy (4·2·2 < 18).
    live_a = [1, 2, 4, 5, 6, 7, 8, 10, 11]
    dead_a = [3, 28, 53, 78, 103, 128]

    def vec(sign, i):
        return [sign * (2.0 + 0.01 * ((i + j) % 13)) for j in range(64)]

    vecs = [(0, vec(+1, 0)), (50, vec(-1, 50)), (51, vec(-1, 51))]
    for i in live_a + dead_a:
        vecs.append((i, vec(+1, i)))
    _write_emb(spark, tmp_path, sorted(vecs))
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_index_lifecycle_report(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "pipeline_index_lifecycle_report")
    for list_id, n_total, n_deleted, do_split, do_merge, do_compact, action in got:
        want = (
            "split"
            if do_split
            else "merge"
            if do_merge
            else "compact"
            if do_compact
            else "none"
        )
        assert action == want
    byid = {r[0]: r for r in got}
    big = byid[0]
    assert big[1] == 16 and big[2] == 6
    assert big[3] == 1 and big[5] == 1 and big[6] == "split"  # both, split wins
    assert byid[50][1] == 2 and byid[50][4] == 1 and byid[50][6] == "merge"


def test_release_retention_cross_pin_and_verdict(spark, tmp_path):
    """The ledger's seq-2 certificate must byte-match
    `pipeline_release_pin`'s (same release, same canonicalization),
    the head is always retained, and the crafted corpus drives the
    seq-1 verdict down the no-drift path (slices removing nothing ->
    identical manifests -> drift 0 -> expired)."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import (
        pipeline_release_pin,
        pipeline_release_retention,
    )

    # doc_ids chosen so no train doc has doc_id % 7 in (3, 5): the
    # three releases are IDENTICAL -> drift 0 everywhere. Every doc
    # gets its own vocabulary (no shared 8-grams -> decon keeps all).
    docs = []
    for k, did in enumerate([1, 2, 7, 8, 9, 14, 15, 16, 21, 22]):
        txt = " ".join(f"d{did}w{j}" for j in range(25))
        docs.append((did, txt, "en", f"s{k % 3}", 1))
    _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_release_retention(spark, str(tmp_path))
        )
        pin = pipeline_release_pin(spark, str(tmp_path)).collect()[0]
    finally:
        clear_shared()
    con = _con("documents", str(tmp_path / "documents.parquet"))
    assert got == _oracle(con, "pipeline_release_retention")
    rows = {r[0]: r for r in got}
    assert set(rows) == {1, 2, 3}
    assert rows[3][7] == 1 and rows[3][8] == "head"
    assert rows[2][7] == 1 and rows[2][8] == "rollback-window"
    # identical releases: drift 0 -> seq 1 expires; md5s all equal
    assert rows[1][6] == 0 and rows[1][7] == 0
    assert rows[1][8] == "expired-no-drift"
    assert rows[1][5] == rows[2][5] == rows[3][5]
    # cross-pin: seq 2 certificate == the pin op's certificate
    assert rows[2][5] == pin.manifest_md5
    assert (rows[2][2], rows[2][3], rows[2][4]) == (
        pin.n_sources, pin.total_final, pin.total_alloc,
    )


def test_session_funnel_order_sensitivity(spark, tmp_path):
    """Hand-computed funnel: session A completes view->click->purchase
    in order; session B has purchase BEFORE its view (no conversion);
    session C views only. Conversion ppm = 1e6 * 1 // 2 for the
    two-view day, and the purchase-first session never counts."""
    from catme_etl_spark.operators.events import events_session_funnel

    t0 = dt.datetime(2024, 1, 5, 12, 0, 0)

    def at(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        # user 1, one session: view -> click -> purchase (converts)
        (1, at(0), 1, "view", 1.0, "{}"),
        (2, at(5), 1, "click", 1.0, "{}"),
        (3, at(10), 1, "purchase", 1.0, "{}"),
        # user 2, one session: purchase then view then click (no conv)
        (4, at(0), 2, "purchase", 1.0, "{}"),
        (5, at(5), 2, "view", 1.0, "{}"),
        (6, at(10), 2, "click", 1.0, "{}"),
        # user 3: view only
        (7, at(0), 3, "view", 1.0, "{}"),
        # user 1, a SECOND session next day: click only (no view)
        (8, at(60 * 26), 1, "click", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = _spark_rows(events_session_funnel(spark, str(tmp_path)))
    con = _con("events", str(tmp_path / "events.parquet"))
    assert got == _oracle(con, "events_session_funnel")
    by_day = {r[0]: r for r in got}
    assert len(by_day) == 2
    d0 = sorted(by_day)[0]
    day0 = by_day[d0]
    # 3 sessions on day 0: n_view=3, view->click: users 1 and 2
    # (user 2's click IS after its view), full funnel: user 1 only
    assert day0[1:] == (3, 3, 2, 1, 1000000 * 1 // 3)
    day1 = by_day[sorted(by_day)[1]]
    assert day1[1:] == (1, 0, 0, 0, None)


def test_user_lifecycle_stages(spark, tmp_path):
    """Crafted activity: day 0 new, day 3 retained (gap 3 <= 7),
    day 20 resurrected (gap 17 > 7); a second user new on day 20.
    n_active == n_new + n_retained + n_resurrected pinned on every
    row."""
    from catme_etl_spark.operators.windows import window_user_lifecycle

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def on_day(d, hour=1):
        return base + dt.timedelta(days=d, hours=hour)

    rows = [
        (1, on_day(0), 10, "view", 1.0, "{}"),
        (2, on_day(0, 5), 10, "click", 1.0, "{}"),  # same day, one active
        (3, on_day(3), 10, "view", 1.0, "{}"),
        (4, on_day(20), 10, "view", 1.0, "{}"),
        (5, on_day(20), 11, "view", 1.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = _spark_rows(window_user_lifecycle(spark, str(tmp_path)))
    con = _con("events", str(tmp_path / "events.parquet"))
    assert got == _oracle(con, "window_user_lifecycle")
    for day_idx, n_active, n_new, n_ret, n_res in got:
        assert n_active == n_new + n_ret + n_res
    days = sorted(r[0] for r in got)
    byd = {r[0]: r for r in got}
    d0, d3, d20 = days
    assert byd[d0][1:] == (1, 1, 0, 0)
    assert byd[d3][1:] == (1, 0, 1, 0)
    assert byd[d20][1:] == (2, 1, 0, 1)


def test_trimmed_mean_hand_computed(spark, tmp_path):
    """21 orders in one priority: values 1..20 dollars plus one
    1000-dollar outlier. k = floor(21*5/100) = 1 -> trim drops the
    1-dollar and 1000-dollar rows; winsorize clamps them to 2 and 20.
    Hand-computed means pinned on both engines."""
    from catme_etl_spark.operators.stats import agg_trimmed_mean

    out = str(tmp_path / "orders.parquet")
    vals = [float(v) for v in range(1, 21)] + [1000.0]
    spark.createDataFrame(
        [(i + 1, "1-URGENT", v) for i, v in enumerate(vals)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(agg_trimmed_mean(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "agg_trimmed_mean")
    (pri, n, k, tmean, wmean) = got[0]
    assert (pri, n, k) == ("1-URGENT", 21, 1)
    kept = list(range(2, 21))  # dollars 2..20
    assert tmean == round(sum(kept) / len(kept), 4)
    wins = kept + [2, 20]
    assert wmean == math.floor(sum(wins) / 21 * 10000 + 0.5) / 10000


def test_importance_reweight_uniform_target(spark, tmp_path):
    """Two sources 30:10 docs. Weights: w_a = 1e6*40/(2*30) = 666666,
    w_b = 1e6*40/(2*10) = 2000000; effective docs ~= 20 each; ESS
    ratio = (sum n w)^2 / (N * sum n w^2), hand-computed."""
    from catme_etl_spark.operators.sampling import sample_importance_reweight

    docs = [
        (i, f"text {i}", "en", "a" if i < 30 else "b", 1)
        for i in range(40)
    ]
    _write_docs(spark, tmp_path, docs)
    got = _spark_rows(sample_importance_reweight(spark, str(tmp_path)))
    con = _con("documents", str(tmp_path / "documents.parquet"))
    assert got == _oracle(con, "sample_importance_reweight")
    rows = {r[0]: r for r in got}
    wa, wb = 1000000 * 40 // (2 * 30), 1000000 * 40 // (2 * 10)
    assert rows["a"][1:5] == (30, 750000, wa, 30 * wa // 1000000)
    assert rows["b"][1:5] == (10, 250000, wb, 10 * wb // 1000000)
    sw = 30 * wa + 10 * wb
    sww = 30 * wa * wa + 10 * wb * wb
    ess = math.floor(sw * sw / 40 / sww * 10000 + 0.5) / 10000
    assert rows["a"][5] == rows["b"][5] == ess


def test_ingest_novelty_closed_form(spark, tmp_path):
    """Crafted slices: doc 3 (new slice) repeats base doc 1's text ->
    novelty 0; doc 10 (new, source fresh) is all-new -> novelty 1e6;
    doc 17 (new) is 4 tokens < K=8 -> 0 grams -> NULL ppm."""
    from catme_etl_spark.operators.text import text_ingest_novelty

    base_txt = " ".join(f"w{j}" for j in range(30))
    new_txt = " ".join(f"z{j}" for j in range(30))
    docs = [
        (1, base_txt, "en", "s1", 1),       # base (1 % 7 != 3)
        (2, new_txt.replace("z", "y"), "en", "s2", 1),  # base
        (3, base_txt, "en", "s1", 1),       # new slice, pure repeat
        (10, new_txt, "en", "s2", 1),       # new slice, all novel
        (17, "a b c d", "en", "s3", 1),     # new slice, too short
    ]
    _write_docs(spark, tmp_path, docs)
    got = _spark_rows(text_ingest_novelty(spark, str(tmp_path)))
    con = _con("documents", str(tmp_path / "documents.parquet"))
    assert got == _oracle(con, "text_ingest_novelty")
    rows = {r[0]: r for r in got}
    assert rows["s1"][3] == 0 and rows["s1"][4] == 0
    assert rows["s2"][2] == rows["s2"][3] == 23  # 30 - 8 + 1
    assert rows["s2"][4] == 1000000
    assert rows["s3"][2] == 0 and rows["s3"][4] is None


def test_hw_backtest_constant_series_zero_error(spark, tmp_path):
    """A constant daily series is a fixed point of the dyadic HW
    recursion (l = c, b = 0, s = 0 throughout), so every origin
    forecasts exactly and all errors are zero; guard fires at < 3
    days on BOTH engines."""
    from catme_etl_spark.operators.timeseries import ts_forecast_backtest_hw

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for d in range(12):
        for k in range(5):  # constant 5 events/day
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=d, minutes=k), 1,
                 "view", 1.0, "{}")
            )
    _write_events(spark, tmp_path, rows)
    got = _spark_rows(ts_forecast_backtest_hw(spark, str(tmp_path)))
    con = _con("events", str(tmp_path / "events.parquet"))
    assert got == _oracle(con, "ts_forecast_backtest_hw")
    assert len(got) == 7
    for (_o, _t, gap, f, actual, err, abs_err) in got:
        assert gap == 1 and f == actual == 5
        assert err == abs_err == 0

    # degenerate: 2 observed days -> loud raise on both engines
    rows2 = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(days=1), 1, "view", 1.0, "{}"),
    ]
    p2 = tmp_path / "two"
    p2.mkdir()
    _write_events(spark, p2, rows2)
    with pytest.raises(Exception, match="holt-winters backtest undefined"):
        ts_forecast_backtest_hw(spark, str(p2)).collect()
    con2 = _con("events", str(p2 / "events.parquet"))
    with pytest.raises(duckdb.Error, match="holt-winters backtest undefined"):
        _oracle(con2, "ts_forecast_backtest_hw")


def test_hw_backtest_weekly_cycle_beats_holt(spark, tmp_path):
    """On a long pure weekly cycle the seasonal backtest's total
    abs_err must undercut the Holt backtest's at the same origins —
    the out-of-sample value of the seasonal state."""
    from catme_etl_spark.operators.timeseries import (
        ts_forecast_backtest_holt,
        ts_forecast_backtest_hw,
    )

    base = dt.datetime(2024, 3, 4, 0, 0, 0)
    cycle = [40, 40, 40, 40, 40, 8, 8]  # weekday/weekend
    rows = []
    eid = 0
    for d in range(8 * 7):  # 8 full weeks
        n = cycle[(base + dt.timedelta(days=d)).weekday()]
        for k in range(n):
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=d, minutes=k), 1,
                 "view", 1.0, "{}")
            )
    _write_events(spark, tmp_path, rows)
    hw = _spark_rows(ts_forecast_backtest_hw(spark, str(tmp_path)))
    holt = _spark_rows(ts_forecast_backtest_holt(spark, str(tmp_path)))
    con = _con("events", str(tmp_path / "events.parquet"))
    assert hw == _oracle(con, "ts_forecast_backtest_hw")
    hw_err = sum(r[6] for r in hw)
    holt_err = sum(r[6] for r in holt)
    assert hw_err < holt_err


def test_dedup_source_bias_flag_fires(spark, tmp_path):
    """A source whose every train doc is an eval copy (100% decon
    drop) must flag against sources with 0% drop; rates and the
    global baseline hand-checked. Identity: per-source raw counts
    match the release manifest's."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import quality_dedup_source_bias

    eval_txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # 25 distinct tokens: inside the passing window [20, 80] so the
    # manifest's total_passing guard never fires on the clean source
    clean = [
        " ".join(f"c{k}w{j}" for j in range(25)) for k in range(6)
    ]
    # bucket assignment (hash_bucket) decides train/eval; craft
    # enough docs that both splits are populated, with source 'bad'
    # duplicating the eval text verbatim.
    docs = []
    did = 0
    for k in range(6):
        did += 1
        docs.append((did * 3, clean[k], "en", "good", 1))
    for k in range(4):
        did += 1
        docs.append((did * 3 + 1, eval_txt, "en", "bad", 1))
    # a guaranteed-eval doc carrying the eval text (high bucket will
    # exist among the 30 ids statistically; rely on oracle equality
    # rather than forcing split membership)
    _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(quality_dedup_source_bias(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", str(tmp_path / "documents.parquet"))
    assert got == _oracle(con, "quality_dedup_source_bias")
    for r in got:
        assert 0 <= r[2] <= 1000000 and 0 <= r[3] <= 1000000
        assert r[6] in (0, 1)


def test_stream_compaction_scheduler_rank(spark, tmp_path):
    """Cross-engine equality on the crafted corpus plus the queue
    contract: ranks are dense 1..n over exactly the do_compact rows,
    ordered by reclaimable postings desc then list id; unflagged
    lists have NULL rank."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.streaming.jobs import stream_compaction_scheduler

    _write_emb(spark, tmp_path, _crafted_corpus())
    clear_shared()
    try:
        got = _spark_rows(stream_compaction_scheduler(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "stream_compaction_scheduler")
    flagged = [r for r in got if r[3] == 1]
    ranks = sorted(r[4] for r in flagged)
    assert ranks == list(range(1, len(flagged) + 1))
    order = sorted(flagged, key=lambda r: (-r[2], r[0]))
    assert [r[4] for r in order] == list(range(1, len(flagged) + 1))
    for r in got:
        if r[3] == 0:
            assert r[4] is None
        assert 4 * r[2] >= r[1] if r[3] else 4 * r[2] < r[1]


def test_stream_compaction_scheduler_skips_memberless_list(spark, tmp_path):
    """Round-13 advisor finding: a coarse centroid whose inverted list
    has NO existing members must not occupy a queue_rank slot — the
    old all-cids universe fabricated (n_existing=0, do_compact=1,
    rank) rows the oracle's exc CTE omits, shifting every later rank.
    Fixture: 120 vectors (nc=16), ids 0 and 100 share md5 cluster 5
    and get IDENTICAL raw vectors, so after the 0.25/0.75 plant both
    coarse centroids quantize to the same int8 point — every
    assignment ties and argmin's first-tie rule sends all members to
    list 0, leaving list 100 member-empty."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.streaming.jobs import stream_compaction_scheduler

    vecs = [
        (
            i,
            [
                math.sin(i * 0.9 + j * 1.1) * (1.0 + (i % 7))
                for j in range(64)
            ],
        )
        for i in range(120)
    ]
    vecs[100] = (100, vecs[0][1])
    _write_emb(spark, tmp_path, vecs)
    clear_shared()
    try:
        got = _spark_rows(stream_compaction_scheduler(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "stream_compaction_scheduler")
    lists = [r[0] for r in got]
    assert 0 in lists and 100 not in lists
    flagged = [r for r in got if r[3] == 1]
    assert sorted(r[4] for r in flagged) == list(range(1, len(flagged) + 1))


def test_importance_reweight_extreme_skew_wide_sww(spark, tmp_path):
    """Round-13 advisor finding: a 1-doc source in a 7001-doc corpus
    gets weight_ppm = 3_500_500_000, whose square (1.2e19) overflows
    int64 — the old SUM wrapped silently in Spark while DuckDB raised.
    The DECIMAL(38,0)/HUGEINT path keeps both engines exact; the ESS
    ratio is hand-computed from exact integers."""
    from catme_etl_spark.operators.sampling import sample_importance_reweight

    docs = [(0, "solo", "en", "a", 1)] + [
        (i, f"text {i}", "en", "b", 1) for i in range(1, 7001)
    ]
    _write_docs(spark, tmp_path, docs)
    got = _spark_rows(sample_importance_reweight(spark, str(tmp_path)))
    con = _con("documents", str(tmp_path / "documents.parquet"))
    assert got == _oracle(con, "sample_importance_reweight")
    rows = {r[0]: r for r in got}
    n = 7001
    wa = 1000000 * n // (2 * 1)
    wb = 1000000 * n // (2 * 7000)
    assert rows["a"][3] == wa == 3_500_500_000
    assert rows["b"][3] == wb
    sw = 1 * wa + 7000 * wb
    sww = 1 * wa * wa + 7000 * wb * wb  # exact int, > int64 max
    assert sww > 2**63 - 1
    ess = math.floor(float(sw) * sw / n / float(sww) * 10000 + 0.5) / 10000
    assert rows["a"][5] == rows["b"][5] == ess


def test_hw_backtest_null_ts_dropped_both_engines(spark, tmp_path):
    """Round-13 advisor finding: NULL-ts rows must not mint a NULL-day
    observation — the old oracle counted one toward the <3-days guard
    and gave it a ROW_NUMBER slot while the pandas side dropna()d it.
    5 real days + 3 NULL-ts rows agree cross-engine; 2 real days + 2
    NULL-ts rows raise the guard LOUDLY on both engines."""
    from catme_etl_spark.operators.timeseries import ts_forecast_backtest_hw

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for d in range(5):
        for k in range(3 + d):
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=d, minutes=k), 1,
                 "view", 1.0, "{}")
            )
    for _ in range(3):
        eid += 1
        rows.append((eid, None, 1, "view", 1.0, "{}"))
    _write_events(spark, tmp_path, rows)
    got = _spark_rows(ts_forecast_backtest_hw(spark, str(tmp_path)))
    con = _con("events", str(tmp_path / "events.parquet"))
    assert got == _oracle(con, "ts_forecast_backtest_hw")
    assert len(got) == 3  # origins 2..4 of 5 observed days
    assert all(r[0] is not None for r in got)

    rows2 = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(days=1), 1, "view", 1.0, "{}"),
        (3, None, 1, "view", 1.0, "{}"),
        (4, None, 1, "view", 1.0, "{}"),
    ]
    p2 = tmp_path / "two"
    p2.mkdir()
    _write_events(spark, p2, rows2)
    with pytest.raises(Exception, match="holt-winters backtest undefined"):
        ts_forecast_backtest_hw(spark, str(p2)).collect()
    con2 = _con("events", str(p2 / "events.parquet"))
    with pytest.raises(duckdb.Error, match="holt-winters backtest undefined"):
        _oracle(con2, "ts_forecast_backtest_hw")
