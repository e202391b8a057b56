"""Crafted-table tests for the round-13 debut queue (live since its
flip; see tests/test_ordering.py). Each op is runnable and
oracle-carrying; these pin the closed-form/boundary semantics the
fixtures never exercise."""

from __future__ import annotations

import datetime as dt
import math

import duckdb

import __spark_entry__ as entry
from tools.check_oracle import _apply_prefix_artifacts


def _oracle(con, name):
    # Registered WITH-prefixes run as temp tables, as in
    # tools/check_oracle.py; the rewrite keeps the oracle's result.
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


def test_rebalance_conservation_and_oracle(spark, tmp_path):
    """Cross-engine equality on a crafted 160-vector corpus (4 stride
    centroids) plus the structural invariants the executor promises:
    members are CONSERVED (sum n_after == sum n_before), merged lists
    end empty, split children start empty and are non-empty after (the
    seed itself always moves: d(seed, seed) = 0 < d(seed, parent))."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        pipeline_vector_index_rebalance,
    )

    vecs = []
    for i in range(160):
        vecs.append(
            (
                i,
                [
                    math.sin(i * 0.9 + j * 1.1) * (1.0 + (i % 7))
                    for j in range(64)
                ],
            )
        )
    _write_emb(spark, tmp_path, vecs)
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_rebalance(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "pipeline_vector_index_rebalance")

    actions = {r[3] for r in got}
    assert actions <= {"kept", "split_parent", "split_child", "merged_away"}
    assert sum(r[1] for r in got) == sum(r[2] for r in got)
    for list_id, n_before, n_after, action in got:
        if action == "merged_away":
            assert n_after == 0 and n_before > 0
        if action == "split_child":
            assert n_before == 0 and n_after >= 1
    # list_ids unique across parents + children
    ids = [r[0] for r in got]
    assert len(ids) == len(set(ids))


def test_rebalance_real_fixture_actions(spark):
    """On the real sf0.001 fixture the planted clusters force actual
    work: at least one split fires (the round-11 maintenance op
    measured skewed lists at every fixture SF) and the verdict rows
    stay consistent with the maintenance thresholds."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        pipeline_vector_index_rebalance,
    )

    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_rebalance(spark, "/root/testdata/sf0.001")
        )
    finally:
        clear_shared()
    assert sum(r[1] for r in got) == sum(r[2] for r in got)
    assert any(r[3] == "split_parent" for r in got)
    parents = [r for r in got if r[3] == "split_parent"]
    children = [r for r in got if r[3] == "split_child"]
    assert len(parents) == len(children)


def test_rebalanced_recall_oracle_and_plan_consistency(spark, tmp_path):
    """Cross-engine equality on the crafted corpus, plus the
    plan-vs-executor consistency check: `_rebalance_plan`'s moved
    membership reproduces the executor's per-list n_after exactly
    (the audit and the action must describe the same index)."""
    import numpy as np

    from catme_etl_spark.operators._shared import (
        clear_shared,
        shared_broadcast,
        shared_matrix_broadcast,
    )
    from catme_etl_spark.operators.similarity import (
        _ivfpq_artifacts,
        _rebalance_plan,
        pipeline_vector_index_rebalance,
        sim_ivf_rebalanced_recall,
    )
    from catme_etl_spark.sources.tables import load_table

    vecs = []
    for i in range(160):
        vecs.append(
            (
                i,
                [
                    math.sin(i * 0.9 + j * 1.1) * (1.0 + (i % 7))
                    for j in range(64)
                ],
            )
        )
    _write_emb(spark, tmp_path, vecs)
    clear_shared()
    try:
        got = _spark_rows(sim_ivf_rebalanced_recall(spark, str(tmp_path)))
        reb = _spark_rows(
            pipeline_vector_index_rebalance(spark, str(tmp_path))
        )
        emb = load_table(spark, str(tmp_path), "embeddings").select(
            "vec_id", "embedding"
        )
        bc = shared_matrix_broadcast(
            "embeddings_matrix", str(tmp_path), spark, emb
        )
        art = shared_broadcast(
            "ivfpq_artifacts", str(tmp_path), spark,
            lambda: _ivfpq_artifacts(bc),
        )
        plan = _rebalance_plan(art.value)
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "sim_ivf_rebalanced_recall")
    assert [r[0] for r in got] == ["after", "before"]
    for tier, n_queries, n_truth, n_hits, recall in got:
        assert 0 <= n_hits <= n_truth
        assert abs(recall - round(n_hits / n_truth, 6)) < 2e-6

    member_ids, mb, ma, aids, avecs = plan
    vals, cnts = np.unique(ma, return_counts=True)
    plan_after = {int(v): int(c) for v, c in zip(vals, cnts)}
    for list_id, n_before, n_after, action in reb:
        assert plan_after.get(list_id, 0) == n_after, (list_id, action)
    # every non-empty post-rebalance list is probeable (in acent)
    assert set(plan_after) <= {int(a) for a in aids}
    assert len(member_ids) == sum(r[2] for r in reb)


def _write_docs(spark, tmp_path, docs):
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(out)
    return out


def _con(view, path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}/*.parquet'")
    return con


# the round-12 release fixture (tests/test_round12_pending.py::_REL_DOCS),
# kept byte-identical so the pin test composes with the diff's
# hand-computed prior release (docs 3 and 10 sit in the ingest slice)
_REL_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s1", 1),
    (9, "alpha beta gamma delta epsilon zeta eta theta", "en", "s1", 1),
    (2, "one two three four five six seven eight nine", "en", "s1", 1),
    (3, "one two three four five six seven eight nine", "en", "s1", 1),
    (5, " ".join(f"w{i}" for i in range(24)), "en", "s2", 1),
    (6, "red orange yellow green blue indigo violet", "en", "s2", 1),
    (25, "red orange yellow green blue indigo violet", "en", "s2", 1),
    (10, " ".join(f"v{i}" for i in range(25)), "en", "s2", 1),
    (7, "ant bee cat dog elk fox gnu hen", "en", "s3", 1),
    (27, "ant bee cat dog elk fox gnu hen", "en", "s3", 1),
]


def test_release_pin_reproduce_and_sensitivity(spark, tmp_path):
    """The pin certificate on the diff fixture: cross-engine md5
    equality (the reproduce guarantee), consistency with the diff's
    hand-computed prior release (total_final == sum n_final_prev),
    the alloc identity, and SENSITIVITY — adding one surviving train
    doc to the pinned slice changes the content hash (a silent corpus
    change cannot keep the certificate)."""
    import os

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import (
        pipeline_release_diff,
        pipeline_release_pin,
    )

    os.makedirs(str(tmp_path / "a"), exist_ok=True)
    out = _write_docs(spark, tmp_path / "a", _REL_DOCS)
    clear_shared()
    try:
        got = _spark_rows(pipeline_release_pin(spark, str(tmp_path / "a")))
        diff = _spark_rows(
            pipeline_release_diff(spark, str(tmp_path / "a"))
        )
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "pipeline_release_pin")
    (release_id, n_sources, total_final, total_alloc, md5a) = got[0]
    assert release_id == "rel-prior-train-docid-mod7-ne-3"
    assert n_sources == 3
    assert total_final == sum(r[3] for r in diff)  # n_final_prev
    assert total_alloc == 1000000
    assert len(md5a) == 32

    # doc 15 (train bucket, unique text, NOT in the %7==3 slice) joins
    # the pinned release -> the certificate must move
    docs_b = _REL_DOCS + [
        (15, " ".join(f"q{i}" for i in range(30)), "en", "s1", 1)
    ]
    os.makedirs(str(tmp_path / "b"), exist_ok=True)
    out_b = _write_docs(spark, tmp_path / "b", docs_b)
    clear_shared()
    try:
        got_b = _spark_rows(
            pipeline_release_pin(spark, str(tmp_path / "b"))
        )
    finally:
        clear_shared()
    con_b = _con("documents", out_b)
    assert got_b == _oracle(con_b, "pipeline_release_pin")
    assert got_b[0][4] != md5a
    assert got_b[0][3] == 1000000


def test_winnowing_source_matrix_directions(spark, tmp_path):
    """Hand-built provenance: two identical s1 docs (the diagonal,
    aggregate containment exactly 1e6) both contained in a longer s2
    doc that embeds their text (the off-diagonal s1 -> s2 read), plus
    an unrelated s3 doc that must appear nowhere. Cross-engine
    equality plus a recomputed rollup from the pairwise containment
    op (the matrix must be exactly its groupBy)."""
    from collections import defaultdict

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import (
        dedup_winnowing_containment,
        dedup_winnowing_source_matrix,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    tail = (
        " and then the narrative continues with entirely new material "
        "that only the container document carries forward to the end"
    )
    docs = [
        (1, base, "en", "s1", 1),
        (2, base, "en", "s1", 1),
        (3, base + tail, "en", "s2", 1),
        (4, "completely unrelated text lives here on its own", "en", "s3", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(
            dedup_winnowing_source_matrix(spark, str(tmp_path))
        )
        ct = _spark_rows(dedup_winnowing_containment(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "dedup_winnowing_source_matrix")

    srcs = {1: "s1", 2: "s1", 3: "s2", 4: "s3"}
    roll = defaultdict(lambda: [0, set(), 0, 0])
    for dc, dk, shared, nmin, _ppm in ct:
        key = (srcs[dc], srcs[dk])
        roll[key][0] += 1
        roll[key][1].add(dc)
        roll[key][2] += shared
        roll[key][3] += nmin
    expect = sorted(
        (a, b, n, len(ds), (1000000 * sh) // nm)
        for (a, b), (n, ds, sh, nm) in roll.items()
    )
    assert got == expect
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[("s1", "s1")][4] == 1000000  # identical-text diagonal
    assert ("s1", "s2") in by_key              # excerpt provenance
    assert all("s3" not in k for k in by_key)
    assert all(500000 <= r[4] <= 1000000 for r in got)


def _write_events(spark, tmp_path, rows):
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(out)
    return out


def test_watermark_lateness_audit_hand_computed(spark, tmp_path):
    """Four day-groups, one straggler per regime: user 17's day-0 echo
    arrives in the last slice behind the lagged filter watermark
    (max(b0,b1) - 1h) and is DROPPED; their day-3 echo beats the
    filter but sits past the final watermark and stays PENDING with
    the day-3 on-time row. total = streamed + dropped + pending, all
    hand-computed, both engines."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.streaming.jobs import (
        stream_watermark_lateness_audit,
    )

    d = dt.datetime
    rows = [
        (1, d(2024, 5, 1, 10, 0), "view", 1.0),
        (1, d(2024, 5, 1, 11, 0), "view", 1.0),
        (2, d(2024, 5, 2, 10, 0), "view", 1.0),
        (3, d(2024, 5, 3, 10, 0), "view", 1.0),
        (4, d(2024, 5, 4, 10, 0), "view", 1.0),
        # stragglers: user 17 % 10 == 7 -> withheld to the last slice
        (17, d(2024, 5, 1, 10, 5), "view", 1.0),   # dropped late
        (17, d(2024, 5, 4, 9, 0), "view", 1.0),    # kept but pending
    ]
    out = _write_events(spark, tmp_path, rows)
    clear_shared()
    try:
        got = _spark_rows(
            stream_watermark_lateness_audit(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _con("events", out)
    assert got == _oracle(con, "stream_watermark_lateness_audit")
    (total, dropped, n_win, streamed, pending) = got[0]
    assert (total, dropped, n_win, streamed, pending) == (7, 1, 4, 4, 2)


def test_signature_cosine_closed_form(spark, tmp_path):
    """Three sources, hand-computed profiles: s1 {x:1e6, y:1e6} and
    s2 {x:5e5, z:1e6} share only x -> cos = 5e11 / sqrt(2e12*1.25e12)
    = 0.316228 exactly at the floor-ppm read-out; s3's vocabulary is
    disjoint -> cos 0 with both. Cross-engine equality included."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.text import text_source_signature_cosine

    docs = [
        (1, "x x y", "en", "s1", 1),
        (2, "x z", "en", "s2", 1),
        (3, "q", "en", "s3", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(
            text_source_signature_cosine(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "text_source_signature_cosine")
    assert got == [
        ("s1", "s2", 1, 316228),
        ("s1", "s3", 0, 0),
        ("s2", "s3", 0, 0),
    ]


def test_holt_backtest_linear_is_exact_and_gaps(spark, tmp_path):
    """A perfectly linear gap-free series (n = 10 + 5*i over 12
    consecutive days) backtests to ZERO error at every origin (the
    dyadic recursion reproduces its own line); then a 3-day gap
    series checks the calendar-faithful Delta*b forecast. Cross-engine
    equality on both."""
    import os

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.timeseries import (
        ts_forecast_backtest_holt,
    )

    d = dt.datetime
    rows = []
    for i in range(12):
        for k in range(10 + 5 * i):
            rows.append(
                (k + 1, d(2024, 5, 1 + i, 10, 0, k % 60), "view", 1.0)
            )
    os.makedirs(str(tmp_path / "lin"), exist_ok=True)
    out = _write_events(spark, tmp_path / "lin", rows)
    clear_shared()
    try:
        got = _spark_rows(
            ts_forecast_backtest_holt(spark, str(tmp_path / "lin"))
        )
    finally:
        clear_shared()
    con = _con("events", out)
    assert got == _oracle(con, "ts_forecast_backtest_holt")
    assert len(got) == 7
    assert all(r[5] == 0 and r[6] == 0 for r in got)  # err, abs_err
    assert all(r[2] == 1 for r in got)                # gap_days

    # gapped series: days 1,2,3 then 6 -> last origin gap 3,
    # forecast = l + 3*b
    rows_g = []
    for di, n in ((1, 10), (2, 20), (3, 30), (6, 60)):
        for k in range(n):
            rows_g.append((k + 1, d(2024, 5, di, 9, 0, k % 60), "view", 1.0))
    os.makedirs(str(tmp_path / "gap"), exist_ok=True)
    out_g = _write_events(spark, tmp_path / "gap", rows_g)
    clear_shared()
    try:
        got_g = _spark_rows(
            ts_forecast_backtest_holt(spark, str(tmp_path / "gap"))
        )
    finally:
        clear_shared()
    con_g = _con("events", out_g)
    assert got_g == _oracle(con_g, "ts_forecast_backtest_holt")
    last = got_g[-1]
    # state at day 3: l=30, b=10 (exact linear); target day 6:
    # forecast = 30 + 3*10 = 60 = actual
    assert last[2] == 3 and last[3] == 60 and last[4] == 60 and last[5] == 0


def test_holt_backtest_guard_both_engines(spark, tmp_path):
    """Fewer than 3 observed days raises loudly on both engines."""
    import pytest

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.timeseries import (
        ts_forecast_backtest_holt,
    )

    d = dt.datetime
    rows = [(1, d(2024, 5, 1, 10, 0), "view", 1.0),
            (2, d(2024, 5, 2, 10, 0), "view", 1.0)]
    out = _write_events(spark, tmp_path, rows)
    clear_shared()
    try:
        with pytest.raises(Exception, match="holt backtest undefined"):
            ts_forecast_backtest_holt(spark, str(tmp_path)).collect()
    finally:
        clear_shared()
    con = _con("events", out)
    with pytest.raises(duckdb.Error, match="holt backtest undefined"):
        _oracle(con, "ts_forecast_backtest_holt")


def test_hoover_index_closed_forms(spark, tmp_path):
    """Hand-computed Hoover: nation 0's two customers spend (100, 300)
    -> dev = |2*100-400| + |2*300-400| = 400, H = 400/(2*2*400) =
    0.25 -> 250000 ppm (equal to Gini for n=2); nation 1's two equal
    spenders -> 0. Cross-engine equality included."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.stats import agg_hoover_index

    cust = [(1, 0), (2, 0), (3, 1), (4, 1)]
    spark.createDataFrame(
        cust, "c_custkey long, c_nationkey long"
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    orders = [
        (10, 1, 1.00), (11, 2, 3.00),
        (12, 3, 2.00), (13, 4, 2.00),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    clear_shared()
    try:
        got = _spark_rows(agg_hoover_index(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" '{tmp_path}/{t}.parquet/*.parquet'"
        )
    assert got == _oracle(con, "agg_hoover_index")
    assert got == [(0, 2, 400, 250000), (1, 2, 400, 0)]


def test_poststrat_weights_consistency(spark, tmp_path):
    """Crafted two-stratum book (40 varied orders each): cross-engine
    equality plus the definitional identities against the realized
    draw — weight_ppm = floor(1e6 * N_h / n_h) and est_total =
    floor(N_h * sampled_cents / n_h) — and the n_drawn = 0 NULL
    contract never fires here (both strata draw)."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.sampling import (
        sample_neyman_draw,
        sample_poststrat_weights,
    )

    orders = []
    ok = 1
    for strat, base in (("1-URGENT", 10000.0), ("5-LOW", 50000.0)):
        for i in range(40):
            # kilodollar spread: the allocation weights live in exact
            # v = cents div 100000 units, so constant-kilodollar strata
            # would trip the zero-total-weight guard
            orders.append((ok, strat, base + 3000.0 * (i % 7) + 1000.0 * i))
            ok += 1
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    clear_shared()
    try:
        got = _spark_rows(sample_poststrat_weights(spark, str(tmp_path)))
        draw = _spark_rows(sample_neyman_draw(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM"
        f" '{tmp_path}/orders.parquet/*.parquet'"
    )
    assert got == _oracle(con, "sample_poststrat_weights")
    dmap = {r[0]: r for r in draw}  # stratum -> (.., n_drawn, .., sum_cents)
    assert len(got) == 2
    for (strat, n_rows, n_drawn, w, est, actual, sign, aerr) in got:
        d = dmap[strat]
        assert n_drawn == d[3] and n_drawn > 0
        assert w == (1000000 * n_rows) // n_drawn
        assert est == (n_rows * d[6]) // n_drawn
        assert sign == (1 if est > actual else -1 if est < actual else 0)
        assert aerr == (1000000 * abs(est - actual)) // actual


def test_session_window_edges(spark, tmp_path):
    """Session semantics pinned by hand: events 29:59 apart merge, and
    exactly 30:00 apart ALSO merge (adjacent windows coalesce); a session
    spanning day-quartile slice boundaries still merges through
    state; sessions ending within the 1h watermark horizon of the
    stream tail are NOT emitted. Cross-engine equality included."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.streaming.jobs import stream_session_window_gap

    d = dt.datetime
    rows = [
        # user 1: two events 29:59 apart -> ONE session of 2
        (1, d(2024, 5, 1, 8, 0, 0), "view", 1.0),
        (1, d(2024, 5, 1, 8, 29, 59), "view", 1.0),
        # user 2: two events exactly 30:00 apart -> adjacent windows MERGE
        # (probed Spark semantics; split needs gap STRICTLY > 30 min)
        (2, d(2024, 5, 1, 8, 0, 0), "view", 1.0),
        (2, d(2024, 5, 1, 8, 30, 0), "view", 1.0),
        # user 3: a singleton far later, pushing the watermark; its own
        # session ends within the 1h horizon -> NOT emitted
        (3, d(2024, 5, 4, 23, 0, 0), "view", 1.0),
    ]
    out = _write_events(spark, tmp_path, rows)
    clear_shared()
    try:
        got = _spark_rows(stream_session_window_gap(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("events", out)
    assert got == _oracle(con, "stream_session_window_gap")

    us = 1_000_000
    t0 = int(d(2024, 5, 1, 8, 0, 0, tzinfo=dt.timezone.utc).timestamp()) * us
    gap = 1800 * us
    assert got == [
        (1, t0, t0 + 1799 * us + gap, 2),
        (2, t0, t0 + 2 * gap, 2),
    ]


def test_release_admission_gate_hand_computed(spark, tmp_path):
    """The release fixture: alloc puts the whole token budget on s2
    (the only source with passing final tokens), so the 1-doc intake
    budget caps s2 at 1 and everyone else at 0. Per-slice arrivals
    (doc_id % 4) pin the exhaustion slices by hand; cross-engine
    equality certifies the greedy cross-batch arithmetic."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.streaming.jobs import (
        stream_release_admission_gate,
    )

    out = _write_docs(spark, tmp_path, _REL_DOCS)
    clear_shared()
    try:
        got = _spark_rows(
            stream_release_admission_gate(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "stream_release_admission_gate")
    assert got == [
        ("s1", 0, 4, 0, 4, 1),
        ("s2", 1, 4, 1, 3, 1),
        ("s3", 0, 2, 0, 2, 3),
    ]


def test_delete_compact_invariants(spark, tmp_path):
    """Cross-engine equality on the crafted corpus plus the verdict
    invariants: exactly one of (reclaimed, tombstones) is nonzero per
    list, conservation of deleted rows across the split, the exact
    4*deleted >= before threshold, and membership consistency with
    the rebalance executor's n_before."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        pipeline_vector_index_delete_compact,
        pipeline_vector_index_rebalance,
    )

    vecs = []
    for i in range(160):
        vecs.append(
            (
                i,
                [
                    math.sin(i * 0.9 + j * 1.1) * (1.0 + (i % 7))
                    for j in range(64)
                ],
            )
        )
    _write_emb(spark, tmp_path, vecs)
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_delete_compact(spark, str(tmp_path))
        )
        reb = _spark_rows(
            pipeline_vector_index_rebalance(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _emb_con(tmp_path)
    assert got == _oracle(con, "pipeline_vector_index_delete_compact")
    assert sum(r[2] for r in got) > 0  # tombstones actually fire
    for (lid, before, deleted, live, comp, recl, tomb) in got:
        assert live == before - deleted
        assert comp == (1 if 4 * deleted >= before else 0)
        assert (recl, tomb) == ((deleted, 0) if comp else (0, deleted))
    # same membership as the rebalance executor's n_before
    reb_before = {r[0]: r[1] for r in reb if r[3] != "split_child"}
    assert {r[0]: r[1] for r in got} == reb_before


def test_merge_receivers_adversarial_lists_matches_naive():
    """Round-12 verdict item #6: the merge-receiver argmin must stay
    cheap when a fixture ties |lists| to corpus size. 3,000 keep x
    1,500 merge centroids (4.5M pairs) through the chunked numpy path
    must (a) finish fast and (b) agree pair-for-pair with the naive
    (d, r)-min Python scan on a 200-list subsample, including ties
    (duplicate centroids planted so several keeps share the min
    distance -> lowest keep id must win)."""
    import numpy as np

    from catme_etl_spark.operators.similarity import _merge_receivers

    rng = np.random.RandomState(13)
    n_keep, n_merge, dim = 3000, 1500, 16
    C = rng.randint(-128, 128, size=(n_keep + n_merge, dim)).astype(
        np.int64
    )
    # plant exact duplicates so the tie-break (lowest keep id) is hit
    C[100] = C[700] = C[1900]
    C[n_keep + 5] = C[100]
    cids = list(range(n_keep + n_merge))
    cindex = {c: i for i, c in enumerate(cids)}
    keep_ids = cids[:n_keep]
    merge_ids = cids[n_keep:]

    got = _merge_receivers(C, cindex, merge_ids, keep_ids)
    assert set(got) == set(merge_ids)
    assert got[n_keep + 5] == 100  # duplicate -> lowest tied keep id

    sub = merge_ids[::8][:200]
    for m in sub:
        best = None
        for r in keep_ids:
            d = int(((C[cindex[m]] - C[cindex[r]]) ** 2).sum())
            if best is None or (d, r) < best:
                best = (d, r)
        assert got[m] == best[1], m

    import pytest

    with pytest.raises(ValueError, match="every list is a merge"):
        _merge_receivers(C, cindex, merge_ids, [])
