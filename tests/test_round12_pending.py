"""Crafted-table tests for the round-12 debut queue (live since its
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


def _write_events(spark, tmp_path, rows):
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(out)
    return out


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


def test_signature_terms_closed_form(spark, tmp_path):
    """Two sources, three terms, hand-computed tf/df/floor-ppm scores:
    A's exclusive 'x' (tf 2, df 1) scores 2e6 and outranks the shared
    'y' (df 2 halves it to 5e5); B's exclusive 'z' outranks its 'y'
    the same way."""
    from catme_etl_spark.operators.text import text_source_signature_terms

    docs = [
        (1, "x x y", "en", "A", 1),
        (2, "y z", "en", "B", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    got = _spark_rows(text_source_signature_terms(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "text_source_signature_terms")
    assert got == sorted(
        [
            ("A", "x", 2, 1, 2000000, 1),
            ("A", "y", 1, 2, 500000, 2),
            ("B", "z", 1, 1, 1000000, 1),
            ("B", "y", 1, 2, 500000, 2),
        ]
    )


def _write_orders(spark, tmp_path, rows, schema):
    out = str(tmp_path / "orders.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
    return out


def test_neyman_allocation_closed_form(spark, tmp_path):
    """Stratum A holds all the variance (v = 100, 300 kilodollars:
    V = 2*100000 - 400^2 = 40000, weight isqrt = 200); stratum B is
    constant (weight 0) — the whole budget goes to A. A corpus where
    EVERY stratum is constant raises loudly on both engines."""
    import pytest

    from catme_etl_spark.operators.sampling import sample_neyman_allocation

    schema = "o_orderpriority string, o_totalprice double"
    out = _write_orders(
        spark,
        tmp_path / "var",
        [
            ("A", 100000.00),
            ("A", 300000.00),
            ("B", 200000.00),
            ("B", 200000.00),
        ],
        schema,
    )
    import os

    os.makedirs(str(tmp_path / "var"), exist_ok=True)
    got = _spark_rows(sample_neyman_allocation(spark, str(tmp_path / "var")))
    con = _con("orders", out)
    assert got == _oracle(con, "sample_neyman_allocation")
    assert got == [("A", 2, 200, 1000000), ("B", 2, 0, 0)]

    out2 = _write_orders(
        spark,
        tmp_path / "const",
        [("A", 100000.00), ("A", 100000.00), ("B", 50000.00)],
        schema,
    )
    with pytest.raises(Exception, match="neyman allocation undefined"):
        sample_neyman_allocation(spark, str(tmp_path / "const")).collect()
    con2 = _con("orders", out2)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="neyman allocation undefined"):
        _oracle(con2, "sample_neyman_allocation")


def test_holt_winters_linear_series_exact(spark, tmp_path):
    """A perfectly linear daily series keeps the seasonal state pinned
    at zero (x_t - l_t == 0 every step), so Holt-Winters must forecast
    exactly the Holt line 20 + 5h; single-day and fully-empty inputs
    raise loudly on both engines."""
    import pytest

    from catme_etl_spark.operators.timeseries import ts_holt_winters_weekly

    day = 86400
    d0 = dt.datetime(2024, 2, 1)

    def series(path, counts):
        import os

        os.makedirs(str(path), exist_ok=True)
        rows = []
        for dd, n in enumerate(counts):
            for i in range(n):
                rows.append(
                    (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
                )
        return _write_events(spark, path, rows)

    out = series(tmp_path / "lin", [5, 10, 15, 20])
    got = _spark_rows(ts_holt_winters_weekly(spark, str(tmp_path / "lin")))
    con = _con("events", out)
    assert got == _oracle(con, "ts_holt_winters_weekly")
    day_us = 86_400_000_000
    e3 = (
        int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        // day_us
        + 3
    ) * day_us
    assert got == [(h, e3 + h * day_us, 20 + 5 * h) for h in range(1, 8)]

    out2 = series(tmp_path / "one", [4])
    with pytest.raises(Exception, match="holt-winters forecast undefined"):
        ts_holt_winters_weekly(spark, str(tmp_path / "one")).collect()
    con2 = _con("events", out2)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="holt-winters forecast undefined"):
        _oracle(con2, "ts_holt_winters_weekly")

    out3 = series(tmp_path / "zero", [])
    with pytest.raises(Exception, match="holt-winters forecast undefined"):
        ts_holt_winters_weekly(spark, str(tmp_path / "zero")).collect()
    con3 = _con("events", out3)
    with pytest.raises(_ddb.Error, match="holt-winters forecast undefined"):
        _oracle(con3, "ts_holt_winters_weekly")


def test_holt_winters_seasonal_series_mirror(spark, tmp_path):
    """A genuinely seasonal series (weekday 10 / weekend 40 over three
    weeks) — both engines must agree with an INDEPENDENT Python mirror
    of the 9-state recursion, and the forecast must carry the learned
    day-of-week offsets (not a flat Holt line)."""
    from catme_etl_spark.operators.timeseries import ts_holt_winters_weekly

    day = 86400
    d0 = dt.datetime(2024, 3, 4)
    base_day = (
        int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        // 86_400_000_000
    )
    counts = []
    for w in range(3):
        for k in range(7):
            counts.append(40 if k >= 5 else 10)
    rows = []
    for dd, n in enumerate(counts):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(ts_holt_winters_weekly(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "ts_holt_winters_weekly")

    # independent mirror
    l, b = counts[0], counts[1] - counts[0]
    s = [0] * 7
    for t in range(1, len(counts)):
        x, dow = counts[t], (base_day + t) % 7
        s_old = s[dow]
        l_new = math.floor((x - s_old + l + b) / 2.0)
        b = math.floor((b + l_new - l) / 2.0)
        s[dow] = math.floor((x - l_new + s_old) / 2.0)
        l = l_new
    last = base_day + len(counts) - 1
    expect = [
        (
            h,
            (last + h) * 86_400_000_000,
            l + h * b + s[(last + h) % 7],
        )
        for h in range(1, 8)
    ]
    assert got == expect
    # the seasonal state actually learned something
    assert len({f for _, _, f in got}) > 1


def test_stream_holt_winters_equals_batch(spark, tmp_path):
    """The streaming Holt-Winters arm must emit exactly the batch
    forecast on the same data."""
    from catme_etl_spark.operators.timeseries import ts_holt_winters_weekly
    from catme_etl_spark.streaming.jobs import stream_holt_winters_weekly

    day = 86400
    d0 = dt.datetime(2024, 3, 4)
    rows = []
    for dd, n in enumerate([5, 10, 15, 20, 25, 30, 35, 40]):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    _write_events(spark, tmp_path, rows)
    batch = _spark_rows(ts_holt_winters_weekly(spark, str(tmp_path)))
    stream = _spark_rows(stream_holt_winters_weekly(spark, str(tmp_path)))
    assert stream == batch


def test_theil_decomposition_within_zero(spark, tmp_path):
    """Equal revenues WITHIN each nation make every within-group term
    ln(1) = 0, so theil_within is exactly 0.0 and the total equals the
    between component: 0.25*ln(0.5) + 0.75*ln(1.5), hand-computed."""
    from catme_etl_spark.operators.stats import agg_theil_between_within

    orders = [
        (1, 100000.00),
        (2, 100000.00),
        (3, 300000.00),
        (4, 300000.00),
    ]
    spark.createDataFrame(
        orders, "o_custkey long, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)],
        "c_custkey long, c_nationkey long",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    got = _spark_rows(agg_theil_between_within(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM"
        f" '{tmp_path}/orders.parquet/*.parquet'"
    )
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM"
        f" '{tmp_path}/customer.parquet/*.parquet'"
    )
    assert got == _oracle(con, "agg_theil_between_within")
    tb = 0.25 * math.log(0.5) + 0.75 * math.log(1.5)
    r6 = lambda x: math.floor(x * 1000000 + 0.5) / 1000000  # noqa: E731
    assert got == [(4, 2, r6(tb), r6(tb), 0.0)]


def test_winnowing_clusters_chain_and_pair(spark, tmp_path):
    """A quotes-chain cluster the pairwise tier can't see as one unit:
    B contains both A and C (A-B and C-B containment pairs) while A
    and C share nothing — the closure must fuse {A, B, C} into ONE
    cluster with 2 pairs; an independent containment pair {D, E}
    forms its own 2-doc cluster; singleton F is absent."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import dedup_winnowing_clusters

    ta = "the quick brown fox jumps over the lazy dog again"
    tc = "zebra lion tiger bear wolf eagle hawk owl bison elk"
    td = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = [
        (1, ta, "en", "s1", 1),
        (2, ta + " " + tc, "en", "s1", 1),
        (3, tc, "en", "s1", 1),
        (4, td, "en", "s2", 1),
        (5, td + " and a much longer unique tail goes here", "en", "s2", 1),
        (6, "completely different singleton text lives here", "en", "s2", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(dedup_winnowing_clusters(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "dedup_winnowing_clusters")
    assert got == [(1, 3, 2), (4, 2, 1)]


def test_changepoint_two_level_three_regimes(spark, tmp_path):
    """Three clean regimes (10, 50, 200 over 3 days each): level 1
    splits after day 5 (gap 170 events/day, step up); level 2 finds
    the 10->50 shift inside the left half; the constant right half
    ties at gap 0, earliest day, sign 0 — all hand-computed."""
    from catme_etl_spark.operators.events import events_changepoint_two_level

    day = 86400
    d0 = dt.datetime(2024, 5, 1)
    base_day = (
        int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        // 86_400_000_000
    )
    counts = [10, 10, 10, 50, 50, 50, 200, 200, 200]
    rows = []
    for dd, n in enumerate(counts):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(events_changepoint_two_level(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "events_changepoint_two_level")
    us = 86_400_000_000
    assert got == sorted(
        [
            (1, "all", (base_day + 5) * us, 6, 3, 170000000, 1),
            (2, "left", (base_day + 2) * us, 3, 3, 40000000, 1),
            (2, "right", (base_day + 6) * us, 1, 2, 0, 0),
        ]
    )


_REL_DOCS = [
    # pinned md5 buckets: 1,2,3,5,6,7,10 train; 9,25,27 test
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


def test_release_diff_closed_form(spark, tmp_path):
    """The corpus-release fixture plus train doc 10 (in the ingest
    slice: 10 % 7 == 3): the prior release lacks docs 3 and 10, so s2
    gains a final doc (+1, share 500000 -> 666666 ppm) and s1's share
    correspondingly falls — both drifts over the 2% flag; s3 is
    zero-final in both releases (drift 0). All hand-computed."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import pipeline_release_diff

    out = _write_docs(spark, tmp_path, _REL_DOCS)
    clear_shared()
    try:
        got = _spark_rows(pipeline_release_diff(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "pipeline_release_diff")
    assert got == [
        ("s1", 2, 3, 1, 1, 0, 500000, 333333, -166667, 0, 0, 0, 1),
        ("s2", 2, 3, 1, 2, 1, 500000, 666666, 166666, 1000000, 1000000, 0, 1),
        ("s3", 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    ]


def test_release_gate_fail_and_pass(spark, tmp_path):
    """The diff fixture FAILS the gate (s3 ships zero final docs and
    the worst share drift is 238095 ppm > 5%); a clean corpus of three
    sources with one surviving unique train doc each PASSES (zero
    drift, every source nonzero, alloc identity 1e6)."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import quality_release_gate

    import os

    os.makedirs(str(tmp_path / "fail"), exist_ok=True)
    out = _write_docs(spark, tmp_path / "fail", _REL_DOCS)
    clear_shared()
    try:
        got = _spark_rows(quality_release_gate(spark, str(tmp_path / "fail")))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "quality_release_gate")
    assert got == [(3, 3, 0, 238095, 1000000, 0)]

    os.makedirs(str(tmp_path / "pass"), exist_ok=True)
    clean = [
        (1, " ".join(f"a{i}" for i in range(22)), "en", "s1", 1),
        (2, " ".join(f"b{i}" for i in range(30)), "en", "s2", 1),
        (5, " ".join(f"c{i}" for i in range(40)), "en", "s3", 1),
    ]
    out2 = _write_docs(spark, tmp_path / "pass", clean)
    clear_shared()
    try:
        got2 = _spark_rows(
            quality_release_gate(spark, str(tmp_path / "pass"))
        )
    finally:
        clear_shared()
    con2 = _con("documents", out2)
    assert got2 == _oracle(con2, "quality_release_gate")
    assert got2[0][-1] == 1  # gate_pass
    assert got2[0][3] == 0  # max_share_drift_ppm
    assert got2[0][4] == 1000000  # alloc identity


def test_vector_ingest_flag_consistency(spark, tmp_path):
    """Cross-engine equality on a crafted 30-vector corpus plus the
    row-wise admission invariant recomputed from the emitted columns:
    admitted == 0 exactly when 4 * min_adc * n_cand < sum_adc, and a
    batch vector with no candidates admits with the (-1, 0)
    sentinels."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        INGEST_REJECT_FACTOR,
        pipeline_vector_index_ingest,
    )

    vecs = []
    for i in range(30):
        vecs.append(
            (
                i,
                [
                    math.sin(i * 1.3 + j * 0.7) * (1.0 + (i % 5))
                    for j in range(64)
                ],
            )
        )
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    clear_shared()
    try:
        got = _spark_rows(
            pipeline_vector_index_ingest(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    assert got == _oracle(con, "pipeline_vector_index_ingest")
    assert [r[0] for r in got] == [9, 19, 29]  # the % 10 == 9 batch
    for vec_id, cid, n_cand, min_adc, sum_adc, admitted in got:
        if n_cand == 0:
            assert (min_adc, sum_adc, admitted) == (-1, 0, 1)
        else:
            expect = (
                0
                if INGEST_REJECT_FACTOR * min_adc * n_cand < sum_adc
                else 1
            )
            assert admitted == expect


def _md5_h15(okey):
    import hashlib

    return int(hashlib.md5(str(okey).encode()).hexdigest()[:15], 16)


def test_neyman_draw_closed_form(spark, tmp_path):
    """40 orders: stratum A (20 rows, v alternating 100/300
    kilodollars, weight isqrt(20e6 - 16e6) = 2000) takes the whole
    budget; stratum B (20 constant rows) gets weight 0. n_total =
    40 div 20 = 2, so the draw is A's 2 smallest (md5-hash, okey)
    rows — recomputed here independently with hashlib."""
    from catme_etl_spark.operators.sampling import sample_neyman_draw

    schema = "o_orderkey long, o_orderpriority string, o_totalprice double"
    rows = [
        (k, "A", 100000.00 if k % 2 else 300000.00) for k in range(1, 21)
    ] + [(k, "B", 200000.00) for k in range(21, 41)]
    out = _write_orders(spark, tmp_path, rows, schema)
    got = _spark_rows(sample_neyman_draw(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "sample_neyman_draw")

    drawn = sorted(range(1, 21), key=lambda k: (_md5_h15(k), k))[:2]
    cents = {k: 10000000 if k % 2 else 30000000 for k in range(1, 21)}
    expect = [
        (
            "A",
            20,
            2,
            2,
            0,
            sum(drawn),
            sum(cents[k] for k in drawn),
        ),
        ("B", 20, 0, 0, 0, 0, 0),
    ]
    assert got == expect


def test_neyman_draw_shortfall_reported(spark, tmp_path):
    """Neyman over-allocates a tiny high-variance stratum: A has 2
    rows but all the weight, so its target is the whole n_total = 5
    budget — the draw caps at the population (both rows) and reports
    shortfall 3 instead of silently redistributing."""
    from catme_etl_spark.operators.sampling import sample_neyman_draw

    schema = "o_orderkey long, o_orderpriority string, o_totalprice double"
    rows = [(1, "A", 100000.00), (2, "A", 300000.00)] + [
        (k, "B", 200000.00) for k in range(3, 101)
    ]
    out = _write_orders(spark, tmp_path, rows, schema)
    got = _spark_rows(sample_neyman_draw(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "sample_neyman_draw")
    assert got == [
        ("A", 2, 5, 2, 3, 3, 40000000),
        ("B", 98, 0, 0, 0, 0, 0),
    ]


def test_ivf_list_maintenance_consistency(spark, tmp_path):
    """Cross-engine equality on a crafted 120-vector corpus (3
    inverted lists), plus composition invariants against the certified
    ingest arm on the SAME corpus: the stream's per-list n_admitted is
    exactly the ingest op's admitted rows grouped by cid, n_existing
    covers the whole non-batch corpus, and both decision flags
    recompute from the emitted totals by the cross-multiplied rule."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        pipeline_vector_index_ingest,
    )
    from catme_etl_spark.streaming.jobs import stream_ivf_list_maintenance

    vecs = []
    for i in range(120):
        vecs.append(
            (
                i,
                [
                    math.sin(i * 1.3 + j * 0.7) * (1.0 + (i % 5))
                    for j in range(64)
                ],
            )
        )
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    clear_shared()
    try:
        got = _spark_rows(stream_ivf_list_maintenance(spark, str(tmp_path)))
        ing = _spark_rows(
            pipeline_vector_index_ingest(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    assert got == _oracle(con, "stream_ivf_list_maintenance")

    assert [r[0] for r in got] == [0, 50, 100]  # the % 50 == 0 lists
    adm_by_cid: dict = {}
    for _vec, cid, _nc, _mn, _sm, admitted in ing:
        adm_by_cid[cid] = adm_by_cid.get(cid, 0) + admitted
    grand = sum(r[3] for r in got)
    n_lists = len(got)
    assert sum(r[1] for r in got) == 108  # every vec_id % 10 != 9
    for cid, n_existing, n_admitted, n_total, do_split, do_merge in got:
        assert n_admitted == adm_by_cid.get(cid, 0)
        assert n_total == n_existing + n_admitted
        assert do_split == (1 if 2 * n_total * n_lists > 3 * grand else 0)
        assert do_merge == (1 if 4 * n_total * n_lists < grand else 0)


def test_changepoint_two_level_eager_guard(spark, tmp_path):
    """Round-11 ADVICE pin: the <2-observed-days guard fires AT CALL
    TIME (plan construction), not at the caller's first action —
    `shared_df(materialize=True)` on the guarded daily series executes
    its upstream stages eagerly. This is the documented contract (see
    the op docstring): a degenerate series fails the pipeline at
    construction rather than poisoning a plan for a later action."""
    import pytest

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.events import events_changepoint_two_level

    rows = [(1, dt.datetime(2024, 5, 1, 12, 0, 0), "view", 1.0)]
    out = _write_events(spark, tmp_path, rows)
    clear_shared()
    try:
        with pytest.raises(Exception, match="changepoint"):
            # the call itself must raise — no action is ever taken
            events_changepoint_two_level(spark, str(tmp_path))
    finally:
        clear_shared()
    # cross-engine parity: the DuckDB oracle refuses the same series
    con = _con("events", out)
    with pytest.raises(duckdb.Error, match="changepoint"):
        _oracle(con, "events_changepoint_two_level")
