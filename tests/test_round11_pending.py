"""Crafted-table tests for the round-11 debut queue (live since its
flip; see tests/test_ordering.py). Each op is runnable and
oracle-carrying; these pin the closed-form/boundary semantics the
fixtures never exercise."""

from __future__ import annotations

import datetime as dt

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


def _con(view, path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}/*.parquet'")
    return con


def test_latency_alert_both_branches(spark, tmp_path):
    """One sealed conversion per day, hand-computed buckets: day A's
    5-minute latency lands in the 2^29-1 bucket (under the 20-min SLA,
    alert 0); day B's 25-minute latency lands in 2^31-1 (alert 1). A
    lone far-future anchor seals both sessions and is itself absent
    (no view->purchase pair)."""
    from catme_etl_spark.streaming.jobs import stream_latency_alert_daily

    d0 = dt.datetime(2024, 1, 1)
    d1 = dt.datetime(2024, 1, 2)
    rows = [
        (1, d0, "view", 1.0),
        (1, d0 + dt.timedelta(minutes=5), "purchase", 1.0),
        (2, d1, "view", 1.0),
        (2, d1 + dt.timedelta(minutes=25), "purchase", 1.0),
        (9, dt.datetime(2024, 1, 5), "click", 1.0),  # seal anchor, open
    ]
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(stream_latency_alert_daily(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_latency_alert_daily")
    day_us = 86_400_000_000
    e0 = int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    # 5 min = 3.0e8 us -> bin length 29 -> hi 2^29-1; 25 min = 1.5e9 us
    # -> bin length 31 -> hi 2^31-1 > 1.2e9 SLA
    assert got == [
        (e0, 1, (1 << 29) - 1, (1 << 29) - 1, 0),
        (e0 + day_us, 1, (1 << 31) - 1, (1 << 31) - 1, 1),
    ]


def test_latency_alert_unsealed_day_absent(spark, tmp_path):
    """A conversion whose session is NOT yet sealed (its session end is
    within watermark + gap of max ts) must be absent from the verdict
    on both engines — the append-mode contract."""
    from catme_etl_spark.streaming.jobs import stream_latency_alert_daily

    d0 = dt.datetime(2024, 3, 1)
    rows = [
        (1, d0, "view", 1.0),
        (1, d0 + dt.timedelta(minutes=5), "purchase", 1.0),
        # max ts only 1h after the session end: seal needs end + 30min
        # <= max - 1h, so this session stays open
        (9, d0 + dt.timedelta(minutes=65), "click", 1.0),
    ]
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(stream_latency_alert_daily(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_latency_alert_daily")
    assert got == []


def _write_docs(spark, tmp_path, docs):
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(out)
    return out


def test_corpus_release_manifest_closed_form(spark, tmp_path):
    """Every stage exercised with pinned md5 buckets (1,2,3,5,6,7
    train; 9,25,27 test) and hand-computed manifest rows:
    - s1: doc 1 decon-dropped (8-gram shared with test doc 9), docs
      2/3 are a within-train identical pair -> greater id 3 scrubbed;
      survivor 2 has 9 tokens (below the 20-token gate) -> 0 passing.
    - s2: doc 6 is a 7-token identical twin of test doc 25 — invisible
      to the 8-gram decon, caught by the near-dup LEAK scrub; doc 5
      (24 distinct tokens) survives and carries all passing tokens.
    - s3: its only train doc 7 decon-dropped -> zero final docs, zero
      passing, share_after 0 — the COALESCE/zero-remainder path."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import pipeline_corpus_release

    ta = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    tb = "one two three four five six seven eight nine"  # 9 tokens
    t5 = " ".join(f"w{i}" for i in range(24))  # 24 distinct tokens
    t6 = "red orange yellow green blue indigo violet"  # 7 tokens
    te = "ant bee cat dog elk fox gnu hen"  # 8 tokens
    docs = [
        (1, ta, "en", "s1", 1),
        (9, ta, "en", "s1", 1),   # test twin: decon-drops doc 1
        (2, tb, "en", "s1", 1),
        (3, tb, "en", "s1", 1),   # within-train pair: drop 3
        (5, t5, "en", "s2", 1),
        (6, t6, "en", "s2", 1),
        (25, t6, "en", "s2", 1),  # test twin, <8 tokens: leak-drops 6
        (7, te, "en", "s3", 1),
        (27, te, "en", "s3", 1),  # test twin: decon-drops doc 7
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(pipeline_corpus_release(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "pipeline_corpus_release")
    assert got == [
        ("s1", 3, 1, 1, 1, 500000, 500000, 0, 0),
        ("s2", 2, 0, 1, 1, 333333, 500000, 24, 1000000),
        ("s3", 1, 1, 0, 0, 166666, 0, 0, 0),
    ]


def test_corpus_release_empty_is_loud(spark, tmp_path):
    """A release where NOTHING survives must raise on BOTH engines
    (raise_error / error()) — DuckDB integer division by zero is a
    silent NULL, and a manifest of NULL shares is how an empty corpus
    ships unnoticed."""
    import pytest

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import pipeline_corpus_release

    ta = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(1, ta, "en", "s1", 1), (9, ta, "en", "s1", 1)]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        with pytest.raises(Exception, match="release is empty"):
            pipeline_corpus_release(spark, str(tmp_path)).collect()
    finally:
        clear_shared()
    con = _con("documents", out)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="release is empty"):
        _oracle(con, "pipeline_corpus_release")


def test_corpus_release_2pc_export(spark, sf_dir, tmp_path):
    """The export leg: the release manifest ships through the 2PC
    `sheetdir` sink (staged parts -> atomic manifest commit) and reads
    back through the same DataSource with every row intact and no
    staging residue."""
    import glob
    import os

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import pipeline_corpus_release
    from catme_etl_spark.sources.pydatasource import SheetDirDataSource

    spark.dataSource.register(SheetDirDataSource)
    clear_shared()
    try:
        rel = pipeline_corpus_release(spark, sf_dir)
        n = rel.count()
        out = str(tmp_path / "release")
        rel.write.format("sheetdir").mode("overwrite").save(out)
    finally:
        clear_shared()
    assert n > 0
    manifest = os.path.join(out, "_SUCCESS")
    assert os.path.exists(manifest)
    with open(manifest) as f:
        entries = [ln for ln in f.read().splitlines() if ln]
    assert sum(int(e.split(",")[1]) for e in entries) == n
    assert glob.glob(os.path.join(out, "*_wip*")) == []
    back = spark.read.format("sheetdir").load(out)
    assert back.count() == n


def test_ivfpq_single_centroid_and_codeword(spark, tmp_path):
    """64-dim corpus with one stride centroid AND one PQ codeword
    (only vec_id 0 hits either stride): every vector shares the single
    inverted list, so the exact-ranked arm sees the whole corpus and
    reads recall 1.0; the single-codeword ADC distance is constant
    across neighbors, so the PQ arm degenerates to id-order ranking —
    the compression-cost floor. Cross-engine equal, and the
    by-construction invariant recall_ivfpq <= recall_ivf holds."""
    import math

    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        sim_ivfpq_recall_clustered,
    )

    vecs = []
    for i in range(10):
        vecs.append((i, [math.sin(i * 1.7 + j * 0.3) for j in range(64)]))
    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(out)
    clear_shared()
    try:
        got = _spark_rows(sim_ivfpq_recall_clustered(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("embeddings", out)
    assert got == _oracle(con, "sim_ivfpq_recall_clustered")
    (nq, nt, hi, ri, hp, rp) = got[0]
    assert (nq, nt) == (10, 50)
    assert ri == 1.0  # single list -> exact arm sees everything
    assert rp <= ri


def _write_orders(spark, tmp_path, rows):
    out = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).coalesce(1).write.parquet(out)
    return out


def test_permutation_test_all_equal_p_is_one(spark, tmp_path):
    """When every order value is identical, every permutation statistic
    equals the observed 0, so n_ge = B and p_ppm = 1e6 exactly — the
    no-signal closed form."""
    from catme_etl_spark.operators.stats import stats_permutation_test_md5

    rows = [(i, "F" if i % 2 == 0 else "O", 50.0) for i in range(1, 9)]
    out = _write_orders(spark, tmp_path, rows)
    got = _spark_rows(stats_permutation_test_md5(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "stats_permutation_test_md5")
    assert got == [(4, 4, 0, 32, 32, 1000000)]


def test_permutation_test_signal_and_guard(spark, tmp_path):
    """A 1000x mean gap between groups: cross-engine equal, observed
    statistic is the hand value 2*|sumF*nO - sumO*nF| form, and the
    p-value is strictly below 1. All-one-group raises LOUDLY on both
    engines."""
    import pytest

    from catme_etl_spark.operators.stats import stats_permutation_test_md5

    rows = [
        (1, "F", 1000.0),
        (2, "F", 1000.0),
        (3, "O", 1.0),
        (4, "O", 1.0),
    ]
    out = _write_orders(spark, tmp_path, rows)
    got = _spark_rows(stats_permutation_test_md5(spark, str(tmp_path)))
    con = _con("orders", out)
    assert got == _oracle(con, "stats_permutation_test_md5")
    (na, nb, t_obs, bp, n_ge, p_ppm) = got[0]
    assert (na, nb, bp) == (2, 2, 32)
    assert t_obs == abs(2 * 200000 - 2 * 200)
    assert 0 <= n_ge <= 32
    assert p_ppm < 1000000

    one_group = [(i, "F", float(i)) for i in range(1, 6)]
    import os

    os.makedirs(str(tmp_path / "g2"), exist_ok=True)
    out2 = _write_orders(spark, tmp_path / "g2", one_group)
    with pytest.raises(Exception, match="permutation test undefined"):
        stats_permutation_test_md5(spark, str(tmp_path / "g2")).collect()
    con2 = _con("orders", out2)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="permutation test undefined"):
        _oracle(con2, "stats_permutation_test_md5")


def test_changepoint_step_and_tie(spark, tmp_path):
    """A clean level shift [10,10,10,10,50,50,50,50] splits exactly at
    the boundary with gap 40 events/day upward; the symmetric series
    [5,9,5] ties two splits (both score 4/2) and the EARLIEST day must
    win. Single-day series raise loudly on both engines."""
    import pytest

    from catme_etl_spark.operators.events import (
        events_changepoint_max_meanshift,
    )

    day = 86400
    d0 = dt.datetime(2024, 1, 1)
    day_us = 86_400_000_000

    def day_start_us(offset):
        e = int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) + offset * day
        return (e * 1_000_000 // day_us) * day_us

    rows = []
    for dd, n in enumerate([10, 10, 10, 10, 50, 50, 50, 50]):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(events_changepoint_max_meanshift(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "events_changepoint_max_meanshift")
    assert got == [(8, day_start_us(3), 4, 4, 40_000_000, 1)]

    import os

    os.makedirs(str(tmp_path / "tie"), exist_ok=True)
    rows2 = []
    for dd, n in enumerate([5, 9, 5]):
        for i in range(n):
            rows2.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out2 = _write_events(spark, tmp_path / "tie", rows2)
    got2 = _spark_rows(
        events_changepoint_max_meanshift(spark, str(tmp_path / "tie"))
    )
    con2 = _con("events", out2)
    assert got2 == _oracle(con2, "events_changepoint_max_meanshift")
    assert got2 == [(3, day_start_us(0), 1, 2, 2_000_000, 1)]

    os.makedirs(str(tmp_path / "one"), exist_ok=True)
    out3 = _write_events(
        spark, tmp_path / "one", [(1, d0, "view", 1.0), (2, d0, "view", 1.0)]
    )
    with pytest.raises(Exception, match="changepoint undefined"):
        events_changepoint_max_meanshift(
            spark, str(tmp_path / "one")
        ).collect()
    con3 = _con("events", out3)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="changepoint undefined"):
        _oracle(con3, "events_changepoint_max_meanshift")


def test_winnowing_shared_substring_pairs(spark, tmp_path):
    """The winnowing guarantee, exercised: docs 1/2 share only a long
    middle substring inside otherwise-different text (the whole-doc
    similarity families score them low; the char-level fingerprints
    must pair them); doc 4 is byte-identical to doc 1 (maximal
    overlap); doc 3 shares nothing; doc 5 is shorter than the K+W-1
    guarantee threshold and exits. Cross-engine equal."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import (
        dedup_winnowing_fingerprint_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    t1 = "alpha start block " + shared + " omega finish one"
    t2 = "completely different preamble " + shared + " unrelated tail two"
    t3 = "nothing here matches anything else in this tiny corpus at all"
    docs = [
        (1, t1, "en", "s", 1),
        (2, t2, "en", "s", 1),
        (3, t3, "en", "s", 1),
        (4, t1, "en", "s", 1),
        (5, "short text", "en", "s", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(
            dedup_winnowing_fingerprint_pairs(spark, str(tmp_path))
        )
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "dedup_winnowing_fingerprint_pairs")
    by_pair = {(a, b): n for a, b, n in got}
    assert (1, 4) in by_pair  # identical docs: maximal overlap
    assert (1, 2) in by_pair  # shared substring caught cross-document
    assert by_pair[(1, 2)] == by_pair.get((2, 4))  # same shared region
    assert by_pair[(1, 4)] > by_pair[(1, 2)]
    assert all(3 not in p and 5 not in p for p in by_pair)


def test_stream_changepoint_equals_batch(spark, tmp_path):
    """The streaming changepoint arm must emit exactly the batch
    verdict on the same data (complete-mode daily counts equal batch
    daily counts): reuse the clean-step series."""
    from catme_etl_spark.operators.events import (
        events_changepoint_max_meanshift,
    )
    from catme_etl_spark.streaming.jobs import stream_changepoint_daily

    day = 86400
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    for dd, n in enumerate([10, 10, 10, 50, 50]):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(stream_changepoint_daily(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_changepoint_daily")
    assert got == _spark_rows(
        events_changepoint_max_meanshift(spark, str(tmp_path))
    )
    assert got[0][2:] == (3, 2, 40_000_000, 1)


def test_time_decay_dyadic_credits_and_lookback(spark, tmp_path):
    """Hand-computed dyadic ledger: three clicks (two in hour 0, one in
    hour 1) before a $1.00 purchase split 1/7, 2/7, 4/7 -> floor
    credits 14/28/57 with the single lost penny going to the largest
    remainder (k=2, rem 4): hour 0 reads $0.43, hour 1 $0.57 —
    conservation is exact. A second user fires 18 clicks: only the
    LAST 16 are credited (n_credited = 16), value still fully
    conserved."""
    from catme_etl_spark.operators.rangejoin import (
        events_attribution_time_decay,
    )

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        # user 1: trio straddling the hour boundary
        (101, 1, t0 + dt.timedelta(minutes=50), "click", 0.0),
        (102, 1, t0 + dt.timedelta(minutes=55), "click", 0.0),
        (103, 1, t0 + dt.timedelta(minutes=65), "click", 0.0),
        (104, 1, t0 + dt.timedelta(minutes=70), "purchase", 1.00),
    ]
    # user 2: 18 clicks, only last 16 credited (far-away day)
    t2 = dt.datetime(2024, 6, 5, 3, 0, 0)
    for i in range(18):
        rows.append((200 + i, 2, t2 + dt.timedelta(minutes=i), "click", 0.0))
    rows.append((299, 2, t2 + dt.timedelta(minutes=18), "purchase", 1.00))
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp,"
        " event_type string, value double",
    ).coalesce(1).write.parquet(out)
    got = _spark_rows(events_attribution_time_decay(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "events_attribution_time_decay")

    def hr_us(base, mins):
        e = int(
            (base + dt.timedelta(minutes=mins))
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
        )
        return (e // 3600) * 3600 * 1_000_000

    assert got == sorted(
        [
            (hr_us(t0, 50), 2, 0.43),   # 14 + (28+1 penny)
            (hr_us(t0, 65), 1, 0.57),   # floor(400/7)
            (hr_us(t2, 0), 16, 1.0),    # lookback cap, conserved
        ]
    )


def test_stream_winnowing_shard_equals_batch(spark, tmp_path):
    """The streaming fp-shard index must emit exactly the batch index
    rows on the same corpus (complete-mode fold equals batch groupBy):
    identical docs 1/4 post the same fingerprints, so every shard row
    they touch reads n_docs >= 2 with canonical 1. Every emitted fp is
    in this worker's shard (fp % 64 == 0)."""
    from catme_etl_spark.streaming.jobs import (
        _WINNOW_SHARD,
        stream_winnowing_shard_index,
    )

    base = " ".join(f"tok{i:03d}" for i in range(40))  # ~280 chars
    docs = [
        (1, base, "en", "s", 1),
        (4, base, "en", "s", 1),
        (2, "completely different material " * 8, "en", "s", 1),
        (5, "tiny", "en", "s", 1),  # below K+W-1: absent
    ]
    out = _write_docs(spark, tmp_path, docs)
    got = _spark_rows(stream_winnowing_shard_index(spark, str(tmp_path)))
    con = _con("documents", out)
    assert got == _oracle(con, "stream_winnowing_shard_index")
    assert all(fp % _WINNOW_SHARD == 0 for fp, _, _ in got)
    dup_rows = [r for r in got if r[2] == 1]
    assert all(n >= 2 for _, n, _ in dup_rows)  # doc 4 merged into 1's
    assert all(c in (1, 2) for _, _, c in got)  # doc 5 never posts


def test_winnowing_containment_excerpt(spark, tmp_path):
    """An excerpt document (a contiguous chunk of a bigger one plus a
    short unique tail) must be reported CONTAINED in its source with
    containment >= 0.5, while whole-doc similarity would read low; an
    unrelated doc never pairs. Cross-engine equal."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.dedup import dedup_winnowing_containment

    words = [f"word{i:03d}" for i in range(60)]
    a = " ".join(words)
    b = " ".join(words[10:30] + ["uniq1", "uniq2", "uniq3"])
    c = " ".join(f"other{i:03d}" for i in range(40))
    docs = [
        (1, a, "en", "s", 1),
        (2, b, "en", "s", 1),
        (3, c, "en", "s", 1),
    ]
    out = _write_docs(spark, tmp_path, docs)
    clear_shared()
    try:
        got = _spark_rows(dedup_winnowing_containment(spark, str(tmp_path)))
    finally:
        clear_shared()
    con = _con("documents", out)
    assert got == _oracle(con, "dedup_winnowing_containment")
    assert len(got) == 1
    (contained, container, shared, nmin, ppm) = got[0]
    assert (contained, container) == (2, 1)
    assert ppm >= 500000
    assert shared <= nmin


def test_holt_forecast_linear_series_exact(spark, tmp_path):
    """A perfectly linear daily series must forecast its own line
    exactly (l = last value, b = slope, zero floor loss); a declining
    series forecasts negative honestly; a single-day series raises
    loudly on both engines."""
    import pytest

    from catme_etl_spark.operators.timeseries import ts_holt_linear_forecast

    day = 86400
    d0 = dt.datetime(2024, 2, 1)

    def series(path, counts):
        rows = []
        for dd, n in enumerate(counts):
            for i in range(n):
                rows.append(
                    (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
                )
        import os

        os.makedirs(str(path), exist_ok=True)
        return _write_events(spark, path, rows)

    out = series(tmp_path / "lin", [5, 10, 15, 20])
    got = _spark_rows(ts_holt_linear_forecast(spark, str(tmp_path / "lin")))
    con = _con("events", out)
    assert got == _oracle(con, "ts_holt_linear_forecast")
    day_us = 86_400_000_000
    e3 = (
        int(d0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        // day_us
        + 3
    ) * day_us
    assert got == [(h, e3 + h * day_us, 20 + 5 * h) for h in range(1, 8)]

    out2 = series(tmp_path / "dec", [10, 8, 6])
    got2 = _spark_rows(ts_holt_linear_forecast(spark, str(tmp_path / "dec")))
    con2 = _con("events", out2)
    assert got2 == _oracle(con2, "ts_holt_linear_forecast")
    assert [f for _, _, f in got2] == [4, 2, 0, -2, -4, -6, -8]

    out3 = series(tmp_path / "one", [4])
    with pytest.raises(Exception, match="holt forecast undefined"):
        ts_holt_linear_forecast(spark, str(tmp_path / "one")).collect()
    con3 = _con("events", out3)
    import duckdb as _ddb

    with pytest.raises(_ddb.Error, match="holt forecast undefined"):
        _oracle(con3, "ts_holt_linear_forecast")

    # Fully EMPTY events: zero applyInPandas groups would silently
    # return an empty frame while the oracle raises (round-10 ADVICE
    # divergence) — the NULL-sentinel union keeps the guard on the
    # Spark path too, so BOTH engines raise.
    out4 = series(tmp_path / "zero", [])
    with pytest.raises(Exception, match="holt forecast undefined"):
        ts_holt_linear_forecast(spark, str(tmp_path / "zero")).collect()
    con4 = _con("events", out4)
    with pytest.raises(_ddb.Error, match="holt forecast undefined"):
        _oracle(con4, "ts_holt_linear_forecast")


def test_stream_holt_equals_batch(spark, tmp_path):
    """The streaming Holt arm must emit exactly the batch forecast on
    the same data — reuse the linear series whose forecast is its own
    line."""
    from catme_etl_spark.operators.timeseries import ts_holt_linear_forecast
    from catme_etl_spark.streaming.jobs import stream_holt_forecast_daily

    day = 86400
    d0 = dt.datetime(2024, 2, 1)
    rows = []
    for dd, n in enumerate([5, 10, 15, 20]):
        for i in range(n):
            rows.append(
                (1, d0 + dt.timedelta(seconds=dd * day + i), "view", 1.0)
            )
    out = _write_events(spark, tmp_path, rows)
    got = _spark_rows(stream_holt_forecast_daily(spark, str(tmp_path)))
    con = _con("events", out)
    assert got == _oracle(con, "stream_holt_forecast_daily")
    assert got == _spark_rows(ts_holt_linear_forecast(spark, str(tmp_path)))
    assert [f for _, _, f in got] == [25, 30, 35, 40, 45, 50, 55]
