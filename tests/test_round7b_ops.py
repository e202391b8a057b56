"""Crafted-table invariants for the round-7b operator batch, pinned
cross-engine (the `test_round6c_boundaries` pattern): epoch-plan
budget conservation and the 4-epoch cap, triangle closure on a known
clique, exact-integer order-total drift, OOV across the deterministic
split, zero-vector handling in the norm audit, and a perfect-overlap
stickiness week."""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb

import __spark_entry__ as entry


def _bucket(doc_id: int) -> int:
    """Python mirror of sampling.hash_bucket(doc_id, 100): md5 of the
    id's string form, first 14 hex chars -> int, mod 100."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16) % 100


def _oracle(con, name):
    """Rows of the registered oracle SQL for ``name``."""
    sql = entry.oracle_sql()[name]
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_epoch_mix_plan_budget_and_cap(spark, tmp_path):
    """Sigma target_tokens == 500_000 exactly (floor + first-remainder),
    n_epochs is the integer ceiling, and a tiny source hits the
    4-epoch cap with the deficit explicit (capped < target)."""
    from catme_etl_spark.operators.sampling import sample_epoch_mix_plan

    docs = [
        (1, " ".join(["w"] * 400), "big", 1),
        (2, " ".join(["w"] * 100), "mid", 1),
        (3, "w w w", "tiny", 1),  # 3 tokens -> cap at 12 << target
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    )
    out = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(out)

    got = _spark_rows(sample_epoch_mix_plan(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sample_epoch_mix_plan")

    by_src = {r[0]: r for r in got}
    assert sum(r[2] for r in got) == 500_000
    for _src, avail, target, _rf, n_epochs, capped in got:
        assert n_epochs == -(-target // avail)  # ceil in pure ints
        assert capped == min(target, 4 * avail)
    # 3 sources, 500000 % 3 == 2: the first two by name get the +1
    assert by_src["big"][2] == by_src["mid"][2] == 166_667
    assert by_src["tiny"][2] == 166_666
    assert by_src["tiny"][5] == 12  # 4-epoch cap bites: 4 * 3 tokens


def test_triangle_count_on_known_clique(spark, tmp_path):
    """4 identical vectors form K4 (6 edges, 12 wedges, 4 triangles,
    coefficient 1.0); an orthogonal 5th vector stays isolated. Both
    engines agree and the closed-form numbers match."""
    from catme_etl_spark.operators.dedup import sim_graph_triangle_count
    from catme_etl_spark.operators._shared import clear_shared

    one = [1.0] + [0.0] * 7
    ortho = [0.0] * 7 + [1.0]
    rows = [(i, one, 0) for i in range(4)] + [(9, ortho, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(out)

    clear_shared()  # drop any session-cached edge snapshot for other sf_dirs
    got = _spark_rows(sim_graph_triangle_count(spark, str(tmp_path)))
    clear_shared()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{out}/*.parquet'")
    assert got == _oracle(con, "sim_graph_triangle_count")
    assert got == [(6, 12, 4, 1.0)]


def test_order_total_consistency_exact_cents(spark, tmp_path):
    """One consistent order, one off by exactly 2 cents, one with no
    lineitems: the audit separates all three, max_abs_diff reads 0.02,
    and both engines hash-agree (exact integer micro-units)."""
    from catme_etl_spark.operators.quality import (
        quality_order_total_consistency,
    )

    # lineitem: ext * (1 - disc) * (1 + tax)
    li = [
        (1, 100.00, 0.10, 0.05),  # -> 94.50
        (1, 50.00, 0.00, 0.00),  # -> 50.00 (order 1 total 144.50)
        (2, 10.00, 0.00, 0.00),  # -> 10.00
    ]
    orders = [
        (1, "O", 144.50),  # consistent
        (2, "O", 10.02),  # 2 cents drift
        (3, "F", 99.99),  # no lineitems
    ]
    spark.createDataFrame(
        li, "l_orderkey long, l_extendedprice double, l_discount double, l_tax double"
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    got = _spark_rows(quality_order_total_consistency(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet/*.parquet'"
    )
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet/*.parquet'"
    )
    assert got == _oracle(con, "quality_order_total_consistency")
    by_status = {r[0]: r for r in got}
    assert by_status["O"] == ("O", 2, 2, 1, 0.02)
    assert by_status["F"][1:] == (1, 0, 0, None)


def test_oov_rate_split_crafted_unknown_token(spark, tmp_path):
    """A val doc carrying one token the train split never produced
    yields exactly that token's occurrences as OOV, on both engines.
    Doc ids are picked BY their md5 bucket so the crafted docs land in
    the intended splits."""
    from catme_etl_spark.operators.text import text_oov_rate_split

    train_id = next(i for i in range(1000) if _bucket(i) < 80)
    val_id = next(i for i in range(1000) if 80 <= _bucket(i) < 90)
    test_id = next(i for i in range(1000) if _bucket(i) >= 90)
    docs = [
        (train_id, "alpha beta gamma", "s", 1),
        (val_id, "alpha zzz zzz", "s", 1),  # zzz is OOV, twice
        (test_id, "beta gamma", "s", 1),  # fully covered
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = _spark_rows(text_oov_rate_split(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    assert got == _oracle(con, "text_oov_rate_split")
    by_split = {r[0]: r for r in got}
    assert by_split["val"] == ("val", 3, 2, round(2 / 3, 6))
    assert by_split["test"] == ("test", 2, 0, 0.0)


def test_norm_audit_zero_vector_lands_in_bin0(spark, tmp_path):
    """The degenerate zero vector the quantization kernels guard
    against is exactly what the audit must surface: norm 0 -> bin 0,
    on both engines (Spark's sequential fold == DuckDB list_sum)."""
    from catme_etl_spark.operators.similarity import sim_norm_audit

    rows = [
        (0, [0.0] * 4, 0),  # zero vector -> bin 0
        (1, [3.0, 4.0, 0.0, 0.0], 0),  # norm 5.0 -> bin 20
        (2, [0.3, 0.0, 0.0, 0.0], 0),  # norm 0.3 -> bin 1
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    got = _spark_rows(sim_norm_audit(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    assert got == _oracle(con, "sim_norm_audit")
    assert got == [(0, 1, 0.0), (1, 1, 0.3), (20, 1, 5.0)]


def test_stickiness_perfect_and_sparse_weeks(spark, tmp_path):
    """One user active all 7 days of a Monday-aligned week ->
    stickiness 1.0; the next week, 2 users 1 day each -> avg DAU 2
    over one active day, WAU 2, stickiness 1.0 vs 7-day DAU ... the
    sparse week: 2 users on ONE day only -> avg_dau 2.0, wau 2,
    stickiness 1.0; split across two days -> avg_dau 1.0, wau 2, 0.5."""
    from catme_etl_spark.operators.events import events_dau_wau_stickiness

    base = dt.datetime(2024, 1, 1, 12, 0, 0)  # a Monday
    rows = []
    eid = 0
    for d in range(7):  # user 1: every day of week 1
        rows.append((eid, base + dt.timedelta(days=d), 1, "view", 1.0, "{}"))
        eid += 1
    wk2 = base + dt.timedelta(days=7)
    rows.append((eid, wk2, 2, "view", 1.0, "{}"))  # user 2, Monday
    eid += 1
    rows.append((eid, wk2 + dt.timedelta(days=1), 3, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = _spark_rows(events_dau_wau_stickiness(spark, str(tmp_path)))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    assert got == _oracle(con, "events_dau_wau_stickiness")
    by_wk = {r[0]: r for r in got}
    assert by_wk[dt.date(2024, 1, 1)][1:] == (1.0, 1, 1.0)
    # week 2: users 2 and 3 on different days -> avg_dau 1.0 / wau 2
    assert by_wk[dt.date(2024, 1, 8)][1:] == (1.0, 2, 0.5)
