"""Third-implementation property checks for the round-12 debut queue
(the `test_round9_oracle_property` pattern): each queued oracle runs
against an INDEPENDENT pure-Python mirror over hypothesis-generated
tables — DuckDB-only, no Spark session."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as entry  # noqa: F401 — populates the registries


def _oracle_rows(name: str, **frames) -> list[tuple]:
    from catme_etl_spark.operators.registry import ORACLE

    sql = ORACLE[name]
    con = duckdb.connect()
    for t, df in frames.items():
        con.register(t, df)
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# --- Neyman allocation: isqrt weights + largest remainder --------------------

strata_strategy = st.dictionaries(
    st.sampled_from(["A", "B", "C", "D"]),
    st.lists(st.integers(min_value=0, max_value=900), min_size=1,
             max_size=8),
    min_size=1,
    max_size=4,
)


@settings(max_examples=120, deadline=None)
@given(strata_strategy)
def test_neyman_oracle_equals_isqrt_mirror(strata):
    # values are kilodollar units; write totalprice = v * 1000 dollars
    rows = [
        (s, float(v * 1000)) for s, vs in strata.items() for v in vs
    ]
    df = pd.DataFrame(rows, columns=["o_orderpriority", "o_totalprice"])
    weights = {}
    for s, vs in strata.items():
        n, s1, s2 = len(vs), sum(vs), sum(v * v for v in vs)
        weights[s] = math.isqrt(n * s2 - s1 * s1)
    tw = sum(weights.values())
    if tw == 0:
        try:
            _oracle_rows("sample_neyman_allocation", orders=df)
            raise AssertionError("expected loud guard on zero weight")
        except duckdb.Error:
            return
    got = _oracle_rows("sample_neyman_allocation", orders=df)
    fshare = {s: (1000000 * w) // tw for s, w in weights.items()}
    rem = {s: (1000000 * w) % tw for s, w in weights.items()}
    leftover = 1000000 - sum(fshare.values())
    order = sorted(weights, key=lambda s: (-rem[s], s))
    alloc = {
        s: fshare[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    expect = sorted(
        (s, len(strata[s]), weights[s], alloc[s]) for s in strata
    )
    assert got == expect
    assert sum(a for _, _, _, a in got) == 1000000


# --- Holt-Winters weekly: 9-state dyadic recursion ---------------------------

hw_strategy = st.lists(
    st.integers(min_value=0, max_value=200), min_size=2, max_size=25
)


@settings(max_examples=100, deadline=None)
@given(hw_strategy)
def test_holt_winters_oracle_equals_python_mirror(daily):
    rows = []
    for d, n in enumerate(daily):
        for i in range(n):
            rows.append((1, d * 86400 + i, "view", 1.0))
    if not rows:
        rows = [(1, 0, "view", 1.0), (1, 86400, "view", 1.0)]
        daily = [1, 1]
    df = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    # drop zero-count days the same way the oracle's GROUP BY does
    days = [d for d, n in enumerate(daily) if n > 0]
    xs = [daily[d] for d in days]
    if len(xs) < 2:
        try:
            _oracle_rows("ts_holt_winters_weekly", events=df)
            raise AssertionError("expected loud guard on <2 days")
        except duckdb.Error:
            return
    got = _oracle_rows("ts_holt_winters_weekly", events=df)
    l, b = xs[0], xs[1] - xs[0]
    s = [0] * 7
    for t in range(1, len(xs)):
        x, dow = xs[t], days[t] % 7
        s_old = s[dow]
        l_new = math.floor((x - s_old + l + b) / 2.0)
        b = math.floor((b + l_new - l) / 2.0)
        s[dow] = math.floor((x - l_new + s_old) / 2.0)
        l = l_new
    last = days[-1]
    expect = sorted(
        (
            h,
            (last + h) * 86_400_000_000,
            l + h * b + s[(last + h) % 7],
        )
        for h in range(1, 8)
    )
    assert got == expect


# --- two-level changepoint: brute-force mirror --------------------------------

cp_strategy = st.lists(
    st.integers(min_value=1, max_value=40), min_size=2, max_size=10
)


def _best_split(days, counts):
    """(day, nl, nr, a, b, sign) of the rational argmax, ties earliest;
    None when the segment has < 2 days."""
    n = len(days)
    if n < 2:
        return None
    s = sum(counts)
    best = None
    for k in range(n - 1):
        nl, nr = k + 1, n - k - 1
        sl = sum(counts[: k + 1])
        sr = s - sl
        a, b = abs(nr * sl - nl * sr), nl * nr
        if best is None or a * best[4] > best[3] * b:
            best = (days[k], nl, nr, a, b, nr * sl - nl * sr)
    day, nl, nr, a, b, diff = best
    sign = 1 if diff < 0 else (-1 if diff > 0 else 0)
    return (day, nl, nr, a, b, sign)


@settings(max_examples=120, deadline=None)
@given(cp_strategy)
def test_changepoint_two_level_oracle_equals_brute(daily):
    rows = []
    for d, n in enumerate(daily):
        for i in range(n):
            rows.append((1, d * 86400 + i, "view", 1.0))
    df = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_changepoint_two_level", events=df)

    days = list(range(len(daily)))
    us = 86_400_000_000

    def row(level, seg, split):
        day, nl, nr, a, b, sign = split
        return (level, seg, day * us, nl, nr, (1000000 * a) // b, sign)

    top = _best_split(days, daily)
    expect = [row(1, "all", top)]
    cut = top[0]
    left_days = [d for d in days if d <= cut]
    right_days = [d for d in days if d > cut]
    ls = _best_split(left_days, [daily[d] for d in left_days])
    rs = _best_split(right_days, [daily[d] for d in right_days])
    if ls:
        expect.append(row(2, "left", ls))
    if rs:
        expect.append(row(2, "right", rs))
    assert got == sorted(expect)


# --- source signature terms: tf/df floor-ppm top-k ----------------------------

docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.lists(
            st.sampled_from(["x", "y", "z", "w", "q", "r", "t"]),
            min_size=1,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=120, deadline=None)
@given(docs_strategy)
def test_signature_terms_oracle_equals_python_mirror(docs):
    rows = [
        (i, " ".join(toks), "en", src, 1)
        for i, (src, toks) in enumerate(docs)
    ]
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = _oracle_rows("text_source_signature_terms", documents=df)

    tf: dict = {}
    dfreq: dict = {}
    for i, (src, toks) in enumerate(docs):
        for t in toks:
            tf[(src, t)] = tf.get((src, t), 0) + 1
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    expect = []
    for src in sorted({s for s, _ in tf}):
        scored = sorted(
            (
                -((1000000 * tf[(s, t)]) // dfreq[t]),
                t,
                tf[(s, t)],
                dfreq[t],
            )
            for (s, t) in tf
            if s == src
        )
        for rk, (negscore, term, tfv, dfv) in enumerate(scored[:5], 1):
            expect.append((src, term, tfv, dfv, -negscore, rk))
    assert got == sorted(expect)


# --- Neyman draw: targets, cap/shortfall, exact hash-order selection ---------

draw_strategy = st.dictionaries(
    st.sampled_from(["A", "B", "C", "D"]),
    st.lists(st.integers(min_value=0, max_value=900), min_size=1,
             max_size=30),
    min_size=1,
    max_size=4,
)


@settings(max_examples=100, deadline=None)
@given(draw_strategy)
def test_neyman_draw_oracle_equals_python_mirror(strata):
    import hashlib

    rows, okey = [], 0
    for s in sorted(strata):
        for v in strata[s]:
            okey += 1
            rows.append((okey, s, float(v * 1000)))
    df = pd.DataFrame(
        rows, columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    weights = {}
    for s, vs in strata.items():
        n, s1, s2 = len(vs), sum(vs), sum(v * v for v in vs)
        weights[s] = math.isqrt(n * s2 - s1 * s1)
    tw = sum(weights.values())
    if tw == 0:
        try:
            _oracle_rows("sample_neyman_draw", orders=df)
            raise AssertionError("expected loud guard on zero weight")
        except duckdb.Error:
            return
    got = _oracle_rows("sample_neyman_draw", orders=df)

    # allocation ppm (mirrors the certified allocation kernel)
    fshare = {s: (1000000 * w) // tw for s, w in weights.items()}
    rem = {s: (1000000 * w) % tw for s, w in weights.items()}
    leftover = 1000000 - sum(fshare.values())
    order = sorted(weights, key=lambda s: (-rem[s], s))
    alloc = {
        s: fshare[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    # sample budget + largest-remainder targets
    n_corpus = sum(len(vs) for vs in strata.values())
    n_total = n_corpus // 20
    fsh = {s: (alloc[s] * n_total) // 1000000 for s in strata}
    rm = {s: (alloc[s] * n_total) % 1000000 for s in strata}
    left2 = n_total - sum(fsh.values())
    order2 = sorted(strata, key=lambda s: (-rm[s], s))
    target = {
        s: fsh[s] + (1 if i < left2 else 0) for i, s in enumerate(order2)
    }
    # deterministic hash-order draw per stratum, capped
    by_s: dict = {}
    for k, s, price in rows:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        by_s.setdefault(s, []).append((h, k, round(price * 100)))
    expect = []
    for s in sorted(strata):
        n_rows = len(strata[s])
        n_draw = min(target[s], n_rows)
        shortfall = max(target[s] - n_rows, 0)
        drawn = sorted(by_s[s])[:n_draw]
        expect.append(
            (
                s,
                n_rows,
                target[s],
                n_draw,
                shortfall,
                sum(k for _, k, _ in drawn),
                sum(c for _, _, c in drawn),
            )
        )
    assert got == sorted(expect)
    assert sum(t for _, _, t, _, _, _, _ in got) == n_total
