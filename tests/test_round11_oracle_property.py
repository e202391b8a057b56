"""Third-implementation property checks for the round-11 debut queue
(the `test_round9_oracle_property` pattern): each queued oracle runs
against an INDEPENDENT pure-Python mirror over hypothesis-generated
tables — DuckDB-only, no Spark session."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
from hypothesis import assume, given, settings
from hypothesis import strategies as st

import __spark_entry__ as entry  # noqa: F401 — populates the registries


def _oracle_rows(name: str, **frames) -> list[tuple]:
    from catme_etl_spark.operators.registry import ORACLE

    sql = ORACLE[name]
    con = duckdb.connect()
    for t, df in frames.items():
        con.register(t, df)
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _md5_56(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


# --- changepoint: max mean-shift split --------------------------------------

daily_strategy = st.lists(
    st.integers(min_value=1, max_value=50), min_size=2, max_size=12
)


@settings(max_examples=120, deadline=None)
@given(daily_strategy)
def test_changepoint_oracle_equals_rational_mirror(daily):
    rows = []
    for d, n in enumerate(daily):
        for i in range(n):
            rows.append((1, d * 86400 + i, "view", 1.0))
    df = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_changepoint_max_meanshift", events=df)

    n, s = len(daily), sum(daily)
    best = None  # (a, b, k, sl) with ties -> smallest k (strict > keeps it)
    for k in range(1, n):
        nl, nr = k, n - k
        sl = sum(daily[:k])
        sr = s - sl
        a, b = abs(nr * sl - nl * sr), nl * nr
        if best is None or a * best[1] > best[0] * b:
            best = (a, b, k, sl)
    a, b, k, sl = best
    nl, nr = k, n - k
    sr = s - sl
    diff = nr * sl - nl * sr
    sign = 1 if diff < 0 else (-1 if diff > 0 else 0)
    expect = [
        (
            n,
            (k - 1) * 86_400_000_000,
            nl,
            nr,
            (1_000_000 * a) // b,
            sign,
        )
    ]
    assert got == expect


# --- md5 permutation test ----------------------------------------------------

orders_strategy = st.lists(
    st.tuples(
        st.sampled_from(["F", "O", "P"]), st.integers(min_value=1, max_value=9999)
    ),
    min_size=2,
    max_size=24,
)


@settings(max_examples=100, deadline=None)
@given(orders_strategy)
def test_permutation_oracle_equals_md5_mirror(orders):
    statuses = [s for s, _ in orders]
    assume("F" in statuses and any(s != "F" for s in statuses))
    df = pd.DataFrame(
        {
            "o_orderkey": range(1, len(orders) + 1),
            "o_orderstatus": statuses,
            "o_totalprice": [float(d) for _, d in orders],
        }
    )
    got = _oracle_rows("stats_permutation_test_md5", orders=df)

    panel = sorted(
        (
            (hashlib.md5(str(k).encode()).hexdigest(), k, s, d * 100)
            for k, (s, d) in enumerate(orders, start=1)
        )
    )
    grp = [1 if s == "F" else 0 for _, _, s, _ in panel]
    vc = [c for _, _, _, c in panel]
    n = len(panel)
    na, nb = sum(grp), n - sum(grp)

    def stat(assign):
        sa = sum(v for v, g in zip(vc, assign) if g == 1)
        sb = sum(v for v, g in zip(vc, assign) if g == 0)
        return abs(nb * sa - na * sb)

    t_obs = stat(grp)
    n_ge = 0
    for b in range(32):
        hs = sorted(
            (_md5_56(f"{b}_{rk}"), rk) for rk in range(1, n + 1)
        )
        in_a = {rk for _, rk in hs[:na]}
        assign = [1 if rk in in_a else 0 for rk in range(1, n + 1)]
        if stat(assign) >= t_obs:
            n_ge += 1
    expect = [
        (na, nb, t_obs, 32, n_ge, (1_000_000 * (1 + n_ge)) // 33)
    ]
    assert got == expect


# --- winnowing fingerprints ---------------------------------------------------

texts_strategy = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=60),
    min_size=1,
    max_size=6,
)


@settings(max_examples=100, deadline=None)
@given(texts_strategy)
def test_winnowing_oracle_equals_python_mirror(texts):
    K, W, T, CAP = 16, 8, 2, 64
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    got = _oracle_rows("dedup_winnowing_fingerprint_pairs", documents=df)

    fps: dict[int, set[int]] = {}
    for doc_id, t in enumerate(texts, start=1):
        ng = len(t) - K + 1
        if ng < W:
            continue
        hs = [_md5_56(t[i : i + K]) for i in range(ng)]
        fps[doc_id] = {min(hs[i : i + W]) for i in range(ng - W + 1)}
    df_count: dict[int, int] = {}
    for s in fps.values():
        for f in s:
            df_count[f] = df_count.get(f, 0) + 1
    live = {f for f, c in df_count.items() if c <= CAP}
    expect = []
    docs = sorted(fps)
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            shared = len(fps[a] & fps[b] & live)
            if shared >= T:
                expect.append((a, b, shared))
    assert got == sorted(expect)


# --- time-decay attribution ----------------------------------------------------

decay_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=28),  # click minute
    ),
    min_size=0,
    max_size=22,
).flatmap(
    lambda clicks: st.tuples(
        st.just([m for (m,) in clicks]),
        st.integers(min_value=1, max_value=99999),  # purchase cents
    )
)


@settings(max_examples=100, deadline=None)
@given(decay_strategy)
def test_time_decay_oracle_equals_ledger_mirror(case):
    minutes, cents = case
    base = pd.Timestamp("2024-06-01 00:00:00")
    rows = []
    for i, m in enumerate(minutes):
        rows.append((100 + i, 1, base + pd.Timedelta(minutes=m), "click", 0.0))
    rows.append((999, 1, base + pd.Timedelta(minutes=29), "purchase",
                 cents / 100.0))
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    got = _oracle_rows("events_attribution_time_decay", events=df)

    LOOKBACK = 16
    # pair order: by (click ts, click id); credited suffix of length m
    clicks = sorted(
        (base + pd.Timedelta(minutes=m), 100 + i)
        for i, m in enumerate(minutes)
    )
    n = len(clicks)
    if n == 0:
        assert got == []
        return
    m = min(n, LOOKBACK)
    denom = (1 << m) - 1
    cred = clicks[n - m :]
    fl = [(cents * (1 << k)) // denom for k in range(m)]
    rem = [(cents * (1 << k)) % denom for k in range(m)]
    loss = cents - sum(fl)
    order = sorted(range(m), key=lambda k: (-rem[k], -k))
    credit = list(fl)
    for j in range(loss):
        credit[order[j]] += 1
    by_hour: dict[int, list[int]] = {}
    for k, (cts, _) in enumerate(cred):
        h = (int(cts.timestamp()) // 3600) * 3600 * 1_000_000
        by_hour.setdefault(h, []).append(credit[k])
    expect = sorted(
        (h, len(cs), round(sum(cs) / 100.0, 2))
        for h, cs in by_hour.items()
    )
    assert got == expect


# --- winnowing containment -----------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(texts_strategy)
def test_containment_oracle_equals_python_mirror(texts):
    K, W, T, CAP = 16, 8, 2, 64
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    got = _oracle_rows("dedup_winnowing_containment", documents=df)

    fps: dict[int, set[int]] = {}
    for doc_id, t in enumerate(texts, start=1):
        ng = len(t) - K + 1
        if ng < W:
            continue
        hs = [_md5_56(t[i : i + K]) for i in range(ng)]
        fps[doc_id] = {min(hs[i : i + W]) for i in range(ng - W + 1)}
    df_count: dict[int, int] = {}
    for s in fps.values():
        for f in s:
            df_count[f] = df_count.get(f, 0) + 1
    live = {f for f, c in df_count.items() if c <= CAP}
    idx = {d: s & live for d, s in fps.items()}
    expect = []
    docs = sorted(idx)
    for i, a in enumerate(docs):
        for b in docs[i + 1 :]:
            shared = len(idx[a] & idx[b])
            if shared < T:
                continue
            na, nb = len(idx[a]), len(idx[b])
            mn = min(na, nb)
            if 2 * shared < mn:
                continue
            if na < nb:
                small, big = a, b
            elif nb < na:
                small, big = b, a
            else:
                small, big = max(a, b), min(a, b)
            expect.append(
                (small, big, shared, mn, (1_000_000 * shared) // mn)
            )
    assert got == sorted(expect)
