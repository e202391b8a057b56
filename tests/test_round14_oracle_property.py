"""Third-implementation property checks for the round-14 debut queue
(the `test_round9_oracle_property` pattern): each queued oracle runs
against an INDEPENDENT pure-Python mirror over hypothesis-generated
tables — DuckDB-only, no Spark session."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

import __spark_entry__ as entry  # noqa: F401 — populates the registries

DAY_US = 86_400_000_000


def _oracle_rows(name: str, **frames) -> list[tuple]:
    from catme_etl_spark.operators.registry import ORACLE

    sql = ORACLE[name]
    con = duckdb.connect()
    for t, df in frames.items():
        con.register(t, df)
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# --- trimmed + winsorized mean: exact-rank boundaries ------------------------

orders_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),          # priority index
        st.integers(min_value=1, max_value=5_000_00),   # cents
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=150, deadline=None)
@given(orders_strategy)
def test_trimmed_mean_oracle_equals_python_mirror(rows):
    pris = ["1-URGENT", "2-HIGH"]
    orders = pd.DataFrame(
        [
            (i + 1, pris[p], cents_v / 100.0)
            for i, (p, cents_v) in enumerate(rows)
        ],
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    got = _oracle_rows("agg_trimmed_mean", orders=orders)
    by_pri: dict[str, list[tuple[int, int]]] = {}
    for i, (p, cents_v) in enumerate(rows):
        by_pri.setdefault(pris[p], []).append((cents_v, i + 1))
    expect = []
    for pri in sorted(by_pri):
        ranked = sorted(by_pri[pri])  # (cents, okey) — the oracle's order
        n = len(ranked)
        k = (n * 5) // 100
        kept = [c for c, _ in ranked[k: n - k]]
        s, m = sum(kept), len(kept)
        lo, hi = min(kept), max(kept)
        tmean = math.floor(float(s) / m / 100 * 10000 + 0.5) / 10000
        wmean = (
            math.floor(float(s + k * lo + k * hi) / n / 100 * 10000 + 0.5)
            / 10000
        )
        expect.append((pri, n, k, tmean, wmean))
    assert got == expect
    for _pri, n, k, tmean, wmean in got:
        assert 2 * k < n  # the kept window is never empty


# --- importance reweight: uniform-target weights + Kish ESS ------------------

srcs_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=1, max_value=40),
    min_size=1,
    max_size=5,
)


@settings(max_examples=150, deadline=None)
@given(srcs_strategy)
def test_importance_reweight_oracle_equals_python_mirror(srcs):
    docs, did = [], 0
    names = {k: f"s{k}" for k in srcs}
    for k in sorted(srcs):
        for _ in range(srcs[k]):
            did += 1
            docs.append((did, f"t{did}", names[k]))
    documents = pd.DataFrame(docs, columns=["doc_id", "text", "source"])
    got = _oracle_rows("sample_importance_reweight", documents=documents)
    total = sum(srcs.values())
    n_src = len(srcs)
    w = {k: (1000000 * total) // (n_src * n) for k, n in srcs.items()}
    sw = sum(srcs[k] * w[k] for k in srcs)
    sww = sum(srcs[k] * w[k] * w[k] for k in srcs)
    ess = (
        math.floor(
            float(sw) * float(sw) / float(total) / float(sww) * 10000 + 0.5
        )
        / 10000
    )
    expect = sorted(
        (
            names[k],
            srcs[k],
            (1000000 * srcs[k]) // total,
            w[k],
            (srcs[k] * w[k]) // 1000000,
            ess,
        )
        for k in srcs
    )
    assert got == expect
    # Kish ESS ratio is <= 1 (equality iff weights constant) and > 0
    assert 0 < ess <= 1.0
    if len({srcs[k] for k in srcs}) == 1:
        assert ess == 1.0  # already-uniform corpus loses nothing


# --- Holt-Winters backtest: rolling-origin 9-state recursion -----------------

series_strategy = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=18
)
gaps_strategy = st.lists(
    st.integers(min_value=1, max_value=4), min_size=0, max_size=17
)


@settings(max_examples=120, deadline=None)
@given(series_strategy, gaps_strategy)
def test_hw_backtest_oracle_equals_python_mirror(counts, gaps):
    base = 19_800
    days, cur = [], base
    for i, _ in enumerate(counts):
        days.append(cur)
        cur += gaps[i] if i < len(gaps) else 1
    rows = []
    for day, n in zip(days, counts):
        t0 = dt.datetime.utcfromtimestamp(day * 86400)
        for k in range(n + 1):  # n+1 so zero-count days still exist
            rows.append((t0 + dt.timedelta(seconds=k),))
    events = pd.DataFrame(rows, columns=["ts"])
    xs = [n + 1 for n in counts]
    if len(xs) < 3:
        try:
            _oracle_rows("ts_forecast_backtest_hw", events=events)
            raise AssertionError("expected loud guard")
        except duckdb.Error:
            return
    got = _oracle_rows("ts_forecast_backtest_hw", events=events)
    l, b = xs[0], xs[1] - xs[0]
    s = [0] * 7
    states = [(l, b, tuple(s))]
    for t in range(1, len(xs)):
        x, dow = xs[t], days[t] % 7
        s_old = s[dow]
        l_new = math.floor((x - s_old + l + b) / 2.0)
        b = math.floor((b + l_new - l) / 2.0)
        s[dow] = math.floor((x - l_new + s_old) / 2.0)
        l = l_new
        states.append((l, b, tuple(s)))
    nd = len(xs)
    expect = []
    for c in range(max(2, nd - 7), nd):
        lc, bc, sc = states[c - 1]
        gap = days[c] - days[c - 1]
        f = lc + gap * bc + sc[days[c] % 7]
        expect.append(
            (
                days[c - 1] * DAY_US,
                days[c] * DAY_US,
                gap,
                f,
                xs[c],
                f - xs[c],
                abs(f - xs[c]),
            )
        )
    assert got == sorted(expect)


# --- user lifecycle: per-user LAG staging ------------------------------------

activity_strategy = st.sets(
    st.tuples(
        st.integers(min_value=1, max_value=4),           # user
        st.integers(min_value=0, max_value=30),          # day offset
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=150, deadline=None)
@given(activity_strategy)
def test_user_lifecycle_oracle_equals_python_mirror(pairs):
    base = 19_800
    rows = []
    for u, d in sorted(pairs):
        t0 = dt.datetime.utcfromtimestamp((base + d) * 86400)
        rows.append((u, t0))
        rows.append((u, t0 + dt.timedelta(hours=2)))  # same active day
    events = pd.DataFrame(rows, columns=["user_id", "ts"])
    got = _oracle_rows("window_user_lifecycle", events=events)
    by_user: dict[int, list[int]] = {}
    for u, d in pairs:
        by_user.setdefault(u, []).append(base + d)
    daily: dict[int, list[int]] = {}
    for u, ds in by_user.items():
        prev = None
        for d in sorted(set(ds)):
            if prev is None:
                stage = 0  # new
            elif d - prev > 7:
                stage = 2  # resurrected
            else:
                stage = 1  # retained
            daily.setdefault(d, [0, 0, 0])[stage] += 1
            prev = d
    expect = sorted(
        (d, sum(c), c[0], c[1], c[2]) for d, c in daily.items()
    )
    assert got == expect
    for _d, n_active, n_new, n_ret, n_res in got:
        assert n_active == n_new + n_ret + n_res


# --- session funnel: ordered min-ts anchoring over gap sessions --------------

funnel_strategy = st.sets(
    st.tuples(
        st.integers(min_value=1, max_value=3),           # user
        st.integers(min_value=0, max_value=300),         # minute offset
        st.integers(min_value=0, max_value=3),           # event type idx
    ),
    min_size=1,
    max_size=30,
)

_ETYPES = ["view", "click", "purchase", "error"]
_GAP_MIN = 30


@settings(max_examples=150, deadline=None)
@given(funnel_strategy)
def test_session_funnel_oracle_equals_python_mirror(evs):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i, (u, m, t) in enumerate(sorted(evs)):
        rows.append((i + 1, base + dt.timedelta(minutes=m), u, _ETYPES[t]))
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    got = _oracle_rows("events_session_funnel", events=events)

    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    by_user: dict[int, list[tuple[int, str]]] = {}
    for u, m, t in evs:
        by_user.setdefault(u, []).append((base_us + m * 60 * 10**6, _ETYPES[t]))
    sessions = []
    for u, items in by_user.items():
        items.sort()
        cur = [items[0]]
        for it in items[1:]:
            if it[0] - cur[-1][0] > _GAP_MIN * 60 * 10**6:
                sessions.append(cur)
                cur = [it]
            else:
                cur.append(it)
        sessions.append(cur)
    daily: dict[int, list[int]] = {}
    for sess in sessions:
        s_start = min(t for t, _ in sess)
        v = min((t for t, e in sess if e == "view"), default=None)
        c = (
            min((t for t, e in sess if e == "click" and t >= v), default=None)
            if v is not None
            else None
        )
        p = (
            min(
                (t for t, e in sess if e == "purchase" and t >= c),
                default=None,
            )
            if c is not None
            else None
        )
        d = daily.setdefault(s_start // DAY_US, [0, 0, 0, 0])
        d[0] += 1
        d[1] += 1 if v is not None else 0
        d[2] += 1 if c is not None else 0
        d[3] += 1 if p is not None else 0
    expect = sorted(
        (
            day,
            ns,
            nv,
            nc,
            np_,
            (1000000 * np_) // nv if nv > 0 else None,
        )
        for day, (ns, nv, nc, np_) in daily.items()
    )
    assert got == expect
    for _day, ns, nv, nc, np_ in [(r[0], r[1], r[2], r[3], r[4]) for r in got]:
        assert ns >= nv >= nc >= np_  # the funnel only narrows
