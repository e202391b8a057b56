"""Third-implementation property checks for the round-9 debut queue
(the `test_pending_oracle_property` pattern): each queued oracle runs
against an INDEPENDENT pure-Python mirror over hypothesis-generated
tables, so an edge bug shared by both engines' SQL (a wrong remainder
rule, an off-by-one at a window edge) cannot hide inside a two-way
agreement. DuckDB-only — no Spark session, so hundreds of random
cases run in seconds."""

from __future__ import annotations

import hashlib
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


# --- weekly seasonality ------------------------------------------------------

ts_strategy = st.lists(
    st.integers(min_value=0, max_value=120 * 86400),  # seconds, ~4 months
    min_size=1,
    max_size=200,
)


@settings(max_examples=150, deadline=None)
@given(ts_strategy)
def test_seasonality_oracle_equals_counter_mirror(secs):
    df = pd.DataFrame(
        {
            "user_id": [1] * len(secs),
            "ts": pd.to_datetime(secs, unit="s"),
            "event_type": ["view"] * len(secs),
            "value": [1.0] * len(secs),
        }
    )
    got = _oracle_rows("events_weekly_seasonality_profile", events=df)
    from collections import Counter

    c = Counter(((s // 3600) + 72) % 168 for s in secs)
    tot = sum(c.values())
    expect = sorted(
        (how, n, (1_000_000 * n) // tot) for how, n in c.items()
    )
    assert got == expect


# --- diversity/length correlation -------------------------------------------

docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=40),  # n_tokens
        st.integers(min_value=1, max_value=40),  # distinct cap
    ),
    min_size=2,
    max_size=30,
)


@settings(max_examples=150, deadline=None)
@given(docs_strategy)
def test_diversity_corr_oracle_equals_python_mirror(spec):
    texts, xs, ys = [], [], []
    for n, dcap in spec:
        nd = min(n, dcap)
        toks = [f"w{i}" for i in range(nd)] + ["w0"] * (n - nd)
        texts.append(" ".join(toks))
        xs.append(n)
        # actual distinct count: w0 may duplicate into the filler
        ys.append((1_000_000 * len(set(toks))) // n)
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "source": ["s"] * len(texts),
            "n_chars": [1] * len(texts),
        }
    )
    got = _oracle_rows("text_diversity_length_corr", documents=df)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    d1, d2 = n * sxx - sx * sx, n * syy - sy * sy
    if d1 == 0 or d2 == 0:
        expect = [("s", n, True, 0.0)]
    else:
        r = (n * sxy - sx * sy) / (math.sqrt(d1) * math.sqrt(d2))
        expect = [("s", n, False, math.floor(r * 10000 + 0.5) / 10000)]
    assert got == expect


# --- U-shaped attribution ----------------------------------------------------

WINDOW_US = 1_800_000_000

touch_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=7200),       # click offset s
    ),
    min_size=0,
    max_size=25,
)
purchase_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=7200),       # purchase offset s
        st.integers(min_value=1, max_value=50_000),     # cents
    ),
    min_size=1,
    max_size=8,
)


def _u_credit(cents: int, n: int, rk: int) -> int:
    if n == 1:
        return cents
    if n == 2:
        return cents // 2 + (cents % 2 if rk == 1 else 0)
    forty = (2 * cents) // 5
    if rk == 1 or rk == n:
        return forty
    pool = cents - 2 * forty
    base, extra = divmod(pool, n - 2)
    return base + (1 if rk - 1 <= extra else 0)


@settings(max_examples=150, deadline=None)
@given(touch_strategy, purchase_strategy)
def test_u_shaped_oracle_equals_python_mirror(clicks, purchases):
    rows, eid = [], 1
    for u, s in clicks:
        rows.append((eid, u, s, "click", 0.0))
        eid += 1
    for u, s, cents in purchases:
        rows.append((eid, u, s, "purchase", cents / 100.0))
        eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_attribution_u_shaped", events=df)

    # mirror
    from collections import defaultdict

    hourly = defaultdict(lambda: [0, 0])  # hour_us -> [n_clicks, cents]
    clicks_by_user = defaultdict(list)
    for eid2, u, s, t, _v in rows:
        if t == "click":
            clicks_by_user[u].append((s, eid2))
    for eid2, u, s, t, v in rows:
        if t != "purchase":
            continue
        cents = round(v * 100)
        touched = sorted(
            (cs, cid)
            for cs, cid in clicks_by_user[u]
            if 0 <= (s - cs) * 1_000_000 <= WINDOW_US
        )
        n = len(touched)
        for rk, (cs, _cid) in enumerate(touched, start=1):
            h = (cs // 3600) * 3600 * 1_000_000
            hourly[h][0] += 1
            hourly[h][1] += _u_credit(cents, n, rk)
        # conservation identity
        if n:
            assert sum(_u_credit(cents, n, rk) for rk in range(1, n + 1)) == cents
    expect = sorted(
        (h, k, round(c / 100.0, 2)) for h, (k, c) in hourly.items()
    )
    assert got == expect


# --- JS divergence -----------------------------------------------------------

corpus_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                      # source
        st.lists(st.integers(min_value=0, max_value=12),  # token ids
                 min_size=1, max_size=15),
    ),
    min_size=2,
    max_size=20,
).filter(lambda rows: len({s for s, _ in rows}) == 2)


@settings(max_examples=120, deadline=None)
@given(corpus_strategy)
def test_js_divergence_oracle_equals_python_mirror(rows):
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(rows) + 1),
            "text": [" ".join(f"t{i}" for i in toks) for _, toks in rows],
            "source": [s for s, _ in rows],
            "n_chars": [1] * len(rows),
        }
    )
    got = _oracle_rows("text_js_divergence_sources", documents=df)

    from collections import Counter

    counts = {"a": Counter(), "b": Counter()}
    for s, toks in rows:
        counts[s].update(f"t{i}" for i in toks)
    na, nb = sum(counts["a"].values()), sum(counts["b"].values())
    common = set(counts["a"]) & set(counts["b"])
    term_sum = 0
    ca = cb = 0
    for t in common:
        p, q = counts["a"][t] / na, counts["b"][t] / nb
        term = p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))
        term_sum += math.floor(term * 1e9 + 0.5)
        ca += counts["a"][t]
        cb += counts["b"][t]
    js = (
        term_sum / 1e9
        + math.log(2.0) * ((na - ca) / na + (nb - cb) / nb)
    ) / 2
    expect = [("a", "b", len(common), math.floor(js * 1e6 + 0.5) / 1e6)]
    assert got == expect
    # JS bounds: [0, ln 2] up to the rounding grid
    assert -1e-6 <= got[0][3] <= math.log(2.0) + 1e-6


# --- daily autocorrelation ---------------------------------------------------

series_strategy = st.lists(
    st.integers(min_value=1, max_value=50),  # events per consecutive day
    min_size=2,
    max_size=20,
)


@settings(max_examples=100, deadline=None)
@given(series_strategy)
def test_autocorr_oracle_equals_python_mirror(daily):
    rows, eid = [], 1
    for day, n in enumerate(daily):
        for i in range(n):
            rows.append((eid, 1, day * 86400 + i, "view", 1.0))
            eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_daily_autocorrelation", events=df)

    expect = []
    for lag in range(1, 8):
        xs = daily[:-lag] if lag < len(daily) else []
        ys = daily[lag:]
        if not xs:
            continue
        k = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        d1, d2 = k * sxx - sx * sx, k * syy - sy * sy
        if d1 == 0 or d2 == 0:
            expect.append((lag, k, True, 0.0))
        else:
            r = (k * sxy - sx * sy) / (math.sqrt(d1) * math.sqrt(d2))
            expect.append((lag, k, False, math.floor(r * 10000 + 0.5) / 10000))
    assert got == sorted(expect)


# --- Bloom prefilter ---------------------------------------------------------

bloom_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=500),  # doc id (split by % 10)
        st.integers(min_value=0, max_value=60),   # text variant
    ),
    min_size=2,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(max_examples=100, deadline=None)
@given(bloom_strategy)
def test_bloom_oracle_equals_python_mirror(spec):
    df = pd.DataFrame(
        {
            "doc_id": [i for i, _ in spec],
            "text": [f"payload variant {v}" for _, v in spec],
            "source": ["s"] * len(spec),
            "n_chars": [1] * len(spec),
        }
    )
    batch = [(i, f"payload variant {v}") for i, v in spec if i % 10 == 9]
    corpus = [(i, f"payload variant {v}") for i, v in spec if i % 10 != 9]
    if not batch or not corpus:
        return
    got = _oracle_rows("dedup_bloom_prefilter_audit", documents=df)

    BITS, WORD, K = 4096, 32, 3

    def positions(text):
        h = hashlib.md5(text.encode()).hexdigest()
        return [int(h[8 * j: 8 * j + 8], 16) % BITS for j in range(K)]

    words = {}
    for _, t in corpus:
        for p in positions(t):
            words[p // WORD] = words.get(p // WORD, 0) | (1 << (p % WORD))
    corpus_h = {hashlib.md5(t.encode()).hexdigest() for _, t in corpus}
    n_maybe = n_dup = n_missed = n_fp = 0
    for _, t in batch:
        maybe = all(
            words.get(p // WORD, 0) & (1 << (p % WORD)) for p in positions(t)
        )
        is_dup = hashlib.md5(t.encode()).hexdigest() in corpus_h
        n_maybe += maybe
        n_dup += is_dup
        n_missed += is_dup and not maybe
        n_fp += maybe and not is_dup
    n_batch = len(batch)
    neg = n_batch - n_dup
    fp_ppm = 0 if neg == 0 else (1_000_000 * n_fp) // neg
    assert got == [(n_batch, n_maybe, n_dup, n_missed, n_fp, fp_ppm)]
    assert n_missed == 0  # the Bloom guarantee, on every random example


# --- weekly volume anomaly (median/MAD grid walk) ---------------------------

weekly_strategy = st.lists(
    st.integers(min_value=1, max_value=40),  # events per consecutive week
    min_size=1,
    max_size=12,
)


@settings(max_examples=120, deadline=None)
@given(weekly_strategy)
def test_volume_anomaly_oracle_equals_python_mirror(weekly):
    rows, eid = [], 1
    for wk, n in enumerate(weekly):
        for i in range(n):
            rows.append((eid, 1, wk * 604800 + i, "view", 1.0))
            eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_volume_anomaly_by_type_week", events=df)

    def lower_median(vals):
        s = sorted(vals)
        k = len(s)
        # smallest value whose doubled 1-based rank reaches k
        for rk, v in enumerate(s, start=1):
            if 2 * rk >= k:
                return v

    med = lower_median(weekly)
    devs = [abs(n - med) for n in weekly]
    mad = lower_median(devs)
    # all-integer threshold (round-8 ADVICE): 3 * 1.4826 = 44478/10000
    n_anom = sum(1 for d in devs if 10000 * d > 44478 * mad)
    assert got == [("view", len(weekly), med, mad, n_anom)]


# --- retention half-life -----------------------------------------------------

cohort_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),      # user id
        st.lists(st.integers(min_value=0, max_value=6),  # active weeks
                 min_size=1, max_size=5, unique=True),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(max_examples=120, deadline=None)
@given(cohort_strategy)
def test_halflife_oracle_equals_python_mirror(spec):
    rows, eid = [], 1
    for u, weeks in spec:
        for w in weeks:
            rows.append((eid, u, w * 604800 + u, "view", 1.0))
            eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_retention_halflife_fit", events=df)

    # mirror
    user_weeks = {u: set(w) for u, w in spec}
    first = {u: min(w) for u, w in user_weeks.items()}
    max_week = max(w for ws in user_weeks.values() for w in ws)
    act = {}
    for u, ws in user_weeks.items():
        for w in ws:
            o = w - first[u]
            if 1 <= o <= 7:
                act[o] = act.get(o, 0) + 1
    pts = []
    for o in range(1, 8):
        # denominator: users whose cohort is observable at offset o
        den = sum(1 for u in user_weeks if first[u] + o <= max_week)
        if o in act and act[o] > 0 and den > 0:
            pts.append((o, math.log(act[o] / den)))
    k = len(pts)
    if k < 2:
        assert got[0][0] == k and got[0][1] is True
        return
    sx = sum(x for x, _ in pts)
    sxx = sum(x * x for x, _ in pts)
    if k * sxx - sx * sx == 0:
        assert got[0][1] is True
        return
    sy9 = sum(math.floor(y * 1e9 + 0.5) for _, y in pts)
    sxy9 = sum(math.floor(x * y * 1e9 + 0.5) for x, y in pts)
    slope = (k * (sxy9 / 1e9) - sx * (sy9 / 1e9)) / (k * sxx - sx * sx)
    exp_slope = math.floor(slope * 1e6 + 0.5) / 1e6
    if slope >= 0:
        exp_hl = 0.0
    else:
        exp_hl = math.floor(math.log(2.0) / (-slope) * 1e4 + 0.5) / 1e4
    assert got == [(k, False, exp_slope, exp_hl)]
