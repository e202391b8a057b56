"""Third-implementation property checks for the round-13 debut queue
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
from tools.check_oracle import _apply_prefix_artifacts


def _oracle_rows(name: str, **frames) -> list[tuple]:
    from catme_etl_spark.operators.registry import ORACLE

    con = duckdb.connect()
    for t, df in frames.items():
        con.register(t, df)
    # Registered WITH-prefixes run as temp tables, as in
    # tools/check_oracle.py; DuckDB otherwise re-plans every inlined
    # reference to the shared release CTEs on each example.
    sql = _apply_prefix_artifacts(con, ORACLE[name], {})
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# --- Hoover index: exact cross-multiplied deviation ---------------------------

hoover_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=3),              # nation key
    st.lists(st.integers(min_value=1, max_value=10_000_00),  # cents
             min_size=1, max_size=12),
    min_size=1,
    max_size=4,
)


@settings(max_examples=120, deadline=None)
@given(hoover_strategy)
def test_hoover_oracle_equals_python_mirror(nations):
    rows_o, rows_c, ck = [], [], 0
    for nk in sorted(nations):
        for cents_v in nations[nk]:
            ck += 1
            rows_c.append((ck, nk))
            rows_o.append((ck * 10, ck, cents_v / 100.0))
    orders = pd.DataFrame(
        rows_o, columns=["o_orderkey", "o_custkey", "o_totalprice"]
    )
    customer = pd.DataFrame(rows_c, columns=["c_custkey", "c_nationkey"])
    got = _oracle_rows("agg_hoover_index", orders=orders, customer=customer)
    expect = []
    for nk in sorted(nations):
        xs = nations[nk]
        n, tot = len(xs), sum(xs)
        dev = sum(abs(n * x - tot) for x in xs)
        hoover = math.floor(1000000.0 * float(dev) / (2.0 * n * tot) + 0.5)
        expect.append((nk, n, tot, hoover))
    assert got == expect
    for _, n, _, h in got:
        # H is bounded by (n-1)/n strictly below 1e6
        assert 0 <= h <= 1000000


# --- Holt backtest: rolling-origin states of the dyadic recursion ------------

series_strategy = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=20
)
gaps_strategy = st.lists(
    st.integers(min_value=1, max_value=4), min_size=0, max_size=19
)


@settings(max_examples=120, deadline=None)
@given(series_strategy, gaps_strategy)
def test_holt_backtest_oracle_equals_python_mirror(counts, gaps):
    base = 19_800  # day number
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
            _oracle_rows("ts_forecast_backtest_holt", events=events)
            raise AssertionError("expected loud guard")
        except duckdb.Error:
            return
    got = _oracle_rows("ts_forecast_backtest_holt", events=events)
    states = []
    l, b = xs[0], xs[1] - xs[0]
    states.append((l, b))
    for x in xs[1:]:
        l_new = math.floor((x + l + b) / 2.0)
        b = math.floor((b + l_new - l) / 2.0)
        l = l_new
        states.append((l, b))
    nd = len(xs)
    expect = []
    for c in range(max(2, nd - 7), nd):
        lc, bc = states[c - 1]
        gap = days[c] - days[c - 1]
        f = lc + gap * bc
        expect.append(
            (
                days[c - 1] * 86_400_000_000,
                days[c] * 86_400_000_000,
                gap,
                f,
                xs[c],
                f - xs[c],
                abs(f - xs[c]),
            )
        )
    assert got == sorted(expect)


# --- session windows: islands with strict-gap break + finalization -----------

sess_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=400),        # minutes offset
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=120, deadline=None)
@given(sess_strategy)
def test_session_oracle_equals_python_mirror(evts):
    t0 = dt.datetime(2024, 5, 1)
    events = pd.DataFrame(
        [(u, t0 + dt.timedelta(minutes=m)) for u, m in evts],
        columns=["user_id", "ts"],
    )
    got = _oracle_rows("stream_session_window_gap", events=events)
    gap = 1_800_000_000
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    by_u: dict = {}
    for u, m in evts:
        by_u.setdefault(u, []).append(base + m * 60_000_000)
    wm_final = max(base + m * 60_000_000 for _, m in evts) - 3_600_000_000
    expect = []
    for u in by_u:
        ts = sorted(by_u[u])
        start, last, n = ts[0], ts[0], 1
        sessions = []
        for t in ts[1:]:
            if t - last > gap:  # STRICT: adjacent windows merge
                sessions.append((start, last + gap, n))
                start, n = t, 0
            last = t
            n += 1
        sessions.append((start, last + gap, n))
        for s, e, n_ in sessions:
            if e <= wm_final:
                expect.append((u, s, e, n_))
    assert got == sorted(expect)


# --- watermark-lateness audit: lagged-filter simulation -----------------------

late_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=29),   # user (incl. %10==7)
        st.integers(min_value=0, max_value=5),    # day
        st.integers(min_value=0, max_value=1439), # minute of day
    ),
    min_size=1,
    max_size=30,
    unique=True,
)


@settings(max_examples=120, deadline=None)
@given(late_strategy)
def test_lateness_oracle_equals_python_mirror(evts):
    t0 = dt.datetime(2024, 5, 1)
    events = pd.DataFrame(
        [
            (u, t0 + dt.timedelta(days=d, minutes=m))
            for u, d, m in evts
        ],
        columns=["user_id", "ts"],
    )
    got = _oracle_rows("stream_watermark_lateness_audit", events=events)
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    rows = [
        (u, base + (d * 1440 + m) * 60_000_000) for u, d, m in evts
    ]
    days_present = sorted({tus // 86_400_000_000 for _, tus in rows})
    nd = len(days_present)
    grp = {d: (i * 4) // nd for i, d in enumerate(days_present)}
    # raw slice, then dense batch index over present slices
    raw = [
        (u, tus, 3 if u % 10 == 7 else grp[tus // 86_400_000_000])
        for u, tus in rows
    ]
    present = sorted({b for _, _, b in raw})
    dense = {b: i for i, b in enumerate(present)}
    batches: dict = {}
    for u, tus, b in raw:
        batches.setdefault(dense[b], []).append(tus)
    ks = sorted(batches)
    bmax = [max(batches[k]) for k in ks]
    wm_final = max(tus for _, tus in rows) - 3_600_000_000
    total, dropped = len(rows), 0
    survivors = []
    for i, k in enumerate(ks):
        wm_f = (max(bmax[: i - 1]) - 3_600_000_000) if i >= 2 else None
        for tus in batches[k]:
            wend = (tus // 600_000_000) * 600_000_000 + 600_000_000
            if wm_f is not None and wend <= wm_f:
                dropped += 1
            else:
                survivors.append((tus // 600_000_000, wend))
    wins: dict = {}
    for ws, wend in survivors:
        wins[(ws, wend)] = wins.get((ws, wend), 0) + 1
    n_fin = sum(1 for (_, we) in wins if we <= wm_final)
    n_streamed = sum(n for (_, we), n in wins.items() if we <= wm_final)
    n_pending = sum(n for (_, we), n in wins.items() if we > wm_final)
    assert got == [(total, dropped, n_fin, n_streamed, n_pending)]


# --- signature cosine: tf/df profiles + exact wide dot ------------------------

cos_docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),
            min_size=1,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=120, deadline=None)
@given(cos_docs_strategy)
def test_signature_cosine_oracle_equals_python_mirror(docs):
    frame = pd.DataFrame(
        [
            (i + 1, " ".join(toks), src)
            for i, (src, toks) in enumerate(docs)
        ],
        columns=["doc_id", "text", "source"],
    )
    got = _oracle_rows("text_source_signature_cosine", documents=frame)
    tf: dict = {}
    dfc: dict = {}
    for i, (src, toks) in enumerate(docs):
        for t in toks:
            tf[(src, t)] = tf.get((src, t), 0) + 1
        for t in set(toks):
            dfc[t] = dfc.get(t, 0) + 1
    prof: dict = {}
    for (src, t), f in tf.items():
        w = (1000000 * f) // dfc[t]
        prof.setdefault(src, []).append((w, t))
    top: dict = {}
    for src, ws in prof.items():
        ws.sort(key=lambda x: (-x[0], x[1]))
        top[src] = {t: w for w, t in ws[:25]}
    srcs = sorted(top)
    expect = []
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            shared = set(top[a]) & set(top[b])
            dot = sum(top[a][t] * top[b][t] for t in shared)
            na2 = sum(w * w for w in top[a].values())
            nb2 = sum(w * w for w in top[b].values())
            cos = math.floor(
                1000000.0 * float(dot)
                / math.sqrt(float(na2) * float(nb2))
                + 0.5
            )
            expect.append((a, b, len(shared), cos))
    assert got == sorted(expect)


# --- winnowing source matrix: containment mirror + source rollup --------------

def _md5_56(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


matrix_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.text(alphabet="abcd ", min_size=0, max_size=60),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=100, deadline=None)
@given(matrix_strategy)
def test_winnow_matrix_oracle_equals_python_mirror(docs):
    K, W, T, CAP = 16, 8, 2, 64
    frame = pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": [s for s, _ in docs],
            "n_chars": [len(t) for _, t in docs],
        }
    )
    got = _oracle_rows("dedup_winnowing_source_matrix", documents=frame)

    src = {i + 1: s for i, (s, _) in enumerate(docs)}
    fps: dict[int, set[int]] = {}
    for doc_id, (_, t) in enumerate(docs, start=1):
        ng = len(t) - K + 1
        if ng < W:
            continue
        hs = [_md5_56(t[i: i + K]) for i in range(ng)]
        fps[doc_id] = {min(hs[i: i + W]) for i in range(ng - W + 1)}
    df_count: dict[int, int] = {}
    for s in fps.values():
        for f in s:
            df_count[f] = df_count.get(f, 0) + 1
    live = {f for f, c in df_count.items() if c <= CAP}
    idx = {d: s & live for d, s in fps.items() if s & live}
    roll: dict = {}
    ids = sorted(idx)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
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
            key = (src[small], src[big])
            n, ds, sh, nm = roll.get(key, (0, set(), 0, 0))
            roll[key] = (n + 1, ds | {small}, sh + shared, nm + mn)
    expect = sorted(
        (a, b, n, len(ds), (1_000_000 * sh) // nm)
        for (a, b), (n, ds, sh, nm) in roll.items()
    )
    assert got == expect


# --- post-stratification weights: draw mirror + HT arithmetic ------------------

poststrat_strategy = st.dictionaries(
    st.sampled_from(["A", "B", "C"]),
    st.lists(st.integers(min_value=0, max_value=900), min_size=1,
             max_size=30),
    min_size=1,
    max_size=3,
)


@settings(max_examples=100, deadline=None)
@given(poststrat_strategy)
def test_poststrat_oracle_equals_python_mirror(strata):
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
            _oracle_rows("sample_poststrat_weights", orders=df)
            raise AssertionError("expected loud guard on zero weight")
        except duckdb.Error:
            return
    got = _oracle_rows("sample_poststrat_weights", orders=df)

    # the certified allocation -> targets -> draw mirror
    fshare = {s: (1000000 * w) // tw for s, w in weights.items()}
    rem = {s: (1000000 * w) % tw for s, w in weights.items()}
    leftover = 1000000 - sum(fshare.values())
    order = sorted(weights, key=lambda s: (-rem[s], s))
    alloc = {
        s: fshare[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    n_corpus = sum(len(vs) for vs in strata.values())
    n_total = n_corpus // 20
    fsh = {s: (alloc[s] * n_total) // 1000000 for s in strata}
    rm = {s: (alloc[s] * n_total) % 1000000 for s in strata}
    left2 = n_total - sum(fsh.values())
    order2 = sorted(strata, key=lambda s: (-rm[s], s))
    target = {
        s: fsh[s] + (1 if i < left2 else 0) for i, s in enumerate(order2)
    }
    by_s: dict = {}
    for k, s, price in rows:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        by_s.setdefault(s, []).append((h, k, round(price * 100)))
    expect = []
    for s in sorted(strata):
        n_rows = len(strata[s])
        n_draw = min(target[s], n_rows)
        drawn = sorted(by_s[s])[:n_draw]
        sum_cents = sum(c for _, _, c in drawn)
        actual = sum(round(p * 100) for k, st_, p in rows if st_ == s)
        if n_draw == 0:
            expect.append((s, n_rows, 0, None, None, actual, 0, None))
        else:
            w = (1000000 * n_rows) // n_draw
            est = (n_rows * sum_cents) // n_draw
            sign = 1 if est > actual else -1 if est < actual else 0
            aerr = (1000000 * abs(est - actual)) // actual
            expect.append(
                (s, n_rows, n_draw, w, est, actual, sign, aerr)
            )
    assert got == expect


# --- release pin: full-pipeline mirror (split -> decon -> scrub -> manifest) --

import hashlib as _hl


def _md5_hex(s: str) -> str:
    return _hl.md5(s.encode()).hexdigest()


def _split_of(doc_id: int) -> str:
    b = int(_md5_hex(str(doc_id))[:14], 16) % 100
    return "train" if b < 80 else ("val" if b < 90 else "test")


def _release_manifest_mirror(docs, pred):
    """Pure-Python third implementation of the sliced release manifest
    (_manifest_chain_sql over _RELEASE_HEAD_CTES): md5 split buckets,
    banded-minhash near-dup pairs verified at jaccard >= 0.5, 8-gram
    decontamination vs the frozen eval grams, leak/within scrub, and
    the largest-remainder token-budget allocation. Raises ValueError
    for the engine's loud empty-release guards."""
    from catme_etl_spark.functions.texttools import (
        MINHASH_P,
        minhash_constants,
    )
    from catme_etl_spark.operators.dedup import _BAND_ROWS, _N_SEEDS
    from catme_etl_spark.operators.quality import DECON_K

    split = {d: _split_of(d) for d, _, _ in docs}
    toks = {d: [t for t in text.split(" ") if t != ""] for d, text, _ in docs}
    raw_toks = {d: text.split(" ") for d, text, _ in docs}
    source = {d: s for d, _, s in docs}

    # near-dup pairs: banded minhash candidates + exact jaccard >= 0.5
    consts = minhash_constants(_N_SEEDS)
    sh = {
        d: {
            " ".join(raw_toks[d][i: i + 3])
            for i in range(len(raw_toks[d]) - 2)
        }
        for d, _, _ in docs
    }
    from collections import defaultdict

    buckets = defaultdict(list)
    for d in sorted(sh):
        if not sh[d]:
            continue
        xs = [int(_md5_hex(g)[:14], 16) % MINHASH_P for g in sh[d]]
        sig = [min((a * x + b) % MINHASH_P for x in xs) for a, b in consts]
        for band in range(_N_SEEDS // _BAND_ROWS):
            key = (
                band,
                ",".join(
                    str(sig[band * _BAND_ROWS + r])
                    for r in range(_BAND_ROWS)
                ),
            )
            buckets[key].append(d)
    cand = set()
    for ids in buckets.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    ndj = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.5:
            ndj.add((a, b))
    ndu = defaultdict(set)
    for a, b in ndj:
        ndu[a].add(b)
        ndu[b].add(a)

    def grams(d):
        t = toks[d]
        return {
            " ".join(t[i: i + DECON_K])
            for i in range(max(0, len(t) - DECON_K + 1))
        }

    eval_g = set()
    for d in split:
        if split[d] != "train":
            eval_g |= grams(d)

    tag = [d for d in split if pred(d)]
    train = [d for d in tag if split[d] == "train"]
    if not train:
        return None  # degenerate: empty manifest (NULL-row edge)
    surv0 = [d for d in train if not (grams(d) & eval_g)]
    surv_set = set(surv0)
    leak = {
        d for d in surv0
        if any(split[o] != "train" for o in ndu.get(d, ()))
    }
    within = {
        b for (a, b) in ndj if a in surv_set and b in surv_set
    }
    final = [d for d in surv0 if d not in leak and d not in within]

    srcs = sorted({source[d] for d in train})
    raw_n = {s: sum(1 for d in train if source[d] == s) for s in srcs}
    sv_n = {s: sum(1 for d in surv0 if source[d] == s) for s in srcs}
    fin_n = {s: sum(1 for d in final if source[d] == s) for s in srcs}
    passing = {s: 0 for s in srcs}
    for d in final:
        nt, ndt = len(toks[d]), len(set(toks[d]))
        if 20 <= nt <= 80 and ndt / nt > 0.25:
            passing[source[d]] += nt
    total_raw = sum(raw_n.values())
    total_final = sum(fin_n.values())
    total_passing = sum(passing.values())
    if total_final == 0 or total_passing == 0:
        raise ValueError("release guard")
    sb_ppm = {s: (1000000 * raw_n[s]) // total_raw for s in srcs}
    sa_ppm = {s: (1000000 * fin_n[s]) // total_final for s in srcs}
    fshare = {s: (1000000 * passing[s]) // total_passing for s in srcs}
    rem = {s: (1000000 * passing[s]) % total_passing for s in srcs}
    leftover = 1000000 - sum(fshare.values())
    order = sorted(srcs, key=lambda s: (-rem[s], s))
    alloc = {
        s: fshare[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    return {
        s: (
            raw_n[s],
            raw_n[s] - sv_n[s],
            sv_n[s] - fin_n[s],
            fin_n[s],
            sb_ppm[s],
            sa_ppm[s],
            passing[s],
            alloc[s],
        )
        for s in srcs
    }


pin_vocab = [f"w{i}" for i in range(40)]
pin_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.sampled_from(pin_vocab), min_size=5, max_size=50),
    ),
    min_size=2,
    max_size=10,
)


@settings(max_examples=60, deadline=None)
@given(pin_strategy)
def test_release_pin_oracle_equals_full_pipeline_mirror(docs):
    frame = pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": [" ".join(t) for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": [s for s, _ in docs],
            "n_chars": [1] * len(docs),
        }
    )
    rows = [
        (i + 1, " ".join(t), s) for i, (s, t) in enumerate(docs)
    ]

    def pred(d):
        return not (d % 7 == 3 and _split_of(d) == "train")

    try:
        man = _release_manifest_mirror(rows, pred)
        guard = False
    except ValueError:
        guard = True
    if guard:
        try:
            _oracle_rows("pipeline_release_pin", documents=frame)
            raise AssertionError("expected loud empty-release guard")
        except duckdb.Error:
            return
    if man is None:
        return  # no train docs in the slice: NULL-aggregate edge
    got = _oracle_rows("pipeline_release_pin", documents=frame)
    canon = sorted(
        "|".join([s] + [str(v) for v in vals]) for s, vals in man.items()
    )
    digest = _hl.md5("\n".join(canon).encode()).hexdigest()
    expect = [
        (
            "rel-prior-train-docid-mod7-ne-3",
            len(man),
            sum(v[3] for v in man.values()),
            sum(v[7] for v in man.values()),
            digest,
        )
    ]
    assert got == expect
