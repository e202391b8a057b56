"""Third-implementation property checks for the round-10 debut queue
(the `test_round9_oracle_property` pattern): each queued oracle runs
against an INDEPENDENT pure-Python mirror over hypothesis-generated
tables — DuckDB-only, no Spark session."""

from __future__ import annotations

import hashlib

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


# --- Fano burstiness ---------------------------------------------------------

daily_strategy = st.lists(
    st.integers(min_value=1, max_value=50),  # events per consecutive day
    min_size=1,
    max_size=10,
)


@settings(max_examples=120, deadline=None)
@given(daily_strategy)
def test_fano_oracle_equals_python_mirror(daily):
    rows = []
    for d, n in enumerate(daily):
        for i in range(n):
            rows.append((1, d * 86400 + i, "view", 1.0))
    df = pd.DataFrame(
        rows, columns=["user_id", "ts", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"], unit="s")
    got = _oracle_rows("events_burstiness_fano", events=df)

    n = len(daily)
    sx = sum(daily)
    sxx = sum(x * x for x in daily)
    num = n * sxx - sx * sx
    expect = [
        ("view", n, sx, (1_000_000 * num) // (n * sx), num > n * sx)
    ]
    assert got == expect


# --- hapax / TTR -------------------------------------------------------------

tokens_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=120, deadline=None)
@given(tokens_strategy)
def test_hapax_oracle_equals_counter_mirror(docs):
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": [" ".join(d) for d in docs],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [len(" ".join(d)) for d in docs],
        }
    )
    got = _oracle_rows("text_hapax_ratio_by_source", documents=df)

    from collections import Counter

    c = Counter(t for d in docs for t in d)
    n_tokens = sum(c.values())
    n_types = len(c)
    n_hapax = sum(1 for v in c.values() if v == 1)
    expect = [
        (
            "s",
            n_tokens,
            n_types,
            n_hapax,
            (1_000_000 * n_hapax) // n_types,
            (1_000_000 * n_types) // n_tokens,
        )
    ]
    assert got == expect


# --- importance weights ------------------------------------------------------

classes_strategy = st.dictionaries(
    st.sampled_from(["en", "de", "fr", "es"]),
    st.integers(min_value=1, max_value=40),
    min_size=1,
    max_size=4,
)


@settings(max_examples=120, deadline=None)
@given(classes_strategy)
def test_importance_weights_oracle_equals_mirror(classes):
    rows = []
    i = 0
    for lang, n in classes.items():
        for _ in range(n):
            i += 1
            rows.append((i, "t", lang, "s", 1))
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = _oracle_rows("sample_importance_weights_ppm", documents=df)

    total = sum(classes.values())
    k = len(classes)
    expect = sorted(
        (
            lang,
            n,
            (1_000_000 * total) // (k * n),
            n * ((1_000_000 * total) // (k * n)),
        )
        for lang, n in classes.items()
    )
    assert got == expect
    # every class mass within floor loss of the uniform target
    for _, n, _, mass in expect:
        target = 1_000_000 * total // k
        assert target - k - n <= mass <= 1_000_000 * total / k + 1


# --- split balance -----------------------------------------------------------

ids_strategy = st.sets(
    st.integers(min_value=1, max_value=100_000), min_size=5, max_size=120
)


@settings(max_examples=100, deadline=None)
@given(ids_strategy)
def test_split_balance_oracle_equals_md5_mirror(ids):
    ids = sorted(ids)
    df = pd.DataFrame(
        {
            "doc_id": ids,
            "text": ["t"] * len(ids),
            "lang": ["en" if i % 2 else "de" for i in ids],
            "source": ["s"] * len(ids),
            "n_chars": [1] * len(ids),
        }
    )
    got = _oracle_rows("quality_split_balance_audit", documents=df)

    def bkt(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16) % 100

    from collections import Counter

    c = Counter()
    lang_tot = Counter()
    for i in ids:
        lang = "en" if i % 2 else "de"
        b = bkt(i)
        split = "train" if b < 80 else ("val" if b < 90 else "test")
        c[(lang, split)] += 1
        lang_tot[lang] += 1
    expect = sorted(
        (
            lang,
            split,
            n,
            (1_000_000 * n) // lang_tot[lang],
            800_000 if split == "train" else 100_000,
            abs(
                (1_000_000 * n) // lang_tot[lang]
                - (800_000 if split == "train" else 100_000)
            ),
        )
        for (lang, split), n in c.items()
    )
    assert got == expect


# --- bootstrap CI ------------------------------------------------------------

prices_strategy = st.lists(
    st.integers(min_value=1, max_value=10_000),  # cents
    min_size=3,
    max_size=60,
)


@settings(max_examples=60, deadline=None)
@given(prices_strategy)
def test_bootstrap_oracle_equals_md5_mirror(cents_list):
    df = pd.DataFrame(
        {
            "o_orderkey": range(1, len(cents_list) + 1),
            "o_totalprice": [c / 100.0 for c in cents_list],
        }
    )
    got = _oracle_rows("stats_bootstrap_ci_md5", orders=df)

    # mirror: panel = all rows (N <= 500) in md5(o_orderkey) order
    keys = sorted(
        range(1, len(cents_list) + 1),
        key=lambda k: (hashlib.md5(str(k).encode()).hexdigest(), k),
    )
    panel = [round(df["o_totalprice"][k - 1] * 100) for k in keys]
    n = len(panel)
    means = []
    for b in range(32):
        s = 0
        for i in range(500):
            if i >= n:
                continue
            h = int(
                hashlib.md5(f"{b}_{i}".encode()).hexdigest()[:14], 16
            )
            s += panel[h % n]
        means.append((1_000_000 * s) // n)
    ranked = sorted(means)
    point = (1_000_000 * sum(panel)) // n
    expect = [(n, 32, point, ranked[1], ranked[30])]
    assert got == expect


# --- streaming minhash band index (python third implementation) --------------

docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["red", "blue", "green", "ox", "fox", "hen", "owl"]),
        min_size=0,
        max_size=10,
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=60, deadline=None)
@given(docs_strategy)
def test_minhash_band_oracle_equals_python_mirror(docs):
    """Recompute the band index in pure Python (hashlib md5 + the
    Carter-Wegman constants) and compare to the DuckDB oracle —
    including docs with < 3 tokens, which must vanish on both sides."""
    from catme_etl_spark.functions.texttools import (
        MINHASH_P,
        minhash_constants,
    )
    from catme_etl_spark.operators.dedup import _BAND_ROWS, _N_SEEDS

    df = pd.DataFrame(
        {
            "doc_id": range(1, len(docs) + 1),
            "text": [" ".join(d) for d in docs],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [1] * len(docs),
        }
    )
    got = _oracle_rows("stream_minhash_band_index", documents=df)

    consts = minhash_constants(_N_SEEDS)
    from collections import defaultdict

    buckets = defaultdict(list)
    for doc_id, toks in enumerate(docs, start=1):
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        if not sh:
            continue
        xs = [
            int(hashlib.md5(g.encode()).hexdigest()[:14], 16) % MINHASH_P
            for g in sh
        ]
        sig = [min((a * x + b) % MINHASH_P for x in xs) for a, b in consts]
        for band in range(_N_SEEDS // _BAND_ROWS):
            bkey = ",".join(
                str(sig[band * _BAND_ROWS + r]) for r in range(_BAND_ROWS)
            )
            buckets[(band, bkey)].append(doc_id)
    expect = sorted(
        (band, bkey, len(ids), min(ids))
        for (band, bkey), ids in buckets.items()
    )
    assert got == expect


# --- sealed-session latency sketch (python third implementation) -------------

session_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),            # user
        st.integers(min_value=0, max_value=6 * 86400),    # ts seconds
        st.sampled_from(["view", "purchase", "click"]),
    ),
    min_size=2,
    max_size=40,
)


@settings(max_examples=80, deadline=None)
@given(session_strategy)
def test_latency_sketch_oracle_equals_python_mirror(events):
    df = pd.DataFrame(
        {
            "user_id": [e[0] for e in events],
            "ts": pd.to_datetime([e[1] for e in events], unit="s"),
            "event_type": [e[2] for e in events],
            "value": [1.0] * len(events),
        }
    )
    got = _oracle_rows("stream_latency_sketch_sealed", events=df)

    # mirror: 30-min-gap sessions per user, watermark seal, first
    # view -> first subsequent purchase, log2 buckets, rank read-offs
    max_ts = max(e[1] for e in events)
    seal = max_ts - 3600
    by_user = {}
    for u, t, k in sorted(events, key=lambda e: (e[0], e[1])):
        by_user.setdefault(u, []).append((t, k))
    lats = []
    for u, evs in by_user.items():
        sess = []
        for t, k in evs:
            if sess and t - sess[-1][-1][0] > 1800:
                sess.append([(t, k)])
            elif not sess:
                sess = [[(t, k)]]
            else:
                sess[-1].append((t, k))
        for s in sess:
            if s[-1][0] + 1800 > seal:
                continue  # not sealed
            views = [t for t, k in s if k == "view"]
            if not views:
                continue
            v = min(views)
            ps = [t for t, k in s if k == "purchase" and t >= v]
            if ps:
                lats.append((min(ps) - v) * 1_000_000)
    if not lats:
        assert got == []
        return
    bls = sorted(len(bin(x)) - 2 for x in lats)  # bit length; bin(0)='0b0'->1
    n = len(bls)
    from collections import Counter

    c = Counter(bls)
    uniq = sorted(c)
    cum = {}
    run = 0
    for bl in uniq:
        run += c[bl]
        cum[bl] = run

    def pick(mult, num, den):
        # smallest hi with den*cum >= num*n
        for bl in uniq:
            if den * cum[bl] >= num * n:
                return (1 << bl) - 1

    expect = [
        (
            n,
            len(uniq),
            pick(None, 1, 2),
            pick(None, 9, 10),
            pick(None, 99, 100),
        )
    ]
    assert got == expect


# --- sqrt temperature mix ----------------------------------------------------

src_counts_strategy = st.dictionaries(
    st.sampled_from(["s1", "s2", "s3", "s4", "s5"]),
    st.integers(min_value=1, max_value=60),
    min_size=1,
    max_size=5,
)


@settings(max_examples=100, deadline=None)
@given(src_counts_strategy)
def test_sqrt_temperature_oracle_equals_mirror(counts):
    import math

    rows, i = [], 0
    for src, n in counts.items():
        for _ in range(n):
            i += 1
            rows.append((i, "t", "en", src, 1))
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = _oracle_rows("sample_sqrt_temperature_mix", documents=df)

    ws = {s: math.floor(1_000_000.0 * math.sqrt(float(n)))
          for s, n in counts.items()}
    tw = sum(ws.values())
    total = sum(counts.values())
    expect = sorted(
        (
            s,
            n,
            (1_000_000 * n) // total,
            (1_000_000 * ws[s]) // tw,
        )
        for s, n in counts.items()
    )
    assert got == expect
    # tempering must never widen the spread: tempered max share <= raw
    if len(counts) > 1:
        raw = {s: (1_000_000 * n) // total for s, n in counts.items()}
        temp = {s: (1_000_000 * ws[s]) // tw for s in counts}
        top = max(counts, key=lambda s: (counts[s], s))
        assert temp[top] <= raw[top] + 1
