"""Third-implementation property checks for the round-8 debut queue.

The certification gate proves Spark == DuckDB oracle; these tests add
an INDEPENDENT pure-Python mirror against the DuckDB oracle over
hypothesis-generated tables, so an edge bug shared by neither engine's
SQL (an off-by-one in the risk set, a wrong remainder rule) cannot
hide inside a two-way agreement. DuckDB-only — no Spark session, so
hundreds of random cases run in seconds. Float folds in the mirrors
use the engines' exact op shapes (exp/sum-of-ln for the KM product,
the identical division chains) so libm agreement carries the hash
discipline through."""

from __future__ import annotations

import hashlib
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


# --- Kaplan-Meier ----------------------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),        # user_id
        st.integers(min_value=0, max_value=30 * 86400),  # offset seconds
    ),
    min_size=1,
    max_size=60,
)


def _km_mirror(rows):
    end_us = max(s for _, s in rows) * 1_000_000
    per: dict[int, tuple[int, int]] = {}
    for u, s in rows:
        us = s * 1_000_000
        f, l = per.get(u, (us, us))
        per[u] = (min(f, us), max(l, us))
    life = [
        ((l - f) // DAY_US, 1 if l <= end_us - 7 * DAY_US else 0)
        for f, l in per.values()
    ]
    grid: dict[int, list[int]] = {}
    for t, died in life:
        g = grid.setdefault(t, [0, 0])
        g[0] += died
        g[1] += 1 - died
    total = len(life)
    out, seen, ln_sum, hit_zero = [], 0, 0.0, False
    for t in sorted(grid):
        d, c = grid[t]
        n_risk = total - seen
        seen += d + c
        if d >= n_risk:
            hit_zero = True
        else:
            ln_sum += math.log((n_risk - d) / n_risk)
        surv = (
            0.0
            if hit_zero
            else math.floor(math.exp(ln_sum) * 10000 + 0.5) / 10000
        )
        out.append((t, n_risk, d, c, surv))
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(events_strategy)
def test_km_oracle_equals_python_mirror(rows):
    df = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime([s for _, s in rows], unit="s"),
            "user_id": [u for u, _ in rows],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    got = _oracle_rows("stats_kaplan_meier_churn", events=df)
    assert got == _km_mirror(rows)


# --- jackknife -------------------------------------------------------------

orders_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10_000),       # orderkey
        st.integers(min_value=0, max_value=5_000_000),    # price cents
    ),
    min_size=30,
    max_size=120,
    unique_by=lambda t: t[0],
)


def _bkt(k: int) -> int:
    return int(hashlib.md5(str(k).encode()).hexdigest()[:14], 16) % 10


def _jk_mirror(rows):
    per: dict[int, list[int]] = {}
    for k, c in rows:
        g = per.setdefault(_bkt(k), [0, 0])
        g[0] += c
        g[1] += 1
    S = sum(s for s, _ in per.values())
    N = sum(n for _, n in per.values())
    B = len(per)
    r = [((S - s) * 10) // (N - n) for s, n in per.values()]
    sr, ssq = sum(r), sum(x * x for x in r)
    mean = math.floor(S / N / 100 * 10000 + 0.5) / 10000
    se = (
        math.floor(
            math.sqrt(float((B - 1) * (B * ssq - sr * sr))) / B / 10 / 100 * 10000
            + 0.5
        )
        / 10000
    )
    lo = math.floor((mean - 1.96 * se) * 10000 + 0.5) / 10000
    hi = math.floor((mean + 1.96 * se) * 10000 + 0.5) / 10000
    return [(N, mean, se, lo, hi)]


@settings(max_examples=200, deadline=None)
@given(orders_strategy)
def test_jackknife_oracle_equals_python_mirror(rows):
    if len({_bkt(k) for k, _ in rows}) < 2:
        return  # B=1: the jackknife is undefined and both sides fail loudly
    df = pd.DataFrame(
        {
            "o_orderkey": [k for k, _ in rows],
            "o_totalprice": [c / 100.0 for _, c in rows],
        }
    )
    got = _oracle_rows("agg_jackknife_mean_se", orders=df)
    assert got == _jk_mirror(rows)


# --- association lift ------------------------------------------------------

baskets_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),    # user
        st.sampled_from(["click", "view", "purchase"]),
    ),
    min_size=1,
    max_size=40,
)


def _lift_mirror(rows):
    du = sorted(set(rows))
    users = {u for u, _ in du}
    per_t: dict[str, int] = {}
    for _, t in du:
        per_t[t] = per_t.get(t, 0) + 1
    pair: dict[tuple[str, str], int] = {}
    by_user: dict[int, list[str]] = {}
    for u, t in du:
        by_user.setdefault(u, []).append(t)
    for ts in by_user.values():
        ts = sorted(ts)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                pair[(ts[i], ts[j])] = pair.get((ts[i], ts[j]), 0) + 1
    N = len(users)
    out = []
    for (a, b), n_ab in pair.items():
        na, nb = per_t[a], per_t[b]
        lift = math.floor(n_ab * N / na / nb * 10000 + 0.5) / 10000
        out.append(
            (a, b, na, nb, n_ab,
             (10000 * n_ab) // N, (10000 * n_ab) // na, (10000 * n_ab) // nb,
             lift)
        )
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(baskets_strategy)
def test_assoc_lift_oracle_equals_python_mirror(rows):
    df = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime([i for i in range(len(rows))], unit="s"),
            "user_id": [u for u, _ in rows],
            "event_type": [t for _, t in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    got = _oracle_rows("events_assoc_lift", events=df)
    assert got == _lift_mirror(rows)


# --- padding-waste audit ---------------------------------------------------

docs_tok_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=200),   # token count
    ),
    min_size=1,
    max_size=150,
)


def _padding_mirror(rows):
    by_src: dict[str, list[tuple[int, int]]] = {}
    for i, (src, tok) in enumerate(rows):
        by_src.setdefault(src, []).append((i, tok))

    def pad(items):
        total = 0
        for i in range(0, len(items), 32):
            chunk = [t for _, t in items[i : i + 32]]
            total += max(chunk) * len(chunk) - sum(chunk)
        return total

    out = []
    for src, items in by_src.items():
        naive = pad(sorted(items))                       # doc_id order
        by_len = pad(sorted(items, key=lambda p: (-p[1], p[0])))
        toks = sum(t for _, t in items)
        saving = 0 if naive == 0 else (10000 * (naive - by_len)) // naive
        out.append((src, len(items), toks, by_len, naive, saving))
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(docs_tok_strategy)
def test_padding_oracle_equals_python_mirror(rows):
    df = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": [" ".join(["w"] * t) for _, t in rows],
            "lang": "en",
            "source": [s for s, _ in rows],
            "n_chars": [t for _, t in rows],
        }
    )
    got = _oracle_rows("pack_padding_waste_audit", documents=df)
    assert got == _padding_mirror(rows)


# --- dedup impact report ---------------------------------------------------

dup_docs_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.integers(min_value=0, max_value=4),   # text id from a tiny pool
    ),
    min_size=1,
    max_size=60,
)

_TEXT_POOL = ["", "x", "x y", "x y z", "w w"]


def _impact_mirror(rows):
    keeper: dict[int, int] = {}
    for doc_id, (_, tix) in enumerate(rows):
        keeper.setdefault(tix, doc_id)
    agg: dict[str, list[int]] = {}
    for doc_id, (src, tix) in enumerate(rows):
        tok = len([t for t in _TEXT_POOL[tix].split(" ") if t])
        removed = 0 if keeper[tix] == doc_id else 1
        g = agg.setdefault(src, [0, 0, 0, 0])
        g[0] += 1
        g[1] += tok
        g[2] += removed
        g[3] += removed * tok
    out = []
    for src, (n, toks, rem, remtok) in agg.items():
        out.append(
            (src, n, toks, rem, remtok,
             (10000 * rem) // n,
             0 if toks == 0 else (10000 * remtok) // toks)
        )
    return sorted(out)


@settings(max_examples=200, deadline=None)
@given(dup_docs_strategy)
def test_dedup_impact_oracle_equals_python_mirror(rows):
    df = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": [_TEXT_POOL[t] for _, t in rows],
            "lang": "en",
            "source": [s for s, _ in rows],
            "n_chars": [len(_TEXT_POOL[t]) for _, t in rows],
        }
    )
    got = _oracle_rows("pipeline_dedup_impact_report", documents=df)
    assert got == _impact_mirror(rows)


# --- PII scan: Python `re` as a THIRD regex engine -------------------------

pii_text_strategy = st.lists(
    st.text(
        alphabet="ab @.-_0123456789",
        max_size=40,
    ),
    min_size=1,
    max_size=30,
)


def _pii_mirror(texts):
    import re

    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    phone = re.compile(r"\b\d{3}[-.]\d{3}[-.]\d{4}\b")
    n = len(texts)
    ne = [len(email.findall(t)) for t in texts]
    np_ = [len(phone.findall(t)) for t in texts]
    any_pii = sum(1 for e, p in zip(ne, np_) if e or p)
    return [
        ("S", n, sum(ne), sum(np_),
         sum(1 for e in ne if e), sum(1 for p in np_ if p),
         (10000 * any_pii) // n)
    ]


@settings(max_examples=300, deadline=None)
@given(pii_text_strategy)
def test_pii_oracle_matches_python_re(texts):
    """The 'engine-portable regex subset' claim, adversarially probed:
    RE2 (DuckDB) and Python `re` must produce identical match COUNTS
    on noisy @/digit/dash/dot soup — leftmost-earliest scan semantics
    agree for this pattern family even though the engines differ on
    backtracking generally."""
    df = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": "en",
            "source": "S",
            "n_chars": [len(t) for t in texts],
        }
    )
    got = _oracle_rows("quality_pii_scan", documents=df)
    assert got == _pii_mirror(texts)
