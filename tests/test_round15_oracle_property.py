"""Third-implementation property checks for the round-15 debut queue
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


def _oracle_rows(name: str, **frames) -> list[tuple]:
    from catme_etl_spark.operators.registry import ORACLE

    sql = ORACLE[name]
    con = duckdb.connect()
    for t, df in frames.items():
        con.register(t, df)
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# --- Spearman: doubled average ranks, ppm grid, NULL degeneracy ---------------

cust_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),       # segment index
        st.integers(min_value=-500_00, max_value=500_00),  # balance cents
        st.lists(                                     # order prices (cents)
            st.integers(min_value=1, max_value=90_000_00),
            max_size=3,
        ),
    ),
    min_size=1,
    max_size=30,
)


def _doubled_ranks(vals):
    return [
        2 * sum(1 for w in vals if w < v) + 1 + sum(1 for w in vals if w == v)
        for v in vals
    ]


@settings(max_examples=120, deadline=None)
@given(cust_strategy)
def test_spearman_oracle_equals_python_mirror(rows):
    segs = ["AUTO", "BIKE"]
    customer = pd.DataFrame(
        [
            (i + 1, segs[s], bal_c / 100.0)
            for i, (s, bal_c, _) in enumerate(rows)
        ],
        columns=["c_custkey", "c_mktsegment", "c_acctbal"],
    )
    orders = pd.DataFrame(
        [
            (100 * (i + 1) + j, i + 1, price_c / 100.0)
            for i, (_, _, prices) in enumerate(rows)
            for j, price_c in enumerate(prices)
        ],
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    got = _oracle_rows("agg_spearman_corr", customer=customer, orders=orders)
    by_seg: dict[str, list[tuple[int, int]]] = {}
    for s, bal_c, prices in rows:
        by_seg.setdefault(segs[s], []).append((bal_c, sum(prices)))
    expect = []
    for seg in sorted(by_seg):
        xs = [x for x, _ in by_seg[seg]]
        ys = [y for _, y in by_seg[seg]]
        n = len(xs)
        u = [r - (n + 1) for r in _doubled_ranks(xs)]
        v = [r - (n + 1) for r in _doubled_ranks(ys)]
        su2 = sum(a * a for a in u)
        sv2 = sum(b * b for b in v)
        if su2 == 0 or sv2 == 0:
            rho = None
        else:
            suv = sum(a * b for a, b in zip(u, v))
            rho = math.floor(
                1_000_000.0 * suv / math.sqrt(float(su2) * float(sv2)) + 0.5
            )
        expect.append((seg, n, rho))
    assert got == expect
    for _seg, _n, rho in got:
        assert rho is None or -1_000_000 <= rho <= 1_000_000
    # doubled ranks always sum to n(n+1): the centering constant is free
    for seg in by_seg:
        xs = [x for x, _ in by_seg[seg]]
        assert sum(_doubled_ranks(xs)) == len(xs) * (len(xs) + 1)


# --- BPE merge candidates: frequency-weighted vocabulary pair counts ---------

words_strategy = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5), min_size=1, max_size=8
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=120, deadline=None)
@given(words_strategy)
def test_bpe_oracle_equals_python_mirror(docs):
    documents = pd.DataFrame(
        [(i + 1, " ".join(ws)) for i, ws in enumerate(docs)],
        columns=["doc_id", "text"],
    )
    got = _oracle_rows("text_bpe_merge_candidates", documents=documents)
    vocab: dict[str, int] = {}
    for ws in docs:
        for w in ws:
            vocab[w] = vocab.get(w, 0) + 1
    occ: dict[str, int] = {}
    sup: dict[str, set[str]] = {}
    for w, freq in vocab.items():
        if len(w) < 2:
            continue
        for i in range(len(w) - 1):
            pair = w[i : i + 2]
            occ[pair] = occ.get(pair, 0) + freq
            sup.setdefault(pair, set()).add(w)
    ranked = sorted(occ, key=lambda p: (-occ[p], p))[:20]
    expect = sorted((p, occ[p], len(sup[p])) for p in ranked)
    assert got == expect


# --- Source quota rollover: min-plus closed form vs sequential ledger --------

arrivals_strategy = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # source index
        st.integers(min_value=0, max_value=6),  # day offset
    ),
    st.integers(min_value=1, max_value=25),
    min_size=1,
    max_size=20,
)


@settings(max_examples=100, deadline=None)
@given(arrivals_strategy)
def test_quota_rollover_oracle_equals_sequential_ledger(counts):
    srcs = ["click", "view", "purchase"]
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for (s, off), cnt in sorted(counts.items()):
        for _ in range(cnt):
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=off), eid % 7, srcs[s], 1.0)
            )
    events = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = _oracle_rows("stream_source_quota_rollover", events=events)
    offs = [off for (_, off) in counts]
    lo, hi = min(offs), max(offs)
    ndays = hi - lo + 1
    present = sorted({srcs[s] for (s, _) in counts})
    expect = []
    for name in present:
        arr = [0] * ndays
        for (s, off), cnt in counts.items():
            if srcs[s] == name:
                arr[off - lo] += cnt
        quota = (9 * sum(arr)) // (10 * ndays)
        carry = 0
        for d, a in enumerate(arr):
            avail = quota + carry
            adm = min(a, avail)
            carry = avail - adm
            day = (base + dt.timedelta(days=lo + d)).strftime("%Y-%m-%d")
            expect.append((name, day, a, quota, adm, a - adm, carry))
    assert got == sorted(expect)
    # closed form invariant: carry = d*Q - cumulative admitted >= 0
    assert all(r[6] >= 0 for r in expect)


# --- Curriculum schedule: largest-remainder exactness over deciles -----------

doc_shape_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),  # distinct tokens nd
        st.integers(min_value=0, max_value=7),  # extra repeats
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=100, deadline=None)
@given(doc_shape_strategy)
def test_curriculum_oracle_equals_python_mirror(shapes):
    epochs = 4
    docs = []
    for i, (nd, extra) in enumerate(shapes):
        toks = [f"t{j}" for j in range(nd)] + ["t0"] * extra
        docs.append((i + 1, " ".join(toks)))
    documents = pd.DataFrame(docs, columns=["doc_id", "text"])
    got = _oracle_rows("sample_curriculum_schedule", documents=documents)
    groups: dict[int, list[int]] = {}
    for nd, extra in shapes:
        nt = nd + extra
        s = (1_000_000 * nd) // nt
        g = groups.setdefault(s, [0, 0])
        g[0] += 1
        g[1] += nt
    n = sum(c for c, _ in groups.values())
    t = sum(tk for _, tk in groups.values())
    db: dict[int, list[int]] = {}
    cum = 0
    for s in sorted(groups, reverse=True):
        c, tk = groups[s]
        decile = 1 + (10 * cum) // n
        g = db.setdefault(decile, [0, 0])
        g[0] += c
        g[1] += tk
        cum += c
    budget = t // epochs
    expect = []
    for e in range(1, epochs + 1):
        adm = {d: v for d, v in db.items() if d <= (10 * e + 3) // 4}
        tadm = sum(v[1] for v in adm.values())
        fl = {d: (budget * v[1]) // tadm for d, v in adm.items()}
        rem = {d: (budget * v[1]) % tadm for d, v in adm.items()}
        extra_u = budget - sum(fl.values())
        order = sorted(adm, key=lambda d: (-rem[d], d))
        for d in adm:
            quota = fl[d] + (1 if order.index(d) < extra_u else 0)
            avail = adm[d][1]
            expect.append(
                (
                    e,
                    d,
                    adm[d][0],
                    avail,
                    quota,
                    min(quota, avail),
                    max(quota - avail, 0),
                )
            )
    assert got == sorted(expect)
    for e in range(1, epochs + 1):
        assert sum(r[4] for r in got if r[0] == e) == budget


# --- PageRank: exact-cosine group graphs vs integer mirror -------------------

graph_strategy = st.lists(
    st.sampled_from([0, 1, 2, 3, "h"]),  # group axis or hub
    min_size=2,
    max_size=12,
)


@settings(max_examples=100, deadline=None)
@given(graph_strategy)
def test_pagerank_oracle_equals_integer_mirror(groups):
    groups = [0, 0] + groups  # guarantee at least one edge
    vecs = []
    for i, g in enumerate(groups):
        if g == "h":
            emb = [0.5, 0.5, 0.5, 0.5]
        else:
            emb = [1.0 if j == g else 0.0 for j in range(4)]
        vecs.append((i + 1, emb))
    embeddings = pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    got = _oracle_rows("sim_graph_pagerank_iter", embeddings=embeddings)
    # exact cosines: same group 1.0, hub with anything 0.5 or 1.0,
    # different one-hot groups 0.0 — edges are threshold-unambiguous
    edges = []
    for i in range(len(groups)):
        for j in range(i + 1, len(groups)):
            gi, gj = groups[i], groups[j]
            if gi == gj or gi == "h" or gj == "h":
                edges.append((i + 1, j + 1))
                edges.append((j + 1, i + 1))
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    e9 = 1_000_000_000
    r = {v: e9 // n for v in deg}
    for _ in range(3):
        acc: dict[int, int] = {}
        for u, d in edges:
            acc[d] = acc.get(d, 0) + r[u] // deg[u]
        r = {v: (15 * e9) // (100 * n) + (85 * acc[v]) // 100 for v in acc}
    top = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expect = sorted((v, deg[v], rv) for v, rv in top)
    assert got == expect


# --- Repeated spans: full winnowing pipeline vs python mirror ----------------

span_doc = st.text(alphabet="ab", min_size=0, max_size=60)
span_strategy = st.tuples(
    st.lists(span_doc, min_size=2, max_size=5),
    st.text(alphabet="ab", min_size=0, max_size=50),  # shared chunk
    st.lists(st.booleans(), min_size=2, max_size=5),  # who gets the chunk
)


def _span_mirror(texts, K=16, W=8, gap=24, min_fps=2, df_cap=64, top=15):
    import hashlib

    pos: dict[tuple[int, int], int] = {}
    fp_docs: dict[int, set[int]] = {}
    for did, t in texts:
        if len(t) < K:
            continue
        ng = len(t) - K + 1
        h = [
            int(hashlib.md5(t[i : i + K].encode()).hexdigest()[:14], 16)
            for i in range(ng)
        ]
        for i in range(ng - W + 1):
            fp = min(h[i : i + W])
            key = (did, fp)
            if key not in pos or i < pos[key]:
                pos[key] = i
            fp_docs.setdefault(fp, set()).add(did)
    live = {fp for fp, ds in fp_docs.items() if len(ds) <= df_cap}
    by_fp: dict[int, list[tuple[int, int]]] = {}
    for (did, fp), i in pos.items():
        if fp in live:
            by_fp.setdefault(fp, []).append((did, i))
    hits: dict[tuple[int, int, int], list[int]] = {}
    for fp, members in by_fp.items():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                (db, ib), (da, ia) = members[x], members[y]
                # a.doc < b.doc with delta = a.i - b.i, ia = a.i
                hits.setdefault((db, da, ib - ia), []).append(ib)
    runs = []
    for (da, db, delta), ias in hits.items():
        ias.sort()
        start = ias[0]
        chunk = [ias[0]]
        for ia in ias[1:]:
            if ia - chunk[-1] > gap:
                if len(chunk) >= min_fps:
                    runs.append(
                        (da, db, delta, len(chunk), chunk[0],
                         chunk[-1] - chunk[0] + K + W - 1)
                    )
                chunk = [ia]
            else:
                chunk.append(ia)
        if len(chunk) >= min_fps:
            runs.append(
                (da, db, delta, len(chunk), chunk[0],
                 chunk[-1] - chunk[0] + K + W - 1)
            )
    runs.sort(key=lambda r: (-r[5], r[0], r[1], r[2], r[4]))
    return sorted(runs[:top])


@settings(max_examples=100, deadline=None)
@given(span_strategy)
def test_repeated_span_oracle_equals_python_mirror(args):
    bases, chunk, spliced = args
    texts = []
    for i, base in enumerate(bases):
        t = base
        if i < len(spliced) and spliced[i]:
            t = base[: len(base) // 2] + chunk + base[len(base) // 2 :]
        texts.append((i + 1, t))
    documents = pd.DataFrame(texts, columns=["doc_id", "text"])
    got = _oracle_rows("dedup_repeated_span_audit", documents=documents)
    assert got == _span_mirror(texts)
