"""The IVF index kernels (`catme_etl_spark/operators/_ivf.py`).

`rank_emit` is pinned against the per-row loop form it replaced (an
`np.isin` candidate mask per query, `lexsort((nbr, d))[:k]`), held here
as the reference; `l2_matrix` against the subtract-square form; and the
explicit self-exclusion, of these and of the int8 kernel
`similarity._int8_topk_against`, on a corpus of TOP_K vectors.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import __spark_entry__ as entry
from catme_etl_spark.operators._ivf import (
    InvertedLists,
    ivfpq_artifacts,
    l2_matrix,
    rank_emit,
)
from catme_etl_spark.operators.similarity import (
    DELETE_MOD,
    NPROBE,
    TOP_K,
    _ivf_compact_gen,
    _ivf_rebal_gen,
    _rebalance_plan,
)
from tools.check_oracle import _apply_prefix_artifacts


class _FakeBC:
    def __init__(self, value):
        self.value = value


def _loop_tier(ia_r, dist_r, member_ids, cand):
    """The per-query loop form: candidates by boolean mask, then
    (distance, id) order, first TOP_K."""
    cidx = np.nonzero(cand & (member_ids != ia_r))[0]
    nbr, de = member_ids[cidx], dist_r[cidx]
    return [(int(ia_r), int(v)) for v in nbr[np.lexsort((nbr, de))[:TOP_K]]]


def _loop_rebal_compact(art, plan, ia):
    """Reference rows {(query, neighbour, tier)} for the rebalanced and
    compacted recall generators, in the per-row loop form."""
    ids, Q, _assign, _codes, cids, C, _wids, _W = art
    member_ids, mb, ma, aids, avecs = plan
    Qm = Q[np.searchsorted(ids, member_ids)]
    qa = Q[np.searchsorted(ids, ia)]
    d = (
        (qa * qa).sum(axis=1)[:, None]
        + (Qm * Qm).sum(axis=1)[None, :]
        - 2 * (qa @ Qm.T)
    )

    def probes(cents, cent_ids):
        dq = ((qa[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return cent_ids[np.argsort(dq, axis=1, kind="stable")[:, :NPROBE]]

    pb, pa = probes(C, cids), probes(avecs, aids)
    live = member_ids % DELETE_MOD != 3
    every = np.ones(len(member_ids), dtype=bool)
    rebal, compact = set(), set()
    for r in range(len(ia)):
        for tier, cand in (
            ("truth", every),
            ("before", np.isin(mb, pb[r])),
            ("after", np.isin(ma, pa[r])),
        ):
            rebal |= {
                (q, n, tier) for q, n in _loop_tier(ia[r], d[r], member_ids, cand)
            }
        for tier, cand in (
            ("truth_before", every),
            ("before", np.isin(mb, pb[r])),
            ("truth_after", live),
            ("after", np.isin(mb, pb[r]) & live),
        ):
            compact |= {
                (q, n, tier) for q, n in _loop_tier(ia[r], d[r], member_ids, cand)
            }
    return rebal, compact


def _rows(gen, ia):
    out = pd.concat(list(gen(iter([pd.DataFrame({"vec_id": ia})]))))
    return {
        (int(q), int(n), t)
        for q, n, t in out[["query_id", "neighbor_id", "tier"]].itertuples(
            index=False
        )
    }


def test_rank_emit_matches_loop_form_on_fixture(sf_dir):
    """sf0.001: the rebalanced and compacted recall generators emit the
    same (query, neighbour, tier) rows as the per-row loop form, every
    corpus vector a query."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy().astype(np.int64)
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    art = ivfpq_artifacts(_FakeBC((ids, mat, None)))
    plan = _rebalance_plan(art)
    ia = np.sort(ids)
    ref_rebal, ref_compact = _loop_rebal_compact(art, plan, ia)
    assert _rows(_ivf_rebal_gen(_FakeBC(art), _FakeBC(plan)), ia) == ref_rebal
    assert (
        _rows(_ivf_compact_gen(_FakeBC(art), _FakeBC(plan)), ia) == ref_compact
    )
    assert {r[2] for r in ref_compact} == {
        "truth_before", "before", "truth_after", "after"
    }


def test_rank_emit_ties_and_empty_lists_match_loop_form():
    """Crafted member set with duplicate vectors (distance ties resolve
    to the lowest id) and probes naming lists with no members: the
    gathered ranking equals the loop form for probed, masked and
    full-scan tiers."""
    rng = np.random.RandomState(7)
    n, dim = 60, 8
    V = rng.randint(-127, 128, size=(n, dim)).astype(np.int64)
    V[10] = V[20] = V[30] = V[3]  # four identical members
    V[41] = V[40]
    member_ids = np.arange(100, 100 + n, dtype=np.int64)[::-1].copy()
    lists = rng.choice([1, 2, 3, 5], size=n).astype(np.int64)
    ia = member_ids[[0, 3, 10, 40, 59]].copy()
    ia = np.concatenate([ia, [999]])  # a query that is not a member
    qa = np.vstack([V[[0, 3, 10, 40, 59]], V[[3]]])
    d = l2_matrix(qa, V)
    # lists 4 and 7 have no members; 2 probes per query
    probes = np.array([[4, 7], [1, 4], [2, 3], [7, 5], [5, 1], [3, 4]])
    mask = member_ids % 3 != 0
    members = InvertedLists(member_ids, lists)
    for tier_probes, tier_mask in (
        (probes, None),
        (probes, mask),
        (None, None),
        (None, mask),
    ):
        got = rank_emit("t", ia, d, members, TOP_K, tier_probes, tier_mask)
        got_rows = sorted(zip(got.query_id, got.neighbor_id))
        ref = []
        for r in range(len(ia)):
            cand = (
                np.isin(lists, tier_probes[r])
                if tier_probes is not None
                else np.ones(n, dtype=bool)
            )
            if tier_mask is not None:
                cand &= tier_mask
            ref += _loop_tier(ia[r], d[r], member_ids, cand)
        assert got_rows == sorted(ref)
    # the first query probes only empty lists
    got = rank_emit("t", ia, d, members, TOP_K, probes)
    assert int(ia[0]) not in set(got.query_id)
    # a probed tier scored by a (row, member) function ranks the same
    scored = rank_emit("t", ia, lambda r, c: d[r, c], members, TOP_K, probes)
    assert scored.equals(got)
    # the tie group {3, 10, 20, 30} around query id of row 3: the
    # lowest tied ids come first
    top = rank_emit("t", ia[[1]], d[[1]], members, 3)
    assert list(top.neighbor_id) == sorted(
        member_ids[[10, 20, 30]].tolist()
    )


def test_l2_matrix_matches_subtract_square_at_int8_extremes():
    rng = np.random.RandomState(3)
    A = rng.choice([-127, 127], size=(40, 64)).astype(np.int64)
    B = rng.randint(-127, 128, size=(30, 64)).astype(np.int64)
    A[0], A[1] = 127, -127
    B[0], B[1] = 127, -127
    want = ((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
    got = l2_matrix(A, B)
    assert got.dtype == np.int64
    assert np.array_equal(got, want)
    assert got.max() == 64 * 254 * 254


def test_query_is_never_its_own_neighbour_on_tiny_corpus(spark, tmp_path):
    """A corpus of TOP_K vectors: every query has TOP_K - 1 true
    neighbours, never itself. The IVF, IVF-PQ and int8 recall audits
    must equal their oracles, which join ``b.vec_id <> p.vec_id``. The
    int8 audits count hits against a truth set without self pairs, so
    a self row would not move their counts: the int8 kernel's own rows
    are checked too."""
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.operators.similarity import (
        _int8_topk_against,
        sim_int8_quant_recall,
        sim_ivf_recall_clustered,
        sim_ivfpq_recall_clustered,
        sim_recall_vs_k_curve,
    )

    vecs = [
        (i, [float(((i + 1) * (j + 3)) % 11 - 5) for j in range(64)])
        for i in range(TOP_K)
    ]
    ids = np.array([i for i, _ in vecs], dtype=np.int64)
    mat = np.array([v for _, v in vecs], dtype=np.float64)
    gen = _int8_topk_against(_FakeBC((ids, mat, None)), TOP_K)
    batch = pd.DataFrame({"vec_id": ids, "embedding": list(mat)})
    rows = pd.concat(gen([batch]))
    assert not (rows["query_id"] == rows["neighbor_id"]).any()
    assert len(rows) == TOP_K * (TOP_K - 1)
    assert set(rows["rank"]) == set(range(1, TOP_K))

    out = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(out)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{out}/*.parquet'")
    clear_shared()
    try:
        for name, fn in (
            ("sim_ivf_recall_clustered", sim_ivf_recall_clustered),
            ("sim_ivfpq_recall_clustered", sim_ivfpq_recall_clustered),
            ("sim_int8_quant_recall", sim_int8_quant_recall),
            ("sim_recall_vs_k_curve", sim_recall_vs_k_curve),
        ):
            got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
            sql = _apply_prefix_artifacts(con, entry.oracle_sql()[name], {})
            want = sorted(tuple(r) for r in con.execute(sql).fetchall())
            assert got == want, name
            if name != "sim_recall_vs_k_curve":
                n_queries, n_truth = got[0][0], got[0][1]
                assert (n_queries, n_truth) == (TOP_K, TOP_K * (TOP_K - 1))
    finally:
        clear_shared()
