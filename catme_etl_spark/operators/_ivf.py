"""The IVF-PQ vector index over the ``embeddings`` table, written once.

Every IVF/PQ consumer — the recall audits and lifecycle ops in
``similarity.py`` and the two index streams in ``streaming/jobs.py`` —
reads the index through this module:

- the fitted artifact (:func:`ivfpq_artifacts`, broadcast once per
  session by :func:`ivf_index`): the int8 planted-cluster corpus, the
  IVF assignment of every vector to its nearest stride centroid and
  the PQ codes over the stride codebook;
- the ingest slice (:func:`is_ingest`) and the post-ingest membership
  table (:func:`members_table`);
- four numpy kernels: :func:`l2_matrix` (pairwise squared L2 by the
  matmul identity), :func:`probe` (nearest ``NPROBE`` centroids),
  :func:`pq_luts` (per-subspace ADC tables) and :func:`rank_emit`
  (probe -> candidate gather -> exact re-rank -> top-k), plus the
  admission rule built on them (:func:`admit`).

Every distance is exact int64 arithmetic on int8-range values and every
ranking breaks ties on the lowest id, so each result reproduces
bit-identically in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._shared import fan_out as _fan_out_unsized
from ._shared import shared_broadcast, shared_df, shared_matrix_broadcast

NPROBE = 2
CENTROID_STRIDE = 50
PQ_M = 16
PQ_SUB = 4  # dims per subspace (PQ_M * PQ_SUB = embedding dim)
IVFPQ_CW_STRIDE = 100  # coarser PQ codebook than the flat-PQ tier's
# PQ_STRIDE: the composed audit re-ranks only the probed inverted
# lists, so the codebook can be 10x smaller and the oracle's encode
# CTE stays tractable at sf0.1 (|corpus/100| codewords per subspace).
CLUSTER_MEMBERS = 8
INGEST_REJECT_FACTOR = 4  # reject when min_adc is > 4x below the
# query's own mean candidate ADC distance (cross-multiplied integer
# form) — per-query adaptive, so the rule stays non-trivial at every
# corpus density (a fixed distance threshold saturates as the corpus
# grows denser; measured 4/50, 4/50, 23/200 rejections at the three
# fixture SFs)
DELETE_MOD = 25  # tombstone rule: members with vec_id % 25 == 3

INGEST_SCHEMA = (
    "vec_id long, cid long, n_cand long, min_adc long,"
    " sum_adc long, admitted long"
)
RANK_SCHEMA = "query_id long, neighbor_id long, tier string"

# Scale-adaptive fan-out for the numeric-vector kernels (guide §2: make
# partitioning derive from input size, not the core count). Every
# fan_out here feeds an Arrow/numpy kernel whose per-row cost is a
# fused BLAS pass — moderate — so a kilobyte-scale vector slice should
# not pay 32 python-worker round-trips per stage (~0.2 s of pure
# overhead at sf0.1, ×9 passes in the k-center loop). 128 KiB of
# vectors per task ≈ 1.6k embedding rows; past ~4 MiB of input the
# target hits the defaultParallelism clamp and the plan is identical
# to the classic fan_out. Results are partition-independent by
# construction (row-local kernels; per-partition winners reduce under
# a global tie rule) — re-certified against the oracle for the whole
# family.
_EMB_BYTES_PER_TASK = 128 << 10


def fan_out(df, spark, *keys):
    return _fan_out_unsized(
        df, spark, *keys, bytes_per_task=_EMB_BYTES_PER_TASK
    )


def is_ingest(vec_id):
    """The ingest slice: the vectors that arrive as the new batch
    (``vec_id % 10 == 9``); every other vector is an existing index
    member. Works on a Spark Column and on a numpy id array alike."""
    return vec_id % 10 == 9


def is_deleted(vec_id):
    """The tombstone set (``vec_id % DELETE_MOD == 3``), on a Column or
    a numpy id array."""
    return vec_id % DELETE_MOD == 3


# --- int8 quantization ------------------------------------------------


def quant_max_abs(bmat):
    """Shared guard for the int8/PQ quantization kernels: the symmetric
    scale 127/max|x| divides by the corpus absmax, so an EMPTY corpus
    matrix (``.max()`` raises on numpy) or an ALL-ZERO one (division by
    zero → NaN codes → garbage top-k) must fail loudly — the same
    degenerate-input discipline the stats operators apply. Returns the
    strictly-positive absmax."""
    import numpy as np

    if bmat.size == 0:
        raise ValueError(
            "int8/PQ quantization: empty embedding corpus — nothing to "
            "derive the symmetric scale from (check the embeddings table "
            "and any upstream filters)"
        )
    max_abs = float(np.abs(bmat).max())
    if max_abs == 0.0:
        raise ValueError(
            "int8/PQ quantization: all-zero embedding corpus — the "
            "symmetric scale 127/max|x| is undefined; quantizing a "
            "degenerate corpus would rank garbage (clean the embeddings "
            "instead)"
        )
    return max_abs


def quantize(M, max_abs):
    """Symmetric int8 quantization to int64 (the arithmetic of the
    oracles' ``GREATEST(-127, LEAST(127, floor(v * 127 / max_abs +
    0.5)))``)."""
    import numpy as np

    return np.clip(np.floor(M * 127.0 / max_abs + 0.5), -127, 127).astype(
        np.int64
    )


# --- kernels ------------------------------------------------------------


def l2_matrix(A, B):
    """Pairwise squared L2 between the rows of ``A`` and ``B`` by the
    matmul identity a² + b² − 2a·b. Exact on int64 int8-range inputs
    (64 dims × 254² ≈ 4.1M per entry, far under int64) and
    bit-identical to the subtract-square form there, at a fraction of
    its temporary memory. On float64 input it keeps this order of
    operations, so the float k-means training that uses it is
    unchanged."""
    return (
        (A * A).sum(axis=1)[:, None]
        + (B * B).sum(axis=1)[None, :]
        - 2 * (A @ B.T)
    )


def probe(qa, C, cids):
    """The ``NPROBE`` nearest centroids per query row (fewer when there
    are fewer centroids). The stable sort keeps distance ties in column
    order, and ``cids`` is ascending, so a tie goes to the lowest
    centroid id (the oracles' ``ORDER BY d, cid``)."""
    import numpy as np

    return cids[np.argsort(l2_matrix(qa, C), axis=1, kind="stable")[:, :NPROBE]]


def _subspaces():
    return [slice(m * PQ_SUB, (m + 1) * PQ_SUB) for m in range(PQ_M)]


def pq_luts(qa, W):
    """Per-subspace ADC lookup tables: ``PQ_M`` int64 arrays of shape
    (rows, codewords), the distance of each row's sub-vector to each
    codeword's."""
    return [l2_matrix(qa[:, s], W[:, s]) for s in _subspaces()]


def pq_encode(Q, W):
    """PQ codes: per subspace, the nearest codeword (argmin first-tie =
    lowest codeword id, as ``W`` is an ascending-id slice)."""
    import numpy as np

    return np.stack(
        [l2_matrix(Q[:, s], W[:, s]).argmin(axis=1) for s in _subspaces()],
        axis=1,
    ).astype(np.int64)


def pq_adc(luts, codes, rows, cols):
    """ADC distance of query ``rows[i]`` to coded vector ``cols[i]``:
    the sum over subspaces of the LUT entry at the vector's code."""
    import numpy as np

    adc = np.zeros(len(cols), dtype=np.int64)
    for m, lut in enumerate(luts):
        adc += lut[rows, codes[cols, m]]
    return adc


class InvertedLists:
    """A member set: ``ids`` (the columns of every distance matrix
    ranked over it) and, optionally, each member's inverted-list id,
    grouped once so a query's candidates are gathered per probed list
    instead of scanning every member's list id."""

    def __init__(self, ids, lists=None):
        import numpy as np

        self.ids = ids
        if lists is not None:
            self._order = np.argsort(lists, kind="stable")
            self._sorted = lists[self._order]

    def gather(self, probes):
        """(row, col) pairs: for query row r, every member of the lists
        in ``probes[r]``. Rows come out ascending and contiguous; a
        probed list with no members contributes nothing."""
        import numpy as np

        flat = probes.ravel()
        lo = np.searchsorted(self._sorted, flat, "left")
        seg = np.searchsorted(self._sorted, flat, "right") - lo
        rows = np.repeat(
            np.repeat(np.arange(probes.shape[0]), probes.shape[1]), seg
        )
        pos = np.arange(seg.sum()) - np.repeat(np.cumsum(seg) - seg - lo, seg)
        return rows, self._order[pos]


def rank_emit(tier, ia, dist, members, k, probes=None, mask=None):
    """Top-``k`` neighbours per query as a (query_id, neighbor_id, tier)
    frame. ``dist`` is the (queries × members) score matrix — or, with
    ``probes``, a function scoring (row, member) index pairs, so a
    costly score is computed for the candidates only; the
    candidates of query r are the members of its probed lists
    (``probes[r]``), or every member when ``probes`` is None, restricted
    to ``mask`` when given. The query itself is never its own
    neighbour, however small the member set. Ties go to the lowest
    neighbour id (``lexsort((id, d))`` is a total order, so the
    candidate order does not matter)."""
    import numpy as np
    import pandas as pd

    ids = members.ids
    if probes is None:
        # every member is a candidate: rank each row of the matrix, with
        # the excluded members sorted last and then dropped
        out = ids[None, :] == ia[:, None]
        if mask is not None:
            out |= ~mask[None, :]
        last = np.inf if dist.dtype.kind == "f" else np.iinfo(dist.dtype).max
        keyed = np.where(out, last, dist)
        top = np.lexsort((np.broadcast_to(ids, dist.shape), keyed), axis=1)
        top = top[:, :k]
        rows = np.repeat(np.arange(len(ia)), top.shape[1])
        cols = top.ravel()
        keep = ~out[rows, cols]
        rows, nbr = rows[keep], ids[cols[keep]]
    else:
        rows, cols = members.gather(probes)
        nbr = ids[cols]
        keep = nbr != ia[rows]
        if mask is not None:
            keep &= mask[cols]
        rows, cols, nbr = rows[keep], cols[keep], nbr[keep]
        d = dist(rows, cols) if callable(dist) else dist[rows, cols]
        order = np.lexsort((nbr, d, rows))
        rows, nbr = rows[order], nbr[order]
        top = np.arange(len(rows)) - np.searchsorted(rows, rows) < k
        rows, nbr = rows[top], nbr[top]
    return pd.DataFrame({"query_id": ia[rows], "neighbor_id": nbr, "tier": tier})


# --- the fitted index -----------------------------------------------------


def clv_int8_corpus(bc):
    """Numpy replica of the RELATIONAL cluster plant (`_CLV_SQL_CTES` in
    similarity.py): 56-bit md5-slice cluster assignment over nc =
    max(16, n/8) clusters, centroid = the MIN-vec_id member (ids
    ascending, so the first occurrence of each cluster), 0.75/0.25 IEEE
    double mix in the same per-element op order, shared max-abs int8
    quantization — bit-identical to the `qc` CTE both engines certify,
    so every int64 kernel downstream lands in the oracle hash. Distinct
    from similarity's `_clustered_matrix` (the bounds-form plant:
    full-md5 assignment, first-NC centroids), which is NOT
    SQL-reproducible."""
    import hashlib

    import numpy as np

    bids, bmat, _ = bc.value
    order = np.argsort(bids, kind="stable")
    ids = bids[order]
    M = bmat[order]
    nc = max(16, len(ids) // CLUSTER_MEMBERS)
    cl = np.array(
        [
            int(hashlib.md5(str(int(i)).encode()).hexdigest()[:14], 16) % nc
            for i in ids
        ],
        dtype=np.int64,
    )
    first: dict = {}
    for pos, c in enumerate(cl):
        if int(c) not in first:
            first[int(c)] = pos
    cent_idx = np.array([first[int(c)] for c in cl], dtype=np.int64)
    M2 = 0.75 * M[cent_idx] + 0.25 * M
    return ids, quantize(M2, quant_max_abs(M2))


def ivfpq_artifacts(bc):
    """Fit-once/broadcast-artifacts (the round-8 trained-PQ lesson):
    the IVF assignment of every corpus vector and its PQ codes over
    the stride codebook are pure functions of the corpus — computing
    them once driver-side and shipping (ids, Q, assign, codes, cids,
    C, wids, W) beats re-deriving them inside every scan task. Argmin
    first-tie = lowest id because both the centroid and codeword
    arrays are ascending-id slices."""
    ids, Q = clv_int8_corpus(bc)
    cmask = ids % CENTROID_STRIDE == 0
    if not cmask.any():
        raise ValueError(
            "ivfpq audit: no stride centroids (no vec_id % "
            f"{CENTROID_STRIDE} == 0) — corpus too small for the IVF tier"
        )
    cids, C = ids[cmask], Q[cmask]
    assign = cids[l2_matrix(Q, C).argmin(axis=1)]
    wmask = ids % IVFPQ_CW_STRIDE == 0
    if not wmask.any():
        raise ValueError(
            "ivfpq audit: no PQ codewords (no vec_id % "
            f"{IVFPQ_CW_STRIDE} == 0) — corpus too small for the PQ tier"
        )
    wids, W = ids[wmask], Q[wmask]
    return ids, Q, assign, pq_encode(Q, W), cids, C, wids, W


def ivf_index(spark: SparkSession, sf_dir: str):
    """``(emb, art)``: the ``(vec_id, embedding)`` table and the
    session-shared broadcast of :func:`ivfpq_artifacts`, fitted once per
    (sf_dir, session) from the shared ``embeddings_matrix``."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = shared_matrix_broadcast("embeddings_matrix", sf_dir, spark, emb)
    art = shared_broadcast(
        "ivfpq_artifacts", sf_dir, spark, lambda: ivfpq_artifacts(bc)
    )
    return emb, art


def existing_list_sizes(art) -> dict[int, int]:
    """Existing (non-ingest) members per inverted list, for every list
    id in ascending order (0 for a list whose members are all in the
    ingest slice) — read off the fitted assignment, |lists| entries, no
    corpus rescan."""
    import numpy as np

    ids, _Q, assign, _codes, cids, *_rest = art
    n = np.bincount(
        np.searchsorted(cids, assign[~is_ingest(ids)]), minlength=len(cids)
    )
    return dict(zip(cids.tolist(), n.tolist()))


# --- admission and membership --------------------------------------------


def admit(art, lists, pos):
    """The ingest admission rule for the corpus rows ``pos``: probe the
    NPROBE nearest lists, ADC-score their EXISTING members through the
    PQ codes, and reject a vector whose nearest candidate is a distance
    outlier — ``INGEST_REJECT_FACTOR * min * n < sum``, the
    cross-multiplied form of min < mean / factor. ``lists`` is the
    corpus grouped by fitted list (``InvertedLists(ids, assign)``).
    Returns (first probe cid, n_cand, min_adc, sum_adc, admitted); a
    vector with no candidates admits with min_adc -1 and sum_adc 0.
    int64 throughout: FACTOR·min·n ≲ 2e11 at int8-range quantization,
    far under int64."""
    import numpy as np

    ids, Q, _assign, codes, cids, C, _wids, W = art
    qa = Q[pos]
    probes = probe(qa, C, cids)
    luts = pq_luts(qa, W)
    rows, cols = lists.gather(probes)
    keep = ~is_ingest(ids[cols])
    rows, cols = rows[keep], cols[keep]
    adc = pq_adc(luts, codes, rows, cols)
    lens = np.bincount(rows, minlength=len(pos)).astype(np.int64)
    nz = lens > 0
    mn = np.full(len(pos), -1, dtype=np.int64)
    sm = np.zeros(len(pos), dtype=np.int64)
    if nz.any():
        # rows are ascending and contiguous, so each query's candidates
        # form one segment starting at the running count
        starts = (np.cumsum(lens) - lens)[nz]
        mn[nz] = np.minimum.reduceat(adc, starts)
        sm[nz] = np.add.reduceat(adc, starts)
    admitted = np.where(nz, INGEST_REJECT_FACTOR * mn * lens >= sm, True)
    return probes[:, 0].astype(np.int64), lens, mn, sm, admitted


def ingest_gen(art_bc):
    """mapInPandas generator over new-batch vectors: one admission
    verdict row (``INGEST_SCHEMA``) per vector, by :func:`admit`."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        art = art_bc.value
        ids, assign = art[0], art[2]
        lists = InvertedLists(ids, assign)
        for pdf in batches:
            if not len(pdf):
                continue
            ia = pdf["vec_id"].to_numpy()
            cid, n, mn, sm, adm = admit(art, lists, np.searchsorted(ids, ia))
            yield pd.DataFrame(
                {
                    "vec_id": ia.astype(np.int64),
                    "cid": cid,
                    "n_cand": n,
                    "min_adc": mn,
                    "sum_adc": sm,
                    "admitted": adm.astype(np.int64),
                }
            )

    return gen


def assign_lookup_gen(art_bc):
    """mapInPandas generator: (vec_id) -> (vec_id, list_id) by direct
    lookup into the broadcast artifact's fitted IVF assignment — a
    distributed O(1)-per-row probe of the persisted index, never a
    re-scoring pass."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        ids, _Q, assign, *_rest = art_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            pos = np.searchsorted(ids, pdf["vec_id"].to_numpy())
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "list_id": assign[pos]}
            )

    return gen


def members_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-ingest index membership ``(vec_id, list_id)``: existing
    vectors on their fitted list plus the admitted ingest vectors on
    their first probe. Session-materialized once per sf_dir
    (``ivf_rebalance_members``) and read by the rebalance, delete,
    compaction, lifecycle and store ops."""

    def build():
        emb, art = ivf_index(spark, sf_dir)
        vid = F.col("vec_id")
        adm = (
            fan_out(emb.filter(is_ingest(vid)).select("vec_id"), spark)
            .mapInPandas(ingest_gen(art), schema=INGEST_SCHEMA)
            .filter(F.col("admitted") == 1)
            .select("vec_id", F.col("cid").alias("list_id"))
        )
        existing = (
            fan_out(emb.filter(~is_ingest(vid)), spark)
            .select("vec_id")
            .mapInPandas(assign_lookup_gen(art), "vec_id long, list_id long")
        )
        return existing.unionByName(adm)

    return shared_df(
        "ivf_rebalance_members", sf_dir, spark, build, materialize=True
    )
