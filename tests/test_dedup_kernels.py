"""The dedup family's shared kernels (`catme_etl_spark/operators/dedup.py`),
checked through their consumers at sf0.001: the SimHash band join
behind the pair builder and the Hamming histogram, the winnowing index
behind the pair/containment reports and the span audit, and the oracle
form of the release manifest's train-only slice rule."""

from __future__ import annotations


def test_hamming_histogram_under_cut_counts_the_verified_pairs(spark, sf_dir):
    """Both read `_simhash_band_collisions`: the histogram's mass at
    Hamming <= _HAMMING_MAX is exactly the verified pair set."""
    from catme_etl_spark.operators.dedup import (
        _HAMMING_MAX,
        dedup_simhash_hamming_histogram,
        dedup_simhash_pairs,
    )

    hist = dedup_simhash_hamming_histogram(spark, sf_dir).collect()
    under = sum(r.n_pairs for r in hist if r.hamming <= _HAMMING_MAX)
    n_pairs = dedup_simhash_pairs(spark, sf_dir).count()
    assert n_pairs > 0
    assert under == n_pairs
    assert sum(r.n_pairs for r in hist) > n_pairs


def test_span_audit_index_is_the_live_index(spark, sf_dir):
    """The span audit's df-capped position index holds the same
    (doc_id, fp) set as the fingerprint index the pair, containment
    and cluster reports read."""
    from catme_etl_spark.operators.dedup import (
        _winnow_live_index,
        _winnow_position_index,
    )

    pos = _winnow_position_index(spark, sf_dir)
    live = {tuple(r) for r in _winnow_live_index(spark, sf_dir).select(
        "doc_id", "fp"
    ).collect()}
    spans = {tuple(r) for r in pos.select("doc_id", "fp").collect()}
    assert live and spans == live
    assert pos.count() == len(spans)  # one first position per pair


def test_slice_pred_renders_the_recorded_predicates():
    """The retention ledger's and the diff family's recorded slice
    predicates, as `_manifest_chain_sql` reads them."""
    from catme_etl_spark.operators.dedup import _slice_pred

    assert _slice_pred(()) == "TRUE"
    assert _slice_pred((3,)) == "NOT (doc_id % 7 = 3 AND split = 'train')"
    assert (
        _slice_pred((3, 5))
        == "NOT (doc_id % 7 IN (3, 5) AND split = 'train')"
    )
