"""Pins the release manifest: the budget stage may join the
session-shared per-doc token-stats table instead of re-tokenizing the
final documents' text, and the reused manifest intermediates are
localCheckpointed — neither may change a single manifest row, for the
current release OR a filtered prior release (whose final set is a
different subset of the survivors). `release_manifest`, the builder
every release query calls, must equal the manifest over explicitly
filtered inputs."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_manifest_token_stats_join_equals_inline_tokenize(spark):
    from catme_etl_spark.operators.dedup import (
        _decon_survivors,
        _neardup_pairs_05,
        _release_manifest,
        _survivor_token_stats,
        release_manifest,
    )
    from catme_etl_spark.operators.sampling import hash_bucket
    from catme_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    surv0 = _decon_survivors(spark, sf)
    nd = _neardup_pairs_05(spark, sf)
    ts = _survivor_token_stats(spark, sf)

    # current release
    assert _rows(_release_manifest(d, surv0, nd, tok_stats=ts)) == _rows(
        _release_manifest(d, surv0, nd)
    )

    # simulated prior release: filtered documents AND filtered
    # survivors — its final set differs from the current one, but
    # stays a subset of the full survivor set the stats table covers
    in_slice = (F.col("doc_id") % 7 == 3) & (
        hash_bucket(F.col("doc_id"), 100) < 80
    )
    d_a = d.filter(~in_slice)
    s_a = surv0.filter(~(F.col("doc_id") % 7 == 3))
    assert _rows(_release_manifest(d_a, s_a, nd, tok_stats=ts)) == _rows(
        _release_manifest(d_a, s_a, nd)
    )
    assert _rows(release_manifest(spark, sf)) == _rows(
        _release_manifest(d, surv0, nd)
    )
    assert _rows(release_manifest(spark, sf, (3,))) == _rows(
        _release_manifest(d_a, s_a, nd)
    )
