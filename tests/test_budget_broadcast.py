"""Size-gated broadcast hints (round-6 item #1).

12 queries join fact tables against customer/supplier/part — dims that
GROW linearly with scale factor. A hard ``F.broadcast`` pin OOMs at
100× where an unhinted plan degrades to a shuffle join; the gate
(``_shared.maybe_broadcast``) applies the hint only while the probed
on-disk size fits the budget. These tests prove BOTH arms:

- under budget → the hint is present and the static plan broadcasts
  even with Spark's own size-based selection disabled;
- over budget → the returned frame is unhinted, the same query plans
  a sort-merge join, and its RESULT is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from catme_etl_spark.operators import _shared
from catme_etl_spark.operators._shared import _table_bytes, maybe_broadcast
from catme_etl_spark.plans.explain import plan_str

SF = "/root/testdata/sf0.001"


def test_under_budget_returns_hinted_frame(spark):
    p = spark.read.parquet(os.path.join(SF, "part.parquet"))
    hinted = maybe_broadcast(p, SF, "part", budget_bytes=1 << 30)
    assert hinted is not p
    assert "ResolvedHint" in plan_str(hinted, "extended")


def test_over_budget_returns_input_unchanged(spark):
    p = spark.read.parquet(os.path.join(SF, "part.parquet"))
    assert maybe_broadcast(p, SF, "part", budget_bytes=0) is p


def test_table_bytes_probe_is_positive_and_cheap(spark):
    # pure filesystem metadata — no SparkSession interaction at all
    assert _table_bytes(SF, "part") > 0
    assert _table_bytes(SF, "lineitem") > _table_bytes(SF, "region")


def _q14_plan_and_rows(spark, monkeypatch, budget: int):
    monkeypatch.setattr(_shared, "BROADCAST_BUDGET_DEFAULT", budget)
    from catme_etl_spark.operators.tpch import tpch_q14_promo_revenue

    df = tpch_q14_promo_revenue(spark, SF)
    return plan_str(df), df.collect()


def test_q14_degrades_to_shuffle_join_over_budget(spark, monkeypatch):
    """With Spark's own stats-based broadcast selection disabled, the
    ONLY way q14 can broadcast is the hint — so budget=0 must yield a
    sort-merge join (the graceful 100× behavior) and the identical
    result, while the default budget must still broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_hi, rows_hi = _q14_plan_and_rows(spark, monkeypatch, 1 << 30)
        plan_lo, rows_lo = _q14_plan_and_rows(spark, monkeypatch, 0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" in plan_hi
    assert "BroadcastHashJoin" not in plan_lo
    assert "SortMergeJoin" in plan_lo
    assert rows_hi == rows_lo


def test_rfm_and_hhi_gate_fall_back_without_error(spark, monkeypatch):
    """The two non-TPC-H gated sites (customer dim) run green with the
    hint forced off — results must not depend on the join strategy."""
    from catme_etl_spark.operators.stats import agg_hhi_market_concentration
    from catme_etl_spark.operators.windows import window_rfm_segments

    monkeypatch.setattr(_shared, "BROADCAST_BUDGET_DEFAULT", 1 << 30)
    base_hhi = agg_hhi_market_concentration(spark, SF).collect()
    base_rfm = sorted(
        window_rfm_segments(spark, SF).collect(),
        key=lambda r: (r[0], r[1]),
    )
    monkeypatch.setattr(_shared, "BROADCAST_BUDGET_DEFAULT", 0)
    assert agg_hhi_market_concentration(spark, SF).collect() == base_hhi
    assert (
        sorted(
            window_rfm_segments(spark, SF).collect(),
            key=lambda r: (r[0], r[1]),
        )
        == base_rfm
    )
