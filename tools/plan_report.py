"""Generate PLANS.md: measured physical-plan shape per registered query.

For every ``queries()`` entry, build the DataFrame at sf0.01 (no
execution for batch queries) and count shuffles (Exchange), broadcast
joins, sort-merge joins, nested-loop joins, and whole-stage-codegen
stages. This pins the shuffle-budget claims in SCALING.md to measured
numbers and makes plan regressions diff-visible in review.

A second table records MEASURED shuffle read/write bytes for the
heaviest headline queries at sf0.1, captured through Spark's public
monitoring REST API (stage-metric deltas around each cold run) — the
"what moves" column as bytes, not prose.

Streaming queries (``stream_*``) execute on build (availableNow → memory
sink), so their plan is the *result's* plan, not the streaming DAG —
they are listed but flagged.

Usage: python tools/plan_report.py [--sf /root/testdata/sf0.01]
       [--bytes-sf /root/testdata/sf0.1] [--no-bytes]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The queries whose data movement dominates the heavy workloads: worth
# measuring, not just plan-counting.
BYTES_QUERIES = [
    "flagship_revenue_by_nation",
    "q1_pricing_summary",
    "tpch_q9_product_type_revenue",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "dedup_minhash_incremental",
    "sim_ivf_topk",
    "sim_srp_lsh_pairs",
    "grouped_map_user_ewma",
    "join_point_in_time_priority",
    "dedup_cluster_representatives",
    "pipeline_dedup_corpus",
]


def _stage_totals(ui_base: str, app_id: str) -> tuple[int, int]:
    """Sum shuffle write/read bytes over ALL stages via the public
    monitoring REST API (stable, documented interface)."""
    with urllib.request.urlopen(
        f"{ui_base}/api/v1/applications/{app_id}/stages", timeout=30
    ) as r:
        stages = json.load(r)
    w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    return w, rd


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024.0
    return f"{n:.1f} GB"


def measure_shuffle_bytes(spark, qs, sf_dir: str) -> list[tuple]:
    """Cold-run each BYTES_QUERIES entry through the noop sink and
    record the stage-metric delta (shuffle write/read bytes). Shared
    builders are cleared between queries so each delta is the full
    cold pipeline."""
    from catme_etl_spark.operators._shared import clear_shared

    app_id = spark.sparkContext.applicationId
    ui_base = spark.sparkContext.uiWebUrl
    rows = []
    for name in BYTES_QUERIES:
        if name not in qs:
            continue
        clear_shared()
        spark.catalog.clearCache()
        w0, r0 = _stage_totals(ui_base, app_id)
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            w1, r1 = _stage_totals(ui_base, app_id)
            rows.append((name, w1 - w0, r1 - r0))
            print(f"bytes {name}: write={_fmt_bytes(w1 - w0)} "
                  f"read={_fmt_bytes(r1 - r0)}")
        except Exception as ex:  # pragma: no cover - report tool
            rows.append((name, None, None))
            print(f"FAIL bytes {name}: {ex}")
    clear_shared()
    spark.catalog.clearCache()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--bytes-sf", default="/root/testdata/sf0.1")
    ap.add_argument("--no-bytes", action="store_true")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as e
    from catme_etl_spark.plans.explain import (
        codegen_stage_count,
        count_shuffles,
        executed_plan_str,
    )
    from catme_etl_spark.session import get_spark

    # UI on: the byte measurements read the public monitoring REST API
    spark = get_spark(
        "plan-report",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "true"},
    )
    qs = e.queries()
    rows = []
    for name in sorted(qs):
        try:
            df = qs[name](spark, args.sf)
            plan = executed_plan_str(df)
            rows.append(
                (
                    name,
                    count_shuffles(df),
                    len(re.findall(r"BroadcastHashJoin", plan)),
                    len(re.findall(r"SortMergeJoin", plan)),
                    len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)),
                    codegen_stage_count(df),
                    name.startswith("stream_"),
                )
            )
            print(f"ok   {name}")
        except Exception as ex:  # pragma: no cover - report tool
            rows.append((name, None, None, None, None, None, False))
            print(f"FAIL {name}: {ex}")

    with open(args.out, "w") as f:
        f.write(
            "# PLANS — measured physical-plan shape per query (sf0.01)\n\n"
            "Generated by `python tools/plan_report.py`. Shuffle counts are\n"
            "initial-plan Exchange operators (AQE may coalesce at runtime);\n"
            "`stream_*` rows describe the materialized result, not the\n"
            "streaming DAG. BNL/cartesian > 0 is acceptable only for\n"
            "deliberately bounded inputs (cross-grid, levenshtein blocking,\n"
            "broadcast scalar thresholds / one-row global aggregates, the\n"
            "27-row generated quarter dim in the interval-overlap join,\n"
            "and the planted-cluster recall audits' static lineage — their\n"
            "BNL count is the one-row nct/max-abs broadcasts and the\n"
            "|centroids|-bounded assignment loop repeated through the\n"
            "unshared qc CTE lineage; the corpus never self-joins and the\n"
            "ladder reads the family at e <= +0.22).\n"
            "Queries consuming a\n"
            "session-materialized builder (`operators/_shared.py`:\n"
            "MinHash/SimHash verified pairs) show the post-checkpoint plan —\n"
            "near-zero shuffles here means the multi-shuffle builder ran ONCE\n"
            "at materialization and every family member reads its snapshot.\n"
            "Consumers of a checkpointed builder (`dedup_minhash_canonical`,\n"
            "`dedup_cluster_stats`) plan the docs↔pairs/labels join as SMJ, not\n"
            "broadcast: the snapshot carries no size stats, and at corpus scale\n"
            "the pairs/labels side grows with the corpus — the shuffle join is\n"
            "the honest default, not a regression. Queries consuming a lazily\n"
            "PERSISTED (not checkpointed) builder (the shared shingle sets\n"
            "under the minhash verify joins) count that builder's full static\n"
            "lineage here; at runtime the persisted stage is computed once and\n"
            "later consumers read the cache.\n\n"
            "| query | shuffles | bcast joins | SMJ | BNL/cart | codegen stages |\n"
            "|---|---|---|---|---|---|\n"
        )
        for name, sh, bc, smj, bnl, cg, is_stream in rows:
            tag = " *(stream result)*" if is_stream else ""
            if sh is None:
                f.write(f"| {name}{tag} | — | — | — | — | — |\n")
            else:
                f.write(f"| {name}{tag} | {sh} | {bc} | {smj} | {bnl} | {cg} |\n")

        if not args.no_bytes:
            byte_rows = measure_shuffle_bytes(spark, qs, args.bytes_sf)
            f.write(
                "\n## Measured shuffle bytes (cold, sf0.1)\n\n"
                "Stage-metric deltas from the public monitoring REST API\n"
                "around one cold noop-sink run per query (shared builders\n"
                "cleared first). This is the actual\n"
                "data movement, including every builder stage; multiply by\n"
                "1000× for the 100 TB mental model and compare against the\n"
                "SCALING.md sizing table.\n\n"
                "| query | shuffle write | shuffle read |\n"
                "|---|---|---|\n"
            )
            for name, w, rd in byte_rows:
                if w is None:
                    f.write(f"| {name} | — | — |\n")
                else:
                    f.write(
                        f"| {name} | {_fmt_bytes(w)} | {_fmt_bytes(rd)} |\n"
                    )
    print(f"wrote {args.out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
