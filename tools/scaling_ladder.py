"""Empirical scaling ladder (round-6 item #3): measure, don't argue.

SCALING.md's 100× story was sizing arithmetic; this tool adds the
measurement: run the N heaviest headline queries COLD at sf0.001 /
sf0.01 / sf0.1 (each a 10× row-count step) and fit the growth exponent
e = log10(t_big / t_small) per decade. A query that is secretly
quadratic in some builder stage shows e → 2 between the two largest
SFs no matter what its plan claims.

Reading the exponents honestly:

- **e(0.01→0.1) is the signal.** At sf0.001 fixed overhead (job
  scheduling, JVM, parquet footer reads — measured by the interleaved
  canary) dominates the numerator, so e(0.001→0.01) UNDERSTATES
  growth; it is reported for context only.
- e ≈ 1 is linear scan/agg; n·log n lands ≈ 1.0–1.2 at one decade;
  anything > ALERT_EXPONENT (1.25) is flagged and must be fixed or
  explained in SCALING.md next to the table.
- Selection is data-driven and AUTO-ENROLLING (round-7 item #6): by
  default the tool reads the LATEST ``BENCH_r*.json`` in the repo and
  takes its top N queries by normalized wall time — every heavy query
  a future round adds gets an exponent row with no hand-picked
  ``--only`` list.
  The ``--markdown`` output embeds a provenance marker
  (``<!-- ladder:auto bench=... top=N -->``) and
  ``tests/test_scaling_sync.py`` asserts the committed SCALING.md
  table equals this tool's selection from that bench file.

Usage:
    python tools/scaling_ladder.py [--bench BENCH_rNN.json] [--top 25]
                                   [--markdown]
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
ALERT_EXPONENT = 1.25
DEFAULT_TOP = 25


def _bench_queries(bench_path: str) -> dict[str, float]:
    """The per-query timing dict of a driver bench file — normalized
    times when the bench carries the canary correction (immune to
    host-contention outliers), raw wall otherwise. Empty dict when the
    file recorded no parseable result (the driver stores
    ``parsed: null`` with a truncated ``tail`` when its own JSON line
    overflowed — BENCH_r06 is such a file)."""
    with open(bench_path) as f:
        d = json.load(f)
    parsed = d.get("parsed") or (d if "queries" in d else {})
    return parsed.get("queries_normalized") or parsed.get("queries") or {}


def latest_bench() -> str:
    """Newest bench file WITH a usable per-query dict — the
    auto-enroll source: whatever the last measurable run found
    expensive is what the ladder must cover. Two sources rank by
    round number: the driver's ``BENCH_rNN.json`` and the builder's
    own clean-protocol run saved as ``BENCH_rNN_local.json`` (the
    pre-driver reading the round-over-round protocol in SCALING.md
    already prescribes); for the same round the driver file wins."""
    paths = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    if not paths:
        raise FileNotFoundError("no BENCH_r*.json in repo")

    def rank(p: str) -> tuple[int, int]:
        m = re.search(r"BENCH_r(\d+)(_local)?\.json$", p)
        if not m:
            return (-1, -1)
        return (int(m.group(1)), 0 if m.group(2) else 1)

    for p in sorted(paths, key=rank, reverse=True):
        if _bench_queries(p):
            return p
    raise ValueError("no BENCH_r*.json with a parseable queries dict")


def top_queries(bench_path: str, n: int) -> list[str]:
    queries = _bench_queries(bench_path)
    return [k for k, _ in sorted(queries.items(), key=lambda kv: -kv[1])[:n]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default=None,
                    help="driver bench file (default: latest BENCH_r*.json)")
    ap.add_argument("--top", type=int, default=DEFAULT_TOP)
    ap.add_argument("--only", default=None, help="comma-separated names")
    ap.add_argument("--markdown", action="store_true")
    args = ap.parse_args()
    if args.bench is None:
        args.bench = latest_bench()

    import __spark_entry__ as e
    from catme_etl_spark.operators._shared import clear_shared
    from catme_etl_spark.session import get_spark

    qs = e.queries()
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]
    else:
        names = [n for n in top_queries(args.bench, args.top) if n in qs]

    spark = get_spark("scaling-ladder")

    def cold(name: str, sf_dir: str) -> float:
        def run() -> float:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.time() - t0
            clear_shared()
            spark.catalog.clearCache()
            return el

        return min(run(), run())

    # JIT/codegen warm-up at the smallest sf, then clear
    for name in names:
        try:
            qs[name](spark, SFS[0]).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    clear_shared()
    spark.catalog.clearCache()

    rows = []
    for name in names:
        t = {sf: cold(name, sf) for sf in SFS}
        t001, t01, t1 = (t[s] for s in SFS)
        e_small = math.log10(t01 / t001)
        e_big = math.log10(t1 / t01)
        rows.append(
            {
                "query": name,
                "t_sf0.001": round(t001, 3),
                "t_sf0.01": round(t01, 3),
                "t_sf0.1": round(t1, 3),
                "e_small": round(e_small, 2),
                "e_big": round(e_big, 2),
                "alert": e_big > ALERT_EXPONENT,
            }
        )
        print(
            f"# {name}: {t001:.2f}s / {t01:.2f}s / {t1:.2f}s  "
            f"e={e_big:+.2f}{'  <-- ALERT' if e_big > ALERT_EXPONENT else ''}",
            file=sys.stderr,
        )

    if args.markdown:
        if not args.only:
            print(
                f"<!-- ladder:auto bench={os.path.basename(args.bench)} "
                f"top={args.top} -->"
            )
        print("| query | sf0.001 | sf0.01 | sf0.1 | e(0.001→0.01) | e(0.01→0.1) |")
        print("|---|---|---|---|---|---|")
        for r in rows:
            flag = " ⚠" if r["alert"] else ""
            print(
                f"| `{r['query']}` | {r['t_sf0.001']}s | {r['t_sf0.01']}s "
                f"| {r['t_sf0.1']}s | {r['e_small']:+.2f} "
                f"| {r['e_big']:+.2f}{flag} |"
            )
    else:
        print(json.dumps({"ladder": rows, "alert_exponent": ALERT_EXPONENT}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
