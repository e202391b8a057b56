"""Run-to-run spread of the end-to-end metrics: the evidence for each
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--record]

Runs ``run.py`` once per seed, one run at a time, and prints for every
end-to-end metric its ten values, median, quartiles and IQR/median
(``statistics.quantiles(values, n=4)``) beside the metric's bound.
``--record`` merges the summary into ``perfbench/spread.json``, under
the workload and the seed range, so sets of runs made at different
times sit side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """Metric values of one run, and the run's environment stamp."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} rc={out.returncode}")
    values = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    env = {}
    for line in lines[:-1]:  # report-only metrics (error_rate, rows_per_s, ...)
        rec = json.loads(line)
        if rec.get("perfbench") == "metric":
            values.setdefault(rec["name"], rec["value"])
        elif rec.get("perfbench") == "request":
            values[f"request.{rec['request']}"] = rec["latency_p50_s"]
        env = rec["env"]
    return values, env


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / statistics.median(values) if med else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        values, env = one_run(args.workload, seed, bench["run_seconds"])
        runs.append(values)
        print(json.dumps({"seed": seed, **runs[-1]}), flush=True)
    result = {}
    for name in runs[0]:
        s = summary([r[name] for r in runs])
        s["bound"] = bounds.get(name)
        result[name] = s
        spread = s["iqr_over_median"]
        print(f"{name[:40]:40s} median={s['median']:.4g} iqr/median="
              f"{'n/a' if spread is None else f'{spread:.3f}'} bound={s['bound']}")
    if args.record:
        path = os.path.join(HERE, "spread.json")
        recorded = {}
        if os.path.exists(path):
            with open(path) as f:
                recorded = json.load(f)
        recorded.setdefault(args.workload, {})[args.seeds] = {"env": env, "metrics": result}
        recorded["dropped_workloads"] = workloads.DROPPED
        with open(path, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
