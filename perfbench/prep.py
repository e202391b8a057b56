"""Write a run's inputs and the outputs they must produce.

Runs in its own process so the generator's and DuckDB's memory never
counts toward the measured program's peak RSS.

    python3 perfbench/prep.py --workload NAME --seed N --out DIR

Writes the inputs under ``DIR`` and ``DIR/expected.json``:

- ``etl_convert``: per CSV file, the generator's checksum and size.
- ``query_mix``: per query, the DuckDB ``oracle_sql()`` result's row
  count, columns and order-insensitive hash, canonicalised with
  ``tools/check_oracle.py``'s ``_canon``/``_hash``; and in
  ``DIR/oracle/<query>.json`` its canonical rows and float columns, which
  the run reads only when a hash differs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402


def prep_convert(out: str, seed: int) -> dict:
    expected = {}
    for stem, rows in workloads.CSV_FILES.items():
        path = os.path.join(out, f"{stem}.csv")
        expected[stem] = {**gen.write_csv(path, seed, rows), "bytes": os.path.getsize(path)}
    return expected


def prep_queries(out: str, seed: int, names: list[str]) -> dict:
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__
    from tools.check_oracle import TABLES, _canon, _hash

    import pandas as pd

    sf_dir = os.path.join(out, workloads.SF_DIR)
    os.makedirs(os.path.join(out, "oracle"))
    gen.write_tables(sf_dir, seed, workloads.QUERY_SF)
    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for name in names:
            df = con.execute(oracle[name]).fetchdf()
            canon = _canon(df)
            with open(os.path.join(out, "oracle", f"{name}.json"), "w") as f:
                json.dump({
                    "rows": canon.values.tolist(),
                    "float_cols": [c for c in df.columns
                                   if pd.api.types.is_float_dtype(df[c])],
                }, f)
            expected[name] = {
                "rows": len(canon),
                "columns": list(canon.columns),
                "hash": _hash(canon),
            }
    finally:
        con.close()
    return expected


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    wl = workloads.WORKLOADS[args.workload]
    if args.workload == "etl_convert":
        expected = prep_convert(args.out, args.seed)
    else:
        expected = prep_queries(args.out, args.seed, sorted(wl.weights))
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
