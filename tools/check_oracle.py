"""Local replica of the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then
compares row count, column names/order-insensitive values. Each line
also prints the query's wall time (shared-artifact builds reported on
their own ``art`` lines), so ``--only`` doubles as the per-query timer;
the benchmark of record is ``perfbench/run.py``.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize values to strings, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            df[c] = col.map(lambda v: "NULL" if pd.isna(v) else f"{v:.6f}")
        elif pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.dt.tz_localize(None).astype("datetime64[us]").astype(str)
        else:
            df[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(("|".join(df.columns) + "\n").encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(map(str, row)) + "\n").encode())
    return h.hexdigest()[:16]


def _split_with_ctes(prefix_sql: str) -> list[tuple[str, str]]:
    """Parse a ``WITH name AS (body), name2 AS (body2)…`` prefix into
    ``[(name, body), …]``, respecting paren nesting and ``'…'``
    string literals. The prefix must START with WITH (optionally
    RECURSIVE) and contain only complete CTE definitions."""
    s = prefix_sql.strip()
    for kw in ("WITH RECURSIVE", "WITH"):
        if s.upper().startswith(kw):
            s = s[len(kw):]
            break
    else:
        raise ValueError("oracle prefix must start with WITH")
    items, depth, start, in_str = [], 0, 0, False
    for i, ch in enumerate(s):
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i])
            start = i + 1
    items.append(s[start:])
    out = []
    for item in items:
        # `name AS (body)` or `name (col, …) AS (body)` — the column
        # list becomes a derived-table alias so the temp table keeps
        # the declared names
        m = re.match(
            r"\s*(\w+)\s*(\(([^)]*)\))?\s+AS\s+\(", item, re.IGNORECASE
        )
        if not m:
            raise ValueError(f"unparseable CTE head: {item[:60]!r}")
        name, cols = m.group(1), m.group(3)
        body = item[m.end():].rstrip()
        if not body.endswith(")"):
            raise ValueError(f"unterminated CTE body for {name!r}")
        body = body[:-1].strip()
        if cols:
            body = f"SELECT * FROM ({body}) __t({cols})"
        out.append((name, body))
    return out


def _apply_prefix_artifacts(con, sql: str, done: dict) -> str:
    """If ``sql`` embeds a registered oracle CTE prefix, materialize
    that prefix's CTEs as uniquely-named temp tables (once per
    session) and rewrite the query to read them. Equivalence-
    preserving: keyed on the prefix's byte-exact CTE text (under a
    plain WITH or a WITH RECURSIVE head, which the rewrite keeps),
    deterministic SQL, and the rewritten WITH keeps every CTE name in
    query scope (no name pollution for non-matching queries)."""
    from catme_etl_spark.operators.registry import ORACLE_CTE_PREFIXES

    for label, prefix in sorted(
        ORACLE_CTE_PREFIXES.items(), key=lambda kv: -len(kv[1])
    ):
        # the CTE list may open a plain WITH or a WITH RECURSIVE (a
        # later CTE of the query recurses); the rewrite keeps the head
        ctes_sql = re.sub(r"^WITH(\s+RECURSIVE)?(?=\s)", "", prefix, flags=re.I)
        head = next(
            (h for h in ("WITH", "WITH RECURSIVE") if h + ctes_sql in sql),
            None,
        )
        if head is None:
            continue
        if label not in done:
            ctes = _split_with_ctes(prefix)
            assert not ({n for n, _ in ctes} & set(TABLES)), label
            for name, body in ctes:
                con.execute(f"CREATE TEMP TABLE {name} AS {body}")
            for name, _ in ctes:
                con.execute(
                    f"ALTER TABLE {name} RENAME TO __oart_{label}_{name}"
                )
            done[label] = ctes
        aliases = ", ".join(
            f"{n} AS (SELECT * FROM __oart_{label}_{n})"
            for n, _ in done[label]
        )
        return sql.replace(head + ctes_sql, f"{head} {aliases}", 1)
    return sql



def _arm_artifact_attribution():
    """Call-time wrappers over ``_shared.shared_df``/``shared_broadcast``
    (instrumentation lives HERE, so the engine carries no timing
    hooks): each cache-miss build is timed with nested-build self-time
    accounting, and the sweep loop subtracts the artifact cost charged
    during a query from that query's printed reading, reporting the
    build as its own ``art`` line instead. Round-13 verdict "What's wrong" #1: sweep
    transcripts charged 30-50s one-time builds to whichever family
    member ran first (pipeline_release_pin read 41.9s in
    FULL_SWEEP_r13 vs 8.6s warm), distorting the timing column every
    round. Returns the mutable state dict the sweep loop reads."""
    import sys as _sys

    from catme_etl_spark.operators import _shared as _shmod

    state = {"charged": 0.0, "events": [], "orig": None}
    _orig_df, _orig_bc = _shmod.shared_df, _shmod.shared_broadcast
    _stack: list[list[float]] = []

    def _record(name, fn):
        _stack.append([0.0])
        t0 = time.time()
        try:
            return fn()
        finally:
            total = time.time() - t0
            child = _stack.pop()[0]
            if _stack:
                _stack[-1][0] += total
            self_t = max(total - child, 0.0)
            state["charged"] += self_t
            state["events"].append((name, self_t))

    def _wrap_df(name, sf_dir, spark, build, materialize=False):
        key = (name, sf_dir, spark.sparkContext.applicationId)
        if key in _shmod._DF_CACHE:
            return _orig_df(name, sf_dir, spark, build, materialize)
        return _record(
            name,
            lambda: _orig_df(name, sf_dir, spark, build, materialize),
        )

    def _wrap_bc(name, sf_dir, spark, build):
        key = (name, sf_dir, spark.sparkContext.applicationId)
        if key in _shmod._BC_CACHE:
            return _orig_bc(name, sf_dir, spark, build)
        return _record(name, lambda: _orig_bc(name, sf_dir, spark, build))

    _shmod.shared_df = _wrap_df
    _shmod.shared_broadcast = _wrap_bc
    for mn, mod in list(_sys.modules.items()):
        if not mn.startswith("catme_etl_spark") or mod is None:
            continue
        if getattr(mod, "shared_df", None) is _orig_df:
            mod.shared_df = _wrap_df
        if getattr(mod, "shared_broadcast", None) is _orig_bc:
            mod.shared_broadcast = _wrap_bc
    return state


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--no-materialize",
        action="store_true",
        help="disable oracle CTE-prefix materialization (registry."
        "ORACLE_CTE_PREFIXES) and run every oracle string verbatim, "
        "exactly as the driver does",
    )
    args = ap.parse_args()

    import __spark_entry__ as e
    from catme_etl_spark.session import get_spark

    # Suppress stage-progress bars: their \r frames clobber OK lines in
    # captured transcripts (round-8 verdict: FULL_SWEEP footer said 273
    # but only 263 OK lines survived the carriage returns).
    spark = get_spark(
        "check_oracle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    art = _arm_artifact_attribution()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    names = list(qs) if not args.only else args.only.split(",")

    failures, rows_only = [], []
    art_done: dict = {}
    for name in names:
        t0 = time.time()
        n_ev = len(art["events"])
        charged0 = art["charged"]
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        for aname, self_t in art["events"][n_ev:]:
            print(f"art   {aname}: built in {self_t:.1f}s (first toucher: {name})")
        _art_t = art["charged"] - charged0
        if name not in oracles:
            rows_only.append(name)
            print(
                f"rows  {name}: {len(sdf)} rows (no oracle)"
                f" [{time.time()-t0-_art_t:.1f}s]"
            )
            continue
        try:
            osql = oracles[name]
            if not args.no_materialize:
                n_lbl = len(art_done)
                t_m = time.time()
                osql = _apply_prefix_artifacts(con, osql, art_done)
                if len(art_done) > n_lbl:
                    built = time.time() - t_m
                    _art_t += built
                    lbl = list(art_done)[-1]
                    print(
                        f"art   oracle:{lbl}: materialized in"
                        f" {built:.1f}s (first toucher: {name})"
                    )
            odf = con.execute(osql).fetchdf()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        sc, oc = _canon(sdf), _canon(odf)
        if list(sc.columns) != list(oc.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(sc.columns)} != {list(oc.columns)}")
            continue
        if len(sc) != len(oc):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sc)} != {len(oc)}")
            continue
        hs, ho = _hash(sc), _hash(oc)
        if hs != ho:
            failures.append(name)
            print(f"FAIL  {name}: value hash mismatch")
            diff = sc.compare(oc) if sc.shape == oc.shape else None
            if diff is not None and not diff.empty:
                print(diff.head(10))
        else:
            print(
                f"OK    {name}: {len(sc)} rows hash={hs}"
                f" [{time.time()-t0-_art_t:.1f}s]"
            )

    print(
        f"\n{len(names) - len(failures)}/{len(names)} passing"
        f" ({len(rows_only)} rows-only: {rows_only})"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
