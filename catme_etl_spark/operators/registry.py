"""Query registry.

Every implemented operator from SURVEY.md §2 registers itself here with
the one ``@query`` decorator: a named query ``(spark, sf_dir) ->
DataFrame`` in ``QUERIES`` plus (when SQL-expressible) a DuckDB oracle
SQL string over the same parquet tables in ``ORACLE``. Registering a
name makes it live in ``__spark_entry__.queries()``; the name is also
appended by hand to ``operators/ordering.py::SWEEP_ORDER``, which fixes
its place in that order. The correctness gate cross-checks the pair at
sf0.01 (row-count + schema + order-insensitive value hash), so:

- alias every computed column identically on both sides;
- avoid raw float aggregates in output — ROUND to fixed decimals on
  both sides so independent summation orders hash identically;
- avoid struct/array outputs — stringify (concat_ws / array_to_string);
- break ties in every top-k with a unique key so LIMIT is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and its optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Oracle CTE-prefix artifacts (tools/check_oracle.py --materialize).
#
# Round-11 verdict "What's wrong #3": release-family oracles replay the
# same banded-LSH `pairs` build (and the tagged/eval_g head) per query,
# so a LOCAL verification session re-executes the identical deterministic
# CTE stack dozens of times while the Spark side materializes its shared
# artifacts once (`shared_df`). Operators register the EXACT text of a
# shared WITH-prefix here; check_oracle materializes each prefix's CTEs
# as DuckDB temp tables once per session and rewrites matching oracles to
# read them. The rewrite is equivalence-preserving by construction — the
# prefix is deterministic SQL and the substitution is keyed on byte-exact
# text — and it NEVER changes what the driver runs: ORACLE strings stay
# self-contained; only the local tool consumes this registry.
# ---------------------------------------------------------------------------

ORACLE_CTE_PREFIXES: dict[str, str] = {}


def oracle_prefix(label: str, prefix_sql: str) -> None:
    """Register a shared oracle WITH-prefix for local materialization."""
    if label in ORACLE_CTE_PREFIXES:
        raise ValueError(f"duplicate oracle prefix {label!r}")
    ORACLE_CTE_PREFIXES[label] = prefix_sql
