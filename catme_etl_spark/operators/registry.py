"""Query registry.

Every implemented operator from SURVEY.md §2 registers itself here as a
named query ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
a DuckDB oracle SQL string over the same parquet tables. The driver
cross-checks the pair at sf0.01 (row-count + schema + order-insensitive
value hash), so:

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
# Deferred registrations.
#
# `pending_query` holds a finished operator OUT of QUERIES/ORACLE (so
# `queries()`, the correctness sweep and bench never see it) while
# keeping the implementation + oracle live for tests. Going live is a
# one-line change: `tools/flip_pending.py --write` rewrites the
# decorator to `@query`, and the name is appended to
# `operators/ordering.py::SWEEP_ORDER`.
# ---------------------------------------------------------------------------

PENDING: dict[str, QueryFn] = {}
PENDING_ORACLE: dict[str, str] = {}


def pending_query(
    name: str, oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query into the round-(N+1) debut
    queue instead of the live registry (window-budget deferral)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES or name in PENDING:
            raise ValueError(f"duplicate query name {name!r}")
        PENDING[name] = fn
        if oracle is not None:
            PENDING_ORACLE[name] = oracle
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
