"""Vector math over ``array<float>`` columns — built-in higher-order
functions only (zip_with/aggregate/transform), no UDFs.

The fold is sequential left-to-right, which matches DuckDB's
``list_sum`` over an index-ordered ``list_transform`` — keeping
cross-engine float results in agreement to the last ulp for the oracle
gate. Everything is whole-stage-codegen'd; at 100 TB this is the
JVM-side hot path for brute-force similarity (the LSH/IVF variants cut
the candidate count, not the kernel).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: Column) -> Column:
    return x.cast("double")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with float→double widening per element."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: _d(x) * _d(x)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(norm_sq(a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs instead of NaN."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Σ aᵢ·bᵢ unrolled to ``dim`` literal-index terms.

    Higher-order functions (zip_with/aggregate) are interpreted
    per-element in Spark — outside whole-stage codegen — so the generic
    ``dot`` costs ~100× more per pair than this unrolled form, which
    compiles to a flat fused multiply-add chain. Use this in O(n²)
    kernels; left-to-right addition order matches the sequential fold,
    so results are bit-identical to ``dot`` and the DuckDB oracle.
    """
    acc = _d(F.element_at(a, 1)) * _d(F.element_at(b, 1))
    for i in range(2, dim + 1):
        acc = acc + _d(F.element_at(a, i)) * _d(F.element_at(b, i))
    return acc


def dim_of(df, col: str = "embedding") -> int:
    """Vector width probe (one-row scan). Parquet arrays carry no static
    length, so O(n²) kernels probe once and unroll to that width."""
    row = df.select(F.size(col).alias("d")).first()
    if row is None:
        raise ValueError(f"cannot probe dim of empty column {col!r}")
    return int(row["d"])


# DuckDB oracle SQL fragments computing the *same* sequential folds.
# {a}/{b} are list-typed SQL expressions.
SQL_DOT = (
    "list_sum(list_transform(range(len({a})), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
)
SQL_NORM = (
    "sqrt(list_sum(list_transform(range(len({a})), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({a}[i+1] AS DOUBLE))))"
)


def sql_cosine(a: str, b: str) -> str:
    return (
        f"({SQL_DOT.format(a=a, b=b)} / "
        f"({SQL_NORM.format(a=a)} * {SQL_NORM.format(a=b)}))"
    )


def make_cosine_pandas_udf():
    """Arrow-batched row-wise cosine over two array columns.

    The vectorized escape hatch for candidate-pair scoring after a
    join: per batch it stacks the lists into matrices and does the
    whole batch in three numpy reductions. Built lazily (function
    factory) so importing this module never requires a live Arrow
    runtime.
    """
    import numpy as np
    import pandas as pd

    def cosine_pairs(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        denom = na * nb
        out = np.where(denom == 0, 0.0, dots / np.where(denom == 0, 1.0, denom))
        return pd.Series(out)

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf's inspection
    cosine_pairs.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    return F.pandas_udf(cosine_pairs, "double")
