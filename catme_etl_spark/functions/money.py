"""Exact-integer money arithmetic.

The synthetic money columns (l_extendedprice, o_totalprice, …) sit on a
2-decimal grid and discounts/taxes on a 2-decimal fraction grid, but
they are stored as doubles. Summing doubles accumulates error whose
sign depends on summation order, so two engines rounding the same
"true" value can disagree by ±1 at a rounding boundary — exactly the
kind of flake a 1000-executor job must not have.

The fix is to convert to integer cents *per row* (safe: value*100 is
within 1e-9 of an integer, never near .5) and aggregate integers, which
is exact, associative, and engine-independent. Divide back to dollars
only after the exact sum. Whole-stage codegen keeps all of this in the
JVM; there is no Python in the hot path.

Overflow headroom: cents are O(1e7); 100-scaled percents O(1e2);
E*(100-D)*(100+T) is O(1e11) per row, so a single sum can hold ~1e7
rows per group before approaching int64 — beyond that, aggregate
partial sums per partition (Spark's hash-agg already does two-phase
partial/final, which keeps per-task sums bounded) or divide earlier at
a measured precision cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Money double on a 2-decimal grid → exact integer cents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


def pct100(col: Column | str) -> Column:
    """Fraction on a 2-decimal grid (discount/tax) → exact integer 0–100."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


def money_sum(col: Column | str) -> Column:
    """Exact SUM of a 2-decimal money double, back in dollars.

    Oracle-side equivalent:
    ``ROUND(SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0, 2)``.
    """
    return money_from_cents(F.sum(cents(col)))


def half_up(c: Column, digits: int) -> Column:
    """Round half up to ``digits`` decimals on the binary double:
    ``floor(x * 10^digits + 0.5) / 10^digits``.

    This is the float grid the oracles spell out, and DuckDB computes
    the same IEEE operations, so both engines land on the same value
    for either sign. ``F.round`` is not a substitute: it rounds the
    decimal expansion, and on binary ties it disagrees with DuckDB's
    ``ROUND``. Spark's ``floor`` returns a bigint, so the result is
    never ``-0.0``. The integer literals keep every plan built on it
    the same as the spelled-out expression.
    """
    scale = 10**digits
    return F.floor(c * scale + F.lit(0.5)) / scale


def money_from_cents(sum_col: Column, scale: int = 100) -> Column:
    """Exact integer aggregate → dollars, rounded to 2 decimals.

    ``scale`` is the integer factor the aggregate carries (100 for plain
    cents, 10_000 for cents×percent, 1_000_000 for cents×pct×pct).
    Division of an exact int64 by a power of ten in double is the same
    IEEE operation in any engine, so results stay hash-stable.
    """
    return F.round(sum_col.cast("double") / scale, 2)
