"""``functions.money.half_up`` against DuckDB's spelling of the same grid.

Every float a registered query returns is put on the
``floor(x * 10^d + 0.5) / 10^d`` grid so that Spark and the DuckDB oracle
agree at ``check_oracle``'s 6 decimals. These tests pin that rule on its
own, on doubles picked to sit where rounding rules disagree.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from catme_etl_spark.functions.money import half_up
from tools.check_oracle import _canon, _hash

DIGITS = (2, 4, 5, 6)


def _crafted(d: int) -> list[float]:
    """Doubles at the edges of the 10^-d grid."""
    scale = 10**d
    up, down = np.inf, -np.inf
    xs: list[float] = []
    # ties: x * 10^d gives exactly k + 0.5 in double arithmetic; the
    # dyadic values below are exact binary ties at one d each
    for k in (0, 1, 12, 7812):
        t = (k + 0.5) / scale
        if (t * scale) == k + 0.5:
            xs += [t, -t]
    xs += [0.125, -0.125, 0.375, 0.0078125, -0.0078125, 0.03125, 0.015625]
    # decimal ties that are not exact in binary, and one ulp either side
    for t in (1.005, 2.675, 0.00015, 0.0000025, 0.1234565, 3.5 / scale):
        xs += [t, float(np.nextafter(t, up)), float(np.nextafter(t, down))]
        xs += [-t, float(np.nextafter(-t, up)), float(np.nextafter(-t, down))]
    # small negatives that land on zero (Spark's floor is a bigint, so
    # no -0.0; DuckDB's is a double, hence its ``+ 0.0``)
    xs += [-0.0, -1e-12, -0.4 / scale, -0.49 / scale, -1e-300]
    # near 10^12: few fraction bits left, x * 10^d still fits a long
    for t in (1e12, 1e12 + 0.375, 999_999_999_999.995, -1e12 - 0.5):
        xs += [t, float(np.nextafter(t, up)), float(np.nextafter(t, down))]
    return xs


def _both(spark, d: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    xs = _crafted(d)
    rows = [(i, x) for i, x in enumerate(xs)]
    got = (
        spark.createDataFrame(rows, "id long, x double")
        .select("id", half_up(F.col("x"), d).alias("r"))
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(xs)), "x": xs}))
    scale = 10**d
    want = con.execute(
        f"SELECT id, floor(x * {scale} + 0.5) / {scale} + 0.0 AS r FROM t"
    ).fetchdf()
    return got.sort_values("id").reset_index(drop=True), want


@pytest.mark.parametrize("d", DIGITS)
def test_half_up_matches_duckdb_grid(spark, d):
    got, want = _both(spark, d)
    assert len(got) == len(want) == len(_crafted(d))
    # the oracle gate's own comparison ...
    assert _hash(_canon(got)) == _hash(_canon(want))
    # ... and bit-for-bit, which is stricter than its 6 decimals
    assert got["r"].tolist() == want["r"].tolist()
    zeros = [r for r in got["r"] if r == 0.0]
    assert zeros and all(math.copysign(1.0, r) == 1.0 for r in zeros)


def test_half_up_is_the_spelled_out_expression(spark):
    """The helper builds the same expression tree as the inline form it
    replaced, so plans built on it do not change."""
    for d in DIGITS:
        n = 10**d
        inline = F.floor(F.col("x") * n + F.lit(0.5)) / n
        assert str(half_up(F.col("x"), d)) == str(inline)
