"""Star-schema / LLM-pipeline table loader (parquet scan, SURVEY §2.1 S13).

Explicit schemas are deliberately NOT imposed on the parquet scans:
parquet footers carry authoritative types, and letting Spark use them
preserves predicate pushdown and column pruning. (Schema enforcement
matters for schemaless sources — CSV/Excel/JSON — and lives in those
readers; the reference's per-chunk re-inference drift, SURVEY §1.2, is
fixed there.)

At 100 TB these tables would be directories of many parquet files,
possibly partitioned by date; `spark.read.parquet(path)` handles both a
single file and a partitioned directory identically, so callers are
scale-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Filters/projections applied by the caller reach
    the parquet reader via Catalyst pushdown — verify with
    ``plans.explain.assert_pushed_filters``.

    ``events.ts`` normalization: depending on the fixture generation the
    column arrives as parquet TIMESTAMP(NANOS) (read as raw nanos via
    the legacy conf and truncated to microseconds — the same truncation
    DuckDB applies) or as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (read as TIMESTAMP_NTZ). Both are normalized to a session-UTC
    TimestampType so event-time operators (watermarks, ``F.window``)
    and oracle comparisons see one canonical type.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: epoch-nanos (~1.7e18) overflows double's
            # 53-bit mantissa, so `/ 1000` would round the microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # session tz is pinned UTC, so the cast keeps the wall clock
            # AND the epoch-micros value — watermarks require LTZ
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
