"""Skew- and layout-aware join utilities (SURVEY §4.4; the knobs that
decide whether a 100 TB join finishes).

Three tiers for a skewed/huge equi-join, cheapest first:

1. **AQE skew-join** (on by default in ``session.py``): runtime splits
   oversized post-shuffle partitions. Zero code; handles moderate skew.
2. **Salted join** (:func:`salted_join`): for pathological hot keys —
   explode the small side ``n_salt`` ways, spread the big side's hot
   keys across salted partitions. Deterministic salting (hash of a
   unique column, not ``rand()``) keeps results reproducible.
3. **Bucketed tables** (:func:`write_bucketed`): pre-shuffle the data
   ONCE at write time into hash buckets on the join key; every later
   join/agg on that key is shuffle-free (verified by
   tests/test_skew_bucketing.py asserting no Exchange in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import half_up
from ..sources.tables import load_table
from .registry import query


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salt: int = 8,
    salt_src: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: ``big`` rows get a deterministic
    salt in [0, n_salt); ``small`` is exploded n_salt× so every salted
    key finds its match. A hot key's rows now land in ``n_salt``
    shuffle partitions instead of one.

    ``salt_src``: a column of ``big`` to derive the salt from
    (defaults to the join key itself via xxhash — good spread unless
    one literal key dominates, in which case pass a high-cardinality
    column like the row's unique id).

    Only ``inner``/``left``/``left_semi`` are supported: the exploded
    small side would emit each unmatched row ``n_salt`` times under
    right/full outer semantics.
    """
    if how not in ("inner", "left", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, got {how!r}: "
            "the exploded small side duplicates unmatched rows under "
            "right/full outer"
        )
    src = F.col(salt_src) if salt_src else F.col(on)
    b = big.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(n_salt)))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    out = b.join(s, [on, "_salt"], how)
    return out.drop("_salt")


@query(
    "join_salted_event_type_stats",
    oracle="""
    SELECT e.event_type, t.type_rank,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN (SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type)
              AS type_rank
          FROM (SELECT DISTINCT event_type FROM events)) t
      ON t.event_type = e.event_type
    GROUP BY e.event_type, t.type_rank
    """,
)
def join_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting is SEMANTICS-PRESERVING, so it gets a driver-checked
    query, not just a unit test: the fact side (events) joins a tiny
    derived dimension on ``event_type`` — a deliberately low-cardinality
    hot key (5 values over the whole corpus, the pathological shape AQE
    can't always fix because one key IS one partition) — through
    :func:`salted_join` with 8 salts, then aggregates. The result must
    hash-equal the plain SQL join; the salt spreads each hot key across
    8 shuffle partitions and never leaks into the output.

    The dim's rank over its (distinct, tiny) values is a broadcast
    triangular self-join count — rank(t) = |{t' <= t}| — not
    ``row_number`` over a global-orderBy window, which would be the
    codebase's banned single-partition WindowExec shape."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    types = e.select("event_type").distinct()
    dim = (
        types.join(
            F.broadcast(types.select(F.col("event_type").alias("_et_b"))),
            F.col("_et_b") <= F.col("event_type"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("int").alias("type_rank"))
    )
    joined = salted_join(e, dim, "event_type", n_salt=8, salt_src="user_id")
    return joined.groupBy("event_type", "type_rank").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table:
    the one-time shuffle that makes every subsequent join/aggregation
    on ``bucket_col`` shuffle-free (SortMergeJoin reads co-located
    buckets directly; with ``sort_col`` the sort is pre-done too)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


@query(
    "skew_salt_plan_event_type",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
    SELECT event_type, n,
           CAST(GREATEST(1, CEIL(CAST(n AS DOUBLE) / 50000.0)) AS BIGINT)
             AS salt_n,
           floor(CAST(n AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share
    FROM c, t
    """,
)
def skew_salt_plan_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-DRIVEN salting plan: per join/agg key, the salt factor
    `salted_join` should use so no shuffle partition receives more
    than ~50k rows of one key — the measured input to tier 2 of this
    module's skew ladder (AQE handles moderate skew; pathological hot
    keys need an explicit plan). Emitting it as a query makes the skew
    profile itself a certified, monitorable artifact: the nightly run
    that watches `share` drift toward 1.0 is the early warning that
    tomorrow's join needs a bigger salt.

    One hash-agg over the key column (map-side partials — the scan
    never shuffles raw rows), one broadcast one-row total.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("tot"))
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("n").cast("double") / 50000.0).cast("long"),
        ).alias("salt_n"),
        half_up(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
    )


@query(
    "skew_hot_user_report",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             COUNT(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id
    ),
    t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot,
                 COUNT(*) AS n_users FROM c)
    SELECT user_id, n_events, n_types,
           CAST(floor(n_events * 10000.0 / tot + 0.5) AS BIGINT) AS share_bp,
           CASE WHEN n_events * n_users > 10 * tot THEN 1 ELSE 0 END AS hot
    FROM c, t
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
)
def skew_hot_user_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detector for the HIGH-cardinality axis: the top-10
    users by event volume, each with its share of all traffic in
    basis points and a `hot` flag (key carries >10× the mean per-key
    load — the threshold at which a keyed window/groupBy partition
    becomes a straggler and tier-2 salting in this module pays off).
    Complements `skew_salt_plan_event_type`, which profiles the
    low-cardinality axis; together they are the certified monitoring
    inputs to the salting ladder.

    One map-side-combinable hash-agg over user_id, one broadcast
    one-row total, top-10 with a unique-key tie-break. At 100 TB the
    agg output is |users| rows and the top-k is a per-partition heap
    + tiny final sort — nothing about this plan grows with row count.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    c = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )
    t = c.agg(
        F.sum("n_events").cast("long").alias("tot"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.floor(F.col("n_events") * 10000.0 / F.col("tot") + 0.5)
            .cast("long")
            .alias("share_bp"),
            F.when(
                F.col("n_events") * F.col("n_users") > 10 * F.col("tot"), 1
            )
            .otherwise(0)
            .alias("hot"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )
