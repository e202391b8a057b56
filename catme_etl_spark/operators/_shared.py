"""Cross-query shared intermediates.

Several query families recompute the same expensive upstream stage when
swept back-to-back (the driver's correctness gate runs all registered
queries in one session): the shingle set feeds MinHash + n-gram
Jaccard, the SimHash signature feeds signatures + pairs + connected
components, the embeddings matrix feeds both brute-force cosine
kernels. At 100 TB the equivalent is materializing the stage to
storage between jobs; in one session the equivalent is a persisted
DataFrame (or a broadcast) reused by every consumer.

The schema memo (:func:`shared_schema`) is the same idea for file
metadata: the schema Spark infers for a CSV file, kept per file
identity so a repeat read of an unchanged file runs no inference job.

Keys include the SparkContext application id, so a cache entry never
outlives its session (pytest and the driver create fresh sessions).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_BC_CACHE: dict[tuple[str, str, str], object] = {}
_SCHEMA_CACHE: dict[tuple[str, tuple, str], StructType] = {}
# Entry cap of the schema memo. An entry is one small StructType, but a
# long-lived session that reads many distinct files must not grow it
# without bound; past the cap the least recently used entry goes.
SCHEMA_CACHE_MAX = 256
# RDD ids persisted by a materialize=True entry's localCheckpoint.
# DataFrame.unpersist() does NOT free localCheckpoint blocks (they
# belong to the internal RDD, not the Dataset's cache entry), so
# eviction must unpersist the RDD itself or repeated bench clears
# accumulate orphaned MEMORY_AND_DISK blocks for the session's life.
_CK_RDD_IDS: dict[tuple[str, str, str], set[int]] = {}


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _free_checkpoint_blocks(df: DataFrame, rdd_ids: set[int]) -> None:
    """Unpersist the localCheckpoint's backing RDD blocks directly."""
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in rdd_ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def _evict_stale(spark: SparkSession) -> None:
    """Drop cache entries from other (stopped) sessions.

    Keys embed the applicationId, so entries from a previous session
    can never be *served* — but without eviction their persisted
    DataFrames/broadcasts stay referenced for the life of the process
    (pytest and repeated ``get_spark`` calls accumulate them). Called
    on every cache access; release errors are ignored because the
    owning context may already be gone.
    """
    app_id = spark.sparkContext.applicationId
    for cache, release in (
        (_DF_CACHE, _release_df),
        (_BC_CACHE, lambda v, k: v.destroy()),
        (_SCHEMA_CACHE, lambda v, k: None),
    ):
        for key in [k for k in list(cache) if k[2] != app_id]:
            try:
                release(cache.pop(key), key)
            except Exception:
                pass


def _release_df(df: DataFrame, key) -> None:
    try:
        df.unpersist()
    finally:
        rdd_ids = _CK_RDD_IDS.pop(key, None)
        if rdd_ids:
            _free_checkpoint_blocks(df, rdd_ids)


def clear_shared() -> None:
    """Release every session-shared intermediate (persisted DataFrames
    and broadcasts) and empty the schema memo, regardless of owning
    session.

    For benchmarking: timing a query twice only measures the real cost
    twice if the second run cannot hit the session cache — perfbench
    calls this after its warm-up so session artifacts start cold (the
    first timed read of each CSV file pays its schema inference again),
    and ``tools/dump_plans.py`` / ``tools/plan_report.py`` call it
    before each build so every plan and measurement carries full
    lineage.
    """
    for cache, release in (
        (_DF_CACHE, _release_df),
        (_BC_CACHE, lambda v, k: v.destroy()),
        (_SCHEMA_CACHE, lambda v, k: None),
    ):
        for key in list(cache):
            try:
                release(cache.pop(key), key)
            except Exception:
                pass


def fan_out(
    df: DataFrame,
    spark: SparkSession,
    *keys: str,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Spread a small-file input across the cluster before heavy
    per-row expansion (explode → hash → wide aggregate).

    A compact parquet file (one row group) arrives as ONE input split,
    so everything fused into the scan stage — tokenize, digest, and the
    map-side partial aggregation — runs in a single task no matter how
    many cores the cluster has (measured: the 61-buffer simhash
    signature aggregation spent 3.5-8s single-threaded at sf0.1 while
    31 cores idled). Repartitioning the pre-explosion rows is a shuffle
    of the SMALL side — thousands of rows — that buys full parallelism
    for the expensive expansion.

    Pass the downstream groupBy key (e.g. ``doc_id``) so the resulting
    hash partitioning also satisfies the aggregation's required
    distribution — the planner then skips the post-aggregation
    exchange, making the fan-out shuffle a net replacement, not an
    addition.

    No-op when the input already has at least cluster parallelism —
    i.e. at real scale, where a 100 TB table arrives as thousands of
    splits and another shuffle would be pure harm.

    ``bytes_per_task`` (optional) makes the target SCALE-ADAPTIVE
    instead of always the core count: the task count is derived from
    the optimizer's size estimate (``optimizedPlan().stats()`` — a
    driver-side plan read, zero Spark jobs), clamped to
    [1, defaultParallelism]. Callers whose per-row work is moderate
    (numeric-vector kernels: a fused BLAS pass per Arrow batch) use
    this so a kilobyte-scale input does not fan to 32 python-worker
    round-trips per stage (measured: an empty mapInPandas over the
    sf0.1 embeddings costs 0.63 s at 32 partitions vs 0.41 s at 8);
    at real scale the estimate exceeds the clamp and the behavior is
    identical to the classic form. Callers with ~100× per-row
    expansion (shingling, simhash) keep the unsized form — for them
    full fan-out pays even on tiny inputs.
    """
    target = spark.sparkContext.defaultParallelism
    if bytes_per_task:
        try:
            est = int(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        except Exception:
            est = -1
        if est >= 0:
            target = max(1, min(target, -(-est // bytes_per_task)))
    if df.rdd.getNumPartitions() >= target:
        return df
    if keys:
        return df.repartition(target, *keys)
    return df.repartition(target)


# Enforced ceiling for any driver-side collect of a build side (the
# brute-force cosine kernels). 200k rows × 64 dims × 8 B ≈ 100 MB —
# a sane broadcast; beyond that the scale path is LSH/IVF candidate
# generation, and misuse must fail loudly instead of OOMing the driver.
MAX_COLLECT_ROWS = int(os.environ.get("CATME_MAX_COLLECT_ROWS", "200000"))

# On-disk parquet budget for a size-gated broadcast hint (see
# maybe_broadcast). 64 MiB of snappy parquet decodes to roughly
# 200-400 MB of rows — a sane single broadcast for 4-16 GiB executors;
# a table past this must NOT be pinned to the build side by a hint.
BROADCAST_BUDGET_DEFAULT = 64 << 20


def _table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of a table — a single parquet file or a
    (possibly partitioned) directory. Pure filesystem metadata: the
    probe costs zero Spark jobs, which is what lets every gated query
    check its build side on every run.

    An UNPROBEABLE path raises instead of returning 0: os.walk on a
    nonexistent path yields nothing, so returning 0 would make
    ``maybe_broadcast`` fail OPEN — a layout change or table-name typo
    would silently re-pin the unconditional broadcast hint, the exact
    OOM failure mode the gate exists to prevent. The caller catches
    and falls back to the unhinted plan (fail CLOSED)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"broadcast size probe: {path!r} is neither a parquet file "
            "nor a directory — cannot measure the build side"
        )
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def maybe_broadcast(df: DataFrame, sf_dir: str, table: str,
                    budget_bytes: int | None = None) -> DataFrame:
    """Broadcast hint GATED on the base table's on-disk size.

    customer/supplier/part grow linearly with the corpus: at bench SF
    they are classic broadcast dims, but a hard ``F.broadcast`` hint is
    an unconditional command — at 100× (part ≈ 20B rows) it OOMs the
    driver and executors where the unhinted plan would degrade
    gracefully to a shuffle join. This is the hint-level sibling of
    :func:`require_bounded`: apply the hint only while the probed size
    fits the budget, otherwise return the frame unhinted and let
    AQE/sort-merge take over (AQE still converts to broadcast at
    runtime if a FILTERED side turns out small — the gate only removes
    the unconditional pin, never the optimization).

    The probe measures the BASE table file; caller-applied filters
    only shrink the data, so the gate is conservative-safe. The budget
    defaults to ``BROADCAST_BUDGET_DEFAULT``, read at call time (tests
    patch it to force the fallback path). Constant-size dims (nation:
    25 rows, region: 5) and one-row aggregates keep their unconditional
    hints — they do not scale with SF and gating them would only add
    probe noise.
    """
    from pyspark.sql import functions as F

    if budget_bytes is None:
        budget_bytes = BROADCAST_BUDGET_DEFAULT
    try:
        probed = _table_bytes(sf_dir, table)
    except FileNotFoundError:
        # unprobeable table → fail CLOSED: no hint, let AQE decide
        return df
    if probed <= budget_bytes:
        return F.broadcast(df)
    return df


def shared_df(
    name: str,
    sf_dir: str,
    spark: SparkSession,
    build: Callable[[], DataFrame],
    materialize: bool = False,
) -> DataFrame:
    """Build-once DataFrame shared across queries in a session.

    ``materialize=False`` (default): lazy ``persist()`` — lineage kept,
    first consumer computes, later consumers hit the cache.

    ``materialize=True``: lazy ``localCheckpoint`` — every consumer's
    plan starts from the materialized result (a scan), not the full
    upstream lineage. Honest caveat on "lazy" under AQE (which
    session.py enables): constructing the checkpoint RDD calls
    ``executedPlan.execute()``, and ``AdaptiveSparkPlanExec``
    materializes every upstream shuffle stage at that point — only the
    final result stage and the checkpoint block persistence are
    deferred to the first action. Use
    for SMALL derived tables with EXPENSIVE lineage (verified near-dup
    pairs: a handful of rows behind a 5-shuffle pipeline) where
    replaying lineage per consumer — even in a static plan — is the
    dominant cost. The 100 TB equivalent is writing the stage to
    reliable storage between jobs; localCheckpoint trades that
    durability for speed, which is the right local/single-tenant call.
    """
    _evict_stale(spark)
    key = (name, sf_dir, spark.sparkContext.applicationId)
    if key not in _DF_CACHE:
        df = build()
        if materialize:
            # One pass straight into the checkpoint, final stage
            # deferred to the first action (upstream shuffle stages run
            # NOW under AQE — see docstring). (A persist+count prelude
            # "to keep the build under AQE" was measured at 2× the cold
            # cost — the extra full pass buys nothing at these
            # intermediate sizes; direct checkpoint times identical to
            # a plain persist while also truncating every consumer's
            # static plan.) The RDD ids persisted by the checkpoint are
            # recorded so eviction can free the blocks —
            # DataFrame.unpersist() alone leaks them.
            before = _persistent_rdd_ids(spark)
            ck = df.localCheckpoint(eager=False)
            _CK_RDD_IDS[key] = _persistent_rdd_ids(spark) - before
            _DF_CACHE[key] = ck
        else:
            _DF_CACHE[key] = df.persist()
    return _DF_CACHE[key]


def _over_budget_error(
    what: str, max_rows: int, hint: str | None = None
) -> ValueError:
    if hint is None:
        hint = (
            "Brute force is the bounded-build-side tier; for open-ended "
            "corpora generate candidates with SRP-LSH (sim_srp_lsh_pairs), "
            "IVF (sim_ivf_topk), or MinHash/SimHash banding and feed the "
            "same kernel pairs. Raise CATME_MAX_COLLECT_ROWS only if the "
            "driver is sized for it."
        )
    return ValueError(
        f"{what} exceeds the driver-collect budget (> {max_rows} rows). "
        + hint
    )


def require_bounded(
    df: DataFrame,
    max_rows: int | None = None,
    what: str = "input",
    hint: str | None = None,
):
    """Assert ``df`` has at most ``max_rows`` rows; return the count.

    Guards a driver-side materialization without collecting it: a
    bounded probe (``limit(max+1).count()`` — never materializes more
    than the budget) turns a would-be driver OOM at scale into an
    actionable error that names the scale path (``hint`` overrides the
    default brute-force→LSH/IVF message for call sites with a more
    specific fallback). When the rows are about to be collected anyway,
    use :func:`bounded_collect` — one job instead of probe + collect.
    """
    if max_rows is None:
        max_rows = MAX_COLLECT_ROWS
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise _over_budget_error(what, max_rows, hint)
    return n


def bounded_collect(df: DataFrame, max_rows: int | None = None, what: str = "input"):
    """``collect()`` with the budget enforced in the SAME job.

    ``limit(max+1)`` caps what each task returns; one extra sentinel row
    proves the overflow without a separate count pass. This is the
    single-pass form of :func:`require_bounded` + collect — the guard
    costs zero extra Spark jobs.

    The limit plans as ``CollectLimitExec.executeTake``, whose default
    scale-up schedule (1 partition, then ×4 per wave) serializes the
    final stage into up to 4 waves — pure latency here, because the
    budget limit is a GUARD, not a selector: when it fires at all we
    error out, and otherwise every partition's rows are needed anyway.
    ``spark.sql.limit.initialNumPartitions`` is set to the core count
    (``defaultParallelism``) for the one action: sessions run
    ``spark.sql.shuffle.partitions`` at the core count, so a post-shuffle
    final stage still finishes in one wave (measured at sf0.1: the
    460k-pair SRP verification collect 1.5 → 0.8 s), while the first
    wave of a wider input returns at most cores × (max_rows + 1) rows to
    the driver. Later waves run only while the rows received so far are
    within budget.
    Single-threaded session assumption as in streaming's
    ``_run_to_memory``: the conf is session-global for the call's
    duration; the sweep/bench/pytest harnesses run queries
    sequentially.
    """
    if max_rows is None:
        max_rows = MAX_COLLECT_ROWS
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        rows = df.limit(max_rows + 1).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    if len(rows) > max_rows:
        raise _over_budget_error(what, max_rows)
    return rows


def shared_matrix_broadcast(
    name: str, sf_dir: str, spark: SparkSession, df: DataFrame
):
    """Collect a bounded ``(id, embedding)`` DataFrame to numpy arrays
    and broadcast once per (name, sf_dir, session).

    Returns a Spark broadcast of ``(ids, matrix, norms)``. The bound is
    enforced by :func:`require_bounded` before anything is collected.
    """
    def build():
        import numpy as np

        rows = bounded_collect(df, what=f"broadcast build side {name!r}")
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        return ids, mat, norms

    return shared_broadcast(name, sf_dir, spark, build)


def shared_broadcast(
    name: str, sf_dir: str, spark: SparkSession, build: Callable[[], object]
):
    """Broadcast ``build()``'s value once per (name, sf_dir, session).

    The generic form of :func:`shared_matrix_broadcast` for build
    sides that aren't a bounded DataFrame collect (e.g. fitted model
    artifacts like k-means centroids)."""
    _evict_stale(spark)
    key = (name, sf_dir, spark.sparkContext.applicationId)
    if key not in _BC_CACHE:
        _BC_CACHE[key] = spark.sparkContext.broadcast(build())
    return _BC_CACHE[key]


def shared_schema(
    name: str, ident: tuple, spark: SparkSession, infer: Callable[[], StructType]
) -> StructType:
    """``infer()``'s schema once per (name, ident, session).

    ``ident`` must change whenever the inferred schema could: the
    caller puts the source's identity and every reader option and
    session conf that inference reads into it. A hit moves the entry
    to the young end; past ``SCHEMA_CACHE_MAX`` entries the oldest are
    dropped. Every step is a single dict operation or a snapshot, so
    concurrent callers at worst infer twice."""
    _evict_stale(spark)
    key = (name, ident, spark.sparkContext.applicationId)
    schema = _SCHEMA_CACHE.pop(key, None)
    if schema is None:
        schema = infer()
    _SCHEMA_CACHE[key] = schema
    for old in list(_SCHEMA_CACHE)[:-SCHEMA_CACHE_MAX]:
        _SCHEMA_CACHE.pop(old, None)
    return schema
