"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` draws differ per engine/partitioning, so reproducible
pipelines sample by CONTENT HASH instead: stable across reruns,
cluster sizes, and engines (the property a 100 TB data mix actually
needs — re-running the job selects the same documents), and
oracle-checkable for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, half_up
from ..functions.texttools import hex_prefix_long, sql_hex_long, tokens
from ..sources.tables import load_table
from .registry import query

_STRATUM_K = 5


def hash_bucket(col, n_buckets: int = 10):
    """Deterministic bucket in [0, n): md5 of the key's string form →
    56-bit int → mod. Engine-independent (md5 is md5 everywhere)."""
    return hex_prefix_long(F.md5(col.cast("string")), 14, 1) % n_buckets


@query(
    "sample_hash_10pct",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source,
                 {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 10 AS bkt
          FROM documents) x
    WHERE bkt = 0
    """,
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of documents by id-hash bucket."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(hash_bucket(F.col("doc_id"), 10) == 0).select(
        "doc_id", "lang", "source"
    )


@query(
    "sample_stratified_per_source",
    oracle=f"""
    SELECT source, doc_id, lang
    FROM (
      SELECT source, doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)}, doc_id
             ) AS rn
      FROM documents
    ) x
    WHERE rn <= {_STRATUM_K}
    """,
)
def sample_stratified_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K docs per source, chosen by hash order — the stratified 'data
    mixing' primitive (equal representation per stratum, deterministic
    membership). One shuffle on the stratum key."""
    d = load_table(spark, sf_dir, "documents")
    hkey = hex_prefix_long(F.md5(F.col("doc_id").cast("string")), 14, 1)
    w = Window.partitionBy("source").orderBy(hkey, F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STRATUM_K)
        .select("source", "doc_id", "lang")
    )


_RESERVOIR_K = 50
# 13 hex chars = 52 bits — exactly a double's mantissa, so the uniform
# u = (h+1)/2^52 is represented EXACTLY in both engines and ln(u)
# computes on bit-identical input
_U_BITS = 52


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(({sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 13, 1)} + 1)
                / {float(1 << _U_BITS)}) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, n_chars FROM keyed
    ORDER BY k DESC, doc_id LIMIT {_RESERVOIR_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, distributed and
    deterministic: Efraimidis–Spirakis A-Res — each item gets priority
    u^(1/w) (equivalently ln(u)/w) for a per-item uniform u and weight
    w (n_chars: longer documents proportionally likelier), and the
    global top-k by priority IS the weighted sample. Spark plans the
    top-k as ``TakeOrderedAndProject`` (per-partition heaps + driver
    merge of k×partitions rows — no global sort), which is how a
    weighted reservoir runs over 100 TB in one pass.

    Determinism: u derives from md5(doc_id) — a re-run, a different
    cluster size, or a different engine selects the SAME sample
    (the reproducibility a training-data mix needs), and the DuckDB
    oracle verifies the exact selection end to end."""
    d = load_table(spark, sf_dir, "documents")
    h = hex_prefix_long(F.md5(F.col("doc_id").cast("string")), 13, 1)
    u = (h + 1) / float(1 << _U_BITS)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(_RESERVOIR_K)
        .select("doc_id", "n_chars")
    )


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH m AS (
      SELECT lang, source, COUNT(*) AS n_docs
      FROM documents GROUP BY lang, source
    ),
    rates AS (
      SELECT lang, source,
             ROUND(sqrt(CAST(MIN(n_docs) OVER () AS DOUBLE) / n_docs), 9) AS rate
      FROM m
    ),
    u AS (
      SELECT doc_id, lang, source,
             ({sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 13, 1)} + 1)
               / {float(1 << _U_BITS)} AS u
      FROM documents
    )
    SELECT u.doc_id, u.lang, u.source, rates.rate
    FROM u JOIN rates USING (lang, source)
    WHERE u.u < rates.rate
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling (T = 2) of the corpus mix: stratum s with
    share p_s is kept at rate ∝ p_s^(1/T - 1) = 1/√p_s, normalized so
    the rarest stratum keeps everything — the standard move for
    flattening a skewed (lang, source) mix toward target shares
    q_s ∝ p_s^(1/T) without upsampling. Membership is deterministic:
    doc u = (md5-52-bit + 1)/2^52 (exactly representable in a double)
    accepted iff u < rate.

    Numeric portability: with T = 2 the rate is sqrt(n_min/n_s) —
    integer inputs through division and sqrt, both CORRECTLY ROUNDED
    under IEEE 754 in every engine, so the acceptance boundary is
    bit-identical in Spark and the oracle (a `pow`-based general-T form
    is only ~1-ulp-accurate and could flip a boundary doc).

    Plan shape: one scan aggregates the tiny (lang, source) mix table;
    the global min is a one-row aggregate broadcast-cross-joined back
    (NOT an unpartitioned window — that would funnel the mix table
    through a single WindowExec partition); rates broadcast-join back;
    the accept filter is narrow per-row. The big table is scanned
    twice at most (mix + filter) — at real scale the mix table is
    precomputed corpus metadata and the first scan disappears."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = m.agg(F.min("n_docs").alias("_n_min"))
    rates = m.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "source",
        F.round(
            F.sqrt(F.col("_n_min").cast("double") / F.col("n_docs")), 9
        ).alias("rate"),
    )
    h = hex_prefix_long(F.md5(F.col("doc_id").cast("string")), 13, 1)
    u = (h + 1) / float(1 << _U_BITS)
    return (
        d.select("doc_id", "lang", "source", u.alias("u"))
        .join(F.broadcast(rates), ["lang", "source"])
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "lang", "source", "rate")
    )


@query(
    "sample_train_val_test",
    oracle=f"""
    WITH tagged AS (
      SELECT source,
             CASE WHEN {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 100 < 80
                    THEN 'train'
                  WHEN {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, COUNT(*) AS n
    FROM tagged GROUP BY source, split
    """,
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-key
    hash — the split every training pipeline needs to be REPRODUCIBLE
    and LEAK-FREE: a doc's split follows from its id alone, so re-runs,
    different cluster sizes, and incremental corpus additions never
    move a document across splits (no random() + seed coupling to
    partitioning). Narrow per-row tag; the only shuffle is the audit
    aggregation emitted here. Per-source counts verify the hash mixes
    evenly within every stratum."""
    d = load_table(spark, sf_dir, "documents")
    bkt = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise(F.lit("test"))
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "pack_sequences_by_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) // 512 AS seq_id
      FROM t
    )
    SELECT source, seq_id,
           COUNT(*)                      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS toks
    FROM packed GROUP BY source, seq_id
    """,
)
def pack_sequences_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents are packed contiguously (in
    deterministic doc_id order) into ~512-token training sequences per
    source — seq_id = floor(exclusive-prefix-sum / budget), the
    streaming-friendly formulation of greedy concatenation (GPT-style
    document packing). One window shuffle partitioned BY SOURCE (the
    per-stream sort a 100 TB packer does per shard), then a small
    rollup; no global sort anywhere. Sequences may overflow the budget
    by at most one document — the standard split-free packing rule."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = t.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).cast("long"),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("toks"),
    )


@query(
    "sample_class_balance_exact",
    oracle="""
    WITH n AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    m AS (SELECT MIN(n) AS n_min FROM n),
    r AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM embeddings
    )
    SELECT r.vec_id, r.label FROM r, m WHERE r.rk <= m.n_min
    """,
)
def sample_class_balance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT class rebalancing: downsample every label to the minority
    class's size — each class keeps precisely its first n_min members
    in deterministic md5-of-id order, so the balanced set is stable
    across reruns and engines (the guarantee rate-based acceptance
    can't give: rates balance only in expectation). Keyed window per
    label + a one-row broadcast min — no global window. Scale note: a
    per-class ORDER BY ranks each label partition; at 100 TB with few
    huge classes, switch to the rate-based ``sample_temperature_mix``
    shape (T→∞) and accept ±√n wobble, or pre-bucket the hash order —
    the exact tier is for eval/benchmark sets where counts must be
    precise."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    n_min = n.agg(F.min("n").alias("n_min"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        emb.select("vec_id", "label", F.row_number().over(w).alias("rk"))
        .crossJoin(F.broadcast(n_min))
        .filter(F.col("rk") <= F.col("n_min"))
        .select("vec_id", "label")
    )


@query(
    "sample_kfold_assignment",
    oracle=f"""
    WITH s AS (
      SELECT source,
             {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 5 AS fold
      FROM documents
    )
    SELECT source, CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY source, fold
    """,
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by content-key
    hash, with the per-(source, fold) balance audit as output — the
    k-fold sibling of `sample_train_val_test`: a doc's fold follows
    from its id alone, so every re-run, cluster size, and incremental
    corpus addition reproduces the same folds (no random() + seed
    coupled to partitioning), and fold i's validation set never leaks
    into fold i's training set across reruns. Narrow per-row tag; the
    only shuffle is this audit aggregation."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("source", hash_bucket(F.col("doc_id"), 5).alias("fold"))
        .groupBy("source", "fold")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "sample_token_budget_apportion",
    oracle="""
    WITH d AS (
      SELECT source, len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok FROM documents
    ),
    av AS (
      SELECT source, CAST(SUM(tok) AS BIGINT) AS avail
      FROM d GROUP BY source
    ),
    t AS (SELECT CAST(SUM(avail) AS BIGINT) AS total FROM av),
    b AS (
      SELECT source, avail,
             (1000000 * avail) // total AS fshare,
             (1000000 * avail) % total AS rem
      FROM av, t
    ),
    lo AS (SELECT 1000000 - CAST(SUM(fshare) AS BIGINT) AS leftover FROM b),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) - 1 AS sb
      FROM b
    )
    SELECT source, avail AS avail_tokens,
           CAST(fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM r, lo
    ORDER BY source
    """,
)
def sample_token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1M-token
    training budget across sources, proportional to each source's
    available tokens: every source gets floor(B·avail/total), and the
    B − Σfloor leftover tokens go one each to the largest fractional
    remainders. Pure integer arithmetic end to end — the allocation
    sums to EXACTLY B, the property the downstream mixture sampler
    (`sample_temperature_mix`) needs so shard sizing never drifts.

    One token-count agg over documents (map-side combinable), then
    everything runs on |sources| rows. The remainder rank is a
    broadcast triangular self-join (rank = |{strictly before}|), not a
    global-orderBy window — the module-wide ban on single-partition
    WindowExec holds even when the input is provably tiny.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("tok")
    )
    av = d.groupBy("source").agg(F.sum("tok").cast("long").alias("avail"))
    t = av.agg(F.sum("avail").cast("long").alias("total"))
    b = av.crossJoin(F.broadcast(t)).select(
        "source",
        "avail",
        F.expr("(1000000 * avail) div total").alias("fshare"),
        ((1000000 * F.col("avail")) % F.col("total")).alias("rem"),
    )
    lo = b.agg(
        (F.lit(1000000) - F.sum("fshare")).cast("long").alias("leftover")
    )
    other = b.select(
        F.col("source").alias("source2"),
        F.col("rem").alias("rem2"),
    )
    sb = (
        b.join(
            F.broadcast(other),
            (F.col("rem2") > F.col("rem"))
            | ((F.col("rem2") == F.col("rem")) & (F.col("source2") < F.col("source"))),
            "left",
        )
        .groupBy("source", "avail", "fshare")
        .agg(F.count("source2").alias("sb"))
    )
    return (
        sb.crossJoin(F.broadcast(lo))
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            (
                F.col("fshare")
                + F.when(F.col("sb") < F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .orderBy("source")
    )


@query(
    "pack_compaction_plan",
    oracle="""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
      FROM documents
    )
    SELECT source, cum_before // 65536 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS shard_bytes
    FROM c
    GROUP BY source, shard
    ORDER BY source, shard
    """,
)
def pack_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the operational sibling of
    `pack_sequences`: documents are packed, in stable doc_id order
    within each source, into ~64 KB output shards by cumulative-size
    bucketing (shard = floor(bytes_before / target)). This is the
    plan a table-maintenance job executes to rewrite a
    many-small-files partition into evenly sized parquet files, and
    certifying it keeps the shard arithmetic honest (every doc
    assigned, shards contiguous, bytes conserved — Σ shard_bytes =
    Σ n_chars by construction).

    One keyed running-sum window per source (per-shard sorts, no
    global order) and one hash-agg on the (source, shard) grid. At
    100 TB the per-source window is the same per-shard-sort shape the
    packing capstone uses; target size scales to 128 MB without
    touching the plan.
    """
    c = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(
            F.sum("n_chars").over(
                Window.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cum_before"),
    )
    return (
        c.groupBy("source", F.expr("cum_before div 65536").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_bytes"),
        )
        .orderBy("source", "shard")
    )


@query(
    "sample_epoch_mix_plan",
    oracle="""
    WITH d AS (
      SELECT source, len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    av AS (
      SELECT source, CAST(SUM(tok) AS BIGINT) AS avail FROM d GROUP BY source
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM av),
    r AS (
      SELECT source, avail, n_src,
             ROW_NUMBER() OVER (ORDER BY source) - 1 AS rk
      FROM av, n
    ),
    t AS (
      SELECT source, avail,
             (500000 // n_src)
               + CASE WHEN rk < 500000 % n_src THEN 1 ELSE 0 END AS target
      FROM r
    )
    SELECT source,
           avail                                         AS avail_tokens,
           CAST(target AS BIGINT)                        AS target_tokens,
           CASE WHEN avail = 0
                THEN CAST(error('epoch mix undefined: source has 0 available tokens')
                          AS DOUBLE)
                ELSE floor(CAST(target AS DOUBLE) / avail * 10000 + 0.5)
                     / 10000
           END                                           AS repeat_factor,
           CASE WHEN avail = 0
                THEN CAST(error('epoch mix undefined: source has 0 available tokens')
                          AS BIGINT)
                ELSE CAST((target + avail - 1) // avail AS BIGINT)
           END                                           AS n_epochs,
           CAST(LEAST(target, 4 * avail) AS BIGINT)      AS capped_tokens
    FROM t
    """,
)
def sample_epoch_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repeat plan for a UNIFORM target mix — the complement of
    `sample_token_budget_apportion` (which allocates proportionally to
    availability): here every source owes an equal share of a 500k
    training-token budget, and the plan says how to get there —
    repeat_factor > 1 means upsample (multiple epochs over a rare
    source), < 1 means subsample; n_epochs is the integer ceiling a
    dataloader actually runs; capped_tokens applies the standard
    "never more than 4 epochs" guard against memorizing tiny sources,
    making the shortfall explicit (capped < target = deficit to
    re-apportion). Uniform share uses integer floor + first-(B mod n)
    remainder by source name, so Σ target == B exactly.

    Scale shape: one map-side-combinable token-count agg over the
    corpus; everything after is |sources| rows. The name rank is the
    broadcast triangular self-join (module-wide single-partition
    WindowExec ban); epoch ceiling is pure integer
    ((target+avail−1) div avail) — no float boundary anywhere except
    the reported repeat_factor, rounded with ``half_up(x, 4)``, which
    both engines compute identically.

    Degenerate edge, guarded LOUDLY on both engines: a source whose
    every document tokenizes to 0 tokens (reachable since ``tokens()``
    drops empty tokens) has avail = 0, where repeat_factor/n_epochs are
    undefined. DuckDB's division by zero is a silent NULL and Spark's
    depends on the ANSI flag, so both sides raise explicitly
    (``raise_error`` / ``error()``) instead of emitting a NULL plan
    row a dataloader would misread."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("tok")
    )
    av = d.groupBy("source").agg(F.sum("tok").cast("long").alias("avail"))
    n = av.agg(F.count(F.lit(1)).cast("long").alias("n_src"))
    other = av.select(F.col("source").alias("source2"))
    rk = (
        av.join(F.broadcast(other), F.col("source2") < F.col("source"), "left")
        .groupBy("source", "avail")
        .agg(F.count("source2").alias("rk"))
    )
    t = rk.crossJoin(F.broadcast(n)).select(
        "source",
        "avail",
        (
            F.expr("500000 div n_src")
            + F.when(F.col("rk") < F.lit(500000) % F.col("n_src"), 1).otherwise(0)
        ).alias("target"),
    )
    guard_msg = "epoch mix undefined: source has 0 available tokens"
    return t.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("target").cast("long").alias("target_tokens"),
        F.when(
            F.col("avail") > 0,
            half_up(F.col("target").cast("double") / F.col("avail"), 4),
        )
        .otherwise(F.expr(f"raise_error('{guard_msg}')"))
        .alias("repeat_factor"),
        F.when(
            F.col("avail") > 0,
            F.expr("(target + avail - 1) div avail").cast("long"),
        )
        .otherwise(F.expr(f"raise_error('{guard_msg}')"))
        .alias("n_epochs"),
        F.least(F.col("target"), 4 * F.col("avail"))
        .cast("long")
        .alias("capped_tokens"),
    )


@query(
    "pack_padding_waste_audit",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    r AS (
      SELECT source, tok,
             (ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY tok DESC, doc_id) - 1) // 32
               AS b_sorted,
             (ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY doc_id) - 1) // 32
               AS b_naive
      FROM d
    ),
    ws AS (
      SELECT source,
             CAST(SUM(mx * n - s) AS BIGINT) AS pad
      FROM (SELECT source, b_sorted, MAX(tok) AS mx, COUNT(*) AS n,
                   SUM(tok) AS s
            FROM r GROUP BY source, b_sorted)
      GROUP BY source
    ),
    wn AS (
      SELECT source,
             CAST(SUM(mx * n - s) AS BIGINT) AS pad
      FROM (SELECT source, b_naive, MAX(tok) AS mx, COUNT(*) AS n,
                   SUM(tok) AS s
            FROM r GROUP BY source, b_naive)
      GROUP BY source
    ),
    t AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS total_tokens
      FROM d GROUP BY source
    )
    SELECT t.source, t.n_docs, t.total_tokens,
           ws.pad AS sorted_padding,
           wn.pad AS naive_padding,
           CASE WHEN wn.pad = 0 THEN 0
                ELSE (10000 * (wn.pad - ws.pad)) // wn.pad
           END AS saving_bp
    FROM t JOIN ws USING (source) JOIN wn USING (source)
    """,
)
def pack_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for fixed-size training batches (32 docs):
    how many pad tokens does arrival-order batching burn versus
    length-sorted batching? Each batch pads every member to the batch
    max, so waste per batch = max·n − Σtok; sorting by length packs
    similar lengths together and collapses the waste — this audit
    reports BOTH plans per source and the saving in basis points,
    which is the measured justification for the sort-before-batch
    stage every dataloader pipeline carries.

    Scale shape: one tokenize pass collapses documents to (source,
    doc, tok) ints; the two ROW_NUMBER plans are keyed windows over
    the same source partition (one exchange, two sorts — the sort IS
    the thing being measured); batch rollups are map-side-combinable
    hash-aggs; output is |sources| rows. 100 TB: identical plan per
    source partition, no global ordering anywhere.

    Float discipline: none — token counts, paddings, and the saving
    (floor basis points, ``div``) are exact int64 end to end."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).alias("tok")
    )
    w_sorted = Window.partitionBy("source").orderBy(
        F.col("tok").desc(), F.col("doc_id")
    )
    w_naive = Window.partitionBy("source").orderBy("doc_id")
    r = d.select(
        "source",
        "tok",
        ((F.row_number().over(w_sorted) - 1) / 32).cast("long").alias("b_sorted"),
        ((F.row_number().over(w_naive) - 1) / 32).cast("long").alias("b_naive"),
    )

    def _pad(bucket_col: str) -> DataFrame:
        per_batch = r.groupBy("source", bucket_col).agg(
            (F.max("tok") * F.count(F.lit(1)) - F.sum("tok")).alias("w")
        )
        return per_batch.groupBy("source").agg(
            F.sum("w").cast("long").alias("pad")
        )

    ws = _pad("b_sorted").withColumnRenamed("pad", "sorted_padding")
    wn = _pad("b_naive").withColumnRenamed("pad", "naive_padding")
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
    )
    return (
        t.join(ws, "source")
        .join(wn, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "sorted_padding",
            "naive_padding",
            F.when(F.col("naive_padding") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(10000 * (naive_padding - sorted_padding)) div naive_padding")
            )
            .alias("saving_bp"),
        )
    )


@query(
    "sample_balanced_labels",
    oracle=f"""
    WITH c AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    m AS (SELECT MIN(n) AS cap FROM c),
    r AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY {sql_hex_long("md5(CAST(vec_id AS VARCHAR))", 14, 1)},
                        vec_id
             ) AS rn
      FROM embeddings
    )
    SELECT r.vec_id, r.label FROM r, m WHERE r.rn <= m.cap
    """,
)
def sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of the labeled embedding corpus:
    every label keeps exactly min-class-size members, selected by
    md5(vec_id) hash order — the deterministic undersampling move
    before training a classifier on skewed labels (the alternative to
    upweighting), and the label-space sibling of
    `sample_stratified_per_source`. Membership is a pure function of
    the ids present: re-runs, engines, and cluster sizes select the
    SAME balanced subset.

    Scale shape: one tiny hash-agg finds class sizes; the cap is a
    1-row broadcast (an aggregate, never an unpartitioned window);
    the per-label rank is a keyed window over the label partitioning
    a labeled corpus already hash-clusters by. Output is
    |labels| × min-size rows."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    m = c.agg(F.min("n").alias("cap"))
    hkey = hex_prefix_long(F.md5(F.col("vec_id").cast("string")), 14, 1)
    w = Window.partitionBy("label").orderBy(hkey, F.col("vec_id"))
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("cap"))
        .select("vec_id", "label")
    )


@query(
    "sample_epoch_shuffle_head",
    oracle=f"""
    WITH e AS (SELECT unnest(range(3)) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             {sql_hex_long(
                 "md5(CAST(e.epoch AS VARCHAR) || '_' "
                 "|| CAST(d.doc_id AS VARCHAR))", 14, 1)} AS shuf
      FROM documents d, e
    ),
    r AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch
                                ORDER BY shuf, doc_id) AS position
      FROM keyed
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(position AS BIGINT) AS position, doc_id
    FROM r WHERE position <= 10
    """,
)
def sample_epoch_shuffle_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch shuffle order — the dataloader primitive
    a deterministic training run is built on: epoch e's order is the
    sort by md5(e || '_' || doc_id), so the SAME corpus yields the
    SAME batch sequence on any engine, cluster size, or re-run, and
    different epochs get decorrelated orders from the same recipe
    (the seeded-shuffle convention, with the content hash as the
    seed). Certified surface: the first 10 positions of epochs 0-2 —
    enough to pin the recipe end to end without materializing a
    corpus-sized ordering.

    Scale shape: the shuffle key is a narrow per-row digest; the
    head-of-order per epoch is a keyed TakeOrdered-shaped window
    (|epochs| partitions), never a global sort of the corpus — a real
    dataloader consumes the key as a SORT WITHIN PARTITIONS order and
    never totals-orders anything either.

    Reference basis: none; contract training-data family (the
    ordering sibling of `sample_train_val_test`'s membership
    convention)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e = spark.createDataFrame([(i,) for i in range(3)], "epoch long")
    keyed = d.crossJoin(F.broadcast(e)).select(
        "epoch",
        "doc_id",
        hex_prefix_long(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("epoch").cast("string"),
                    F.col("doc_id").cast("string"),
                )
            ),
            14,
            1,
        ).alias("shuf"),
    )
    w = Window.partitionBy("epoch").orderBy("shuf", "doc_id")
    return (
        keyed.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= 10)
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            F.col("position").cast("long").alias("position"),
            "doc_id",
        )
    )


@query(
    "sample_quality_weighted_budget",
    oracle="""
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt,
             len(list_distinct(list_filter(string_split(text, ' '),
                                           t -> t <> ''))) AS nd
      FROM documents
    ),
    g AS (
      SELECT source,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN nt BETWEEN 20 AND 80
                            AND CAST(nd AS DOUBLE) / nt > 0.25
                           THEN nt ELSE 0 END) AS BIGINT) AS passing_tokens
      FROM d GROUP BY source
    ),
    t AS (SELECT CAST(SUM(passing_tokens) AS BIGINT) AS total FROM g),
    b AS (
      SELECT source, total_tokens, passing_tokens,
             (1000000 * passing_tokens) // total AS fshare,
             (1000000 * passing_tokens) % total AS rem
      FROM g, t
    ),
    lo AS (SELECT 1000000 - CAST(SUM(fshare) AS BIGINT) AS leftover FROM b),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) - 1 AS sb
      FROM b
    )
    SELECT source, total_tokens, passing_tokens,
           CAST(fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM r, lo
    ORDER BY source
    """,
)
def sample_quality_weighted_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget apportionment weighted by QUALITY-PASSING tokens —
    the composition every curated mix actually runs: sources earn
    budget share in proportion to the tokens that survive the
    certified quality gate (`text_quality_score`'s 20-80-token band
    with distinct-ratio > 0.25), not their raw volume, so a source
    full of boilerplate or fragments stops buying training share with
    junk. Reports raw vs passing tokens per source (the gate's cost,
    per slice) beside the allocation.

    The 1e6-ppm budget splits by the repo's largest-remainder
    convention (`sample_token_budget_apportion`): integer floor
    shares + the (budget mod) extra units to the largest remainders,
    ties by source name — Σ alloc == 1e6 EXACTLY, all integer
    arithmetic, bit-identical cross-engine.

    Scale shape: one tokenize scan with the gate folded into the same
    map-side-combinable per-source agg (two conditional sums); the
    apportionment runs on |sources| rows against 1-row broadcasts,
    and the remainder rank is the module's broadcast triangular
    self-join (the single-partition WindowExec ban holds even on
    provably tiny inputs).

    Reference basis: none; contract training-data mix family (SURVEY
    §2.10), composing the certified gate with the certified
    allocation rule."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens("text")).alias("nt"),
        F.size(F.array_distinct(tokens("text"))).alias("nd"),
    )
    passing = (
        F.col("nt").between(20, 80)
        & (F.col("nd").cast("double") / F.col("nt") > 0.25)
    )
    g = d.groupBy("source").agg(
        F.sum("nt").cast("long").alias("total_tokens"),
        F.sum(F.when(passing, F.col("nt")).otherwise(0))
        .cast("long")
        .alias("passing_tokens"),
    )
    t = g.agg(F.sum("passing_tokens").cast("long").alias("total"))
    b = g.crossJoin(F.broadcast(t)).select(
        "source",
        "total_tokens",
        "passing_tokens",
        F.expr("(1000000 * passing_tokens) div total").alias("fshare"),
        ((1000000 * F.col("passing_tokens")) % F.col("total")).alias("rem"),
    )
    lo = b.agg((1000000 - F.sum("fshare")).cast("long").alias("leftover"))
    other = b.select(
        F.col("source").alias("source2"), F.col("rem").alias("rem2")
    )
    sb = (
        b.join(
            F.broadcast(other),
            (F.col("rem2") > F.col("rem"))
            | (
                (F.col("rem2") == F.col("rem"))
                & (F.col("source2") < F.col("source"))
            ),
            "left",
        )
        .groupBy("source", "total_tokens", "passing_tokens", "fshare")
        .agg(F.count("source2").alias("sb"))
    )
    return (
        sb.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "total_tokens",
            "passing_tokens",
            (
                F.col("fshare")
                + F.when(F.col("sb") < F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .orderBy("source")
    )


@query(
    "sample_importance_weights_ppm",
    oracle="""
    WITH g AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang
    ),
    t AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    )
    SELECT g.lang, g.n_docs,
           CAST((1000000 * t.total) // (t.k * g.n_docs) AS BIGINT)
             AS weight_ppm,
           CAST(g.n_docs * ((1000000 * t.total) // (t.k * g.n_docs))
                AS BIGINT) AS class_mass_ppm
    FROM g, t
    """,
)
def sample_importance_weights_ppm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class importance weights that rebalance the corpus to a
    uniform language mix WITHOUT moving a single row — the
    loss-weighting alternative to `sample_balanced_labels`'
    undersampling (which discards majority-class documents) and
    `sample_quality_weighted_budget`'s quota allocation (which
    reassigns token budget): each document of class c trains with
    weight total/(k·n_c), so every class contributes equal expected
    mass while the data pipeline itself stays untouched — the
    standard inverse-frequency scheme every imbalanced-training setup
    ships. Weights are exact integer ppm (1e6 = weight 1.0);
    class_mass_ppm = n_c·w_c exposes the floor-rounding loss per
    class (≤ n_c ppm), so conservation is auditable rather than
    assumed.

    Scale shape: one map-side-combinable class count, a 1-row total,
    one broadcast cross join — |classes| output rows, nothing
    data-sized past the first agg; the weights table broadcasts to
    the training-export join at any corpus size.

    Reference basis: none; contract training-data-pipeline family
    (SURVEY §2.10)."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    t = g.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        g.crossJoin(F.broadcast(t))
        .withColumn(
            "weight_ppm",
            F.expr("CAST((1000000 * total) div (k * n_docs) AS BIGINT)"),
        )
        .select(
            "lang",
            "n_docs",
            "weight_ppm",
            (F.col("n_docs") * F.col("weight_ppm"))
            .cast("long")
            .alias("class_mass_ppm"),
        )
    )


@query(
    "sample_sqrt_temperature_mix",
    oracle="""
    WITH g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
                  AS BIGINT) AS w
      FROM g
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                 CAST(SUM(n_docs) AS BIGINT) AS total FROM w)
    SELECT w.source, w.n_docs,
           CAST((1000000 * w.n_docs) // t.total AS BIGINT) AS raw_share_ppm,
           CAST((1000000 * w.w) // t.tw AS BIGINT) AS tempered_share_ppm
    FROM w, t
    """,
)
def sample_sqrt_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root TEMPERATURE sampling of the source mix — the
    τ = 0.5 case of the exponent-tempered multinomial every
    multilingual/multi-source pretraining recipe publishes (mBERT,
    XLM-R; p_i ∝ n_i^τ): head sources shrink toward the mean, tail
    sources grow, and τ = 0.5 specifically is the one temperature an
    exact cross-engine certification can carry, because IEEE-754
    `sqrt` is CORRECTLY ROUNDED on every conforming platform (unlike
    `pow(n, 0.7)`, whose libm differs across engines). Each source's
    weight is floored to integer micro-units BEFORE the sum
    (w_i = ⌊1e6·√n_i⌋), so the normalizing denominator is an exact
    integer and the tempered shares are pure integer division — the
    same per-term-floor-then-integer-sum rule as the LSH planner's
    ppm grid. Output carries raw vs tempered ppm side by side: the
    rebalancing a mix job applies is the difference.

    Scale shape: one map-side-combinable source count, one |sources|-
    row weight table, a 1-row total, a broadcast cross join —
    nothing data-sized past the first agg.

    Reference basis: none; contract training-data-pipeline family
    (SURVEY §2.10), beside `sample_epoch_mix_plan` (epoch budgets)
    and `sample_importance_weights_ppm` (uniform-target weights)."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = g.select(
        "source",
        "n_docs",
        F.floor(1000000.0 * F.sqrt(F.col("n_docs").cast("double")))
        .cast("long")
        .alias("w"),
    )
    t = w.agg(
        F.sum("w").cast("long").alias("tw"),
        F.sum("n_docs").cast("long").alias("total"),
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            F.expr("CAST((1000000 * n_docs) div total AS BIGINT)").alias(
                "raw_share_ppm"
            ),
            F.expr("CAST((1000000 * w) div tw AS BIGINT)").alias(
                "tempered_share_ppm"
            ),
        )
    )


_NEYMAN_GUARD = (
    "neyman allocation undefined: zero total weight (all strata constant)"
)

_NEYMAN_CTES = f"""
    WITH x AS (
      SELECT o_orderpriority AS stratum,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000 AS v
      FROM orders
    ),
    g AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(v) AS BIGINT) AS s1,
             CAST(SUM(v * v) AS BIGINT) AS s2
      FROM x GROUP BY 1
    ),
    vv AS (
      SELECT stratum, n_rows, n_rows * s2 - s1 * s1 AS vh FROM g
    ),
    s0 AS (
      SELECT *, CAST(floor(sqrt(CAST(vh AS DOUBLE))) AS BIGINT) AS r0
      FROM vv
    ),
    w AS (
      SELECT stratum, n_rows, vh,
             r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= vh THEN 1 ELSE 0 END)
                - (CASE WHEN r0 * r0 > vh THEN 1 ELSE 0 END) AS wt
      FROM s0
    ),
    t AS (
      SELECT CASE WHEN SUM(wt) = 0
                  THEN CAST(error('{_NEYMAN_GUARD}') AS BIGINT)
                  ELSE CAST(SUM(wt) AS BIGINT) END AS tw
      FROM w
    ),
    b AS (
      SELECT stratum, n_rows, wt,
             (1000000 * wt) // tw AS fshare,
             (1000000 * wt) % tw AS rem
      FROM w, t
    ),
    lo AS (SELECT 1000000 - CAST(SUM(fshare) AS BIGINT) AS leftover FROM b),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) - 1 AS sb
      FROM b
    )"""

_NEYMAN_ORACLE = (
    _NEYMAN_CTES
    + """
    SELECT stratum, n_rows, CAST(wt AS BIGINT) AS weight,
           CAST(fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_ppm
    FROM r, lo
    ORDER BY stratum
    """
)


@query("sample_neyman_allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) sample allocation across strata — the survey-
    statistics rung above proportional apportionment: a fixed 1e6-ppm
    sample budget splits across o_orderpriority strata in proportion
    to N_h * sigma_h, which minimizes the variance of the stratified
    mean at fixed total n. The weight is computed EXACTLY: with v in
    integer kilodollar units (exact cents // 100000), N_h * sigma_h =
    sqrt(N_h * SUM(v^2) - SUM(v)^2) — an integer square root, taken
    as floor(sqrt(double)) plus a +/-1 integer correction, which is
    exact because V_h <= 2^53 here (documented bound; beyond it the
    same kernel runs on DECIMAL/HUGEINT) and IEEE sqrt is correctly
    rounded. The budget then splits by the module's largest-remainder
    convention (floor shares + remainder rank, ties by stratum) — Σ
    alloc == 1e6 EXACTLY. A corpus where every stratum is constant
    (zero total weight) raises LOUDLY on both engines instead of
    emitting a NULL plan.

    Scale shape: one map-side-combinable (count, sum, sum-of-squares)
    agg per stratum, then |strata|-row arithmetic against 1-row
    broadcasts; the remainder rank is the module's broadcast
    triangular self-join. Nothing scales beyond the scan.

    Reference basis: none; contract curation-economics family (SURVEY
    §2.10), beside `sample_token_budget_apportion` (proportional) and
    `sample_sqrt_temperature_mix` (tau=0.5 rebalance)."""
    x = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.expr(
            "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            " div 100000 AS BIGINT)"
        ).alias("v"),
    )
    g = x.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
    )
    vv = g.select(
        "stratum",
        "n_rows",
        (F.col("n_rows") * F.col("s2") - F.col("s1") * F.col("s1")).alias(
            "vh"
        ),
    )
    w = vv.select(
        "stratum",
        "n_rows",
        F.expr(
            "CAST(floor(sqrt(CAST(vh AS DOUBLE))) AS BIGINT)"
            " + (CASE WHEN (CAST(floor(sqrt(CAST(vh AS DOUBLE))) AS BIGINT)"
            "           + 1) * (CAST(floor(sqrt(CAST(vh AS DOUBLE)))"
            "           AS BIGINT) + 1) <= vh THEN 1 ELSE 0 END)"
            " - (CASE WHEN CAST(floor(sqrt(CAST(vh AS DOUBLE))) AS BIGINT)"
            "          * CAST(floor(sqrt(CAST(vh AS DOUBLE))) AS BIGINT)"
            "          > vh THEN 1 ELSE 0 END)"
        ).alias("wt"),
    )
    t = w.agg(
        F.when(
            F.sum("wt") > 0, F.sum("wt")
        )
        .otherwise(F.expr(f"raise_error('{_NEYMAN_GUARD}')"))
        .cast("long")
        .alias("tw")
    )
    b = w.crossJoin(F.broadcast(t)).select(
        "stratum",
        "n_rows",
        F.col("wt"),
        F.expr("(1000000 * wt) div tw").alias("fshare"),
        ((1000000 * F.col("wt")) % F.col("tw")).alias("rem"),
    )
    lo = b.agg((1000000 - F.sum("fshare")).cast("long").alias("leftover"))
    other = b.select(
        F.col("stratum").alias("stratum2"), F.col("rem").alias("rem2")
    )
    sb = (
        b.join(
            F.broadcast(other),
            (F.col("rem2") > F.col("rem"))
            | (
                (F.col("rem2") == F.col("rem"))
                & (F.col("stratum2") < F.col("stratum"))
            ),
            "left",
        )
        .groupBy("stratum", "n_rows", "wt", "fshare")
        .agg(F.count("stratum2").alias("sb"))
    )
    return (
        sb.crossJoin(F.broadcast(lo))
        .select(
            "stratum",
            "n_rows",
            F.col("wt").cast("long").alias("weight"),
            (
                F.col("fshare")
                + F.when(F.col("sb") < F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_ppm"),
        )
        .orderBy("stratum")
    )


DRAW_RATE_DIV = 20  # the draw realizes a 5% (N div 20) corpus sample

_DRAW_BUCKET_SHIFT = 44  # h is 60 bits; h div 2^44 = 65536 prefix buckets

# the draw's full CTE stack (allocation -> targets -> ranked draw),
# factored so the post-stratification weighting rung composes the
# IDENTICAL lineage; _DRAW_ORACLE bytes are unchanged
_DRAW_CTES = f""",
    alloc AS (
      SELECT stratum, n_rows,
             fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END AS alloc_ppm
      FROM r, lo
    ),
    nt AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) // {DRAW_RATE_DIV} AS n_total
      FROM alloc
    ),
    tb AS (
      SELECT stratum, n_rows, n_total,
             (alloc_ppm * n_total) // 1000000 AS fsh,
             (alloc_ppm * n_total) % 1000000 AS rm
      FROM alloc, nt
    ),
    lo2 AS (
      SELECT CAST(MAX(n_total) AS BIGINT)
               - CAST(SUM(fsh) AS BIGINT) AS left2
      FROM tb
    ),
    r2 AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rm DESC, stratum) - 1 AS sb2
      FROM tb
    ),
    tgt AS (
      SELECT stratum, n_rows,
             CAST(fsh + CASE WHEN sb2 < left2 THEN 1 ELSE 0 END
                  AS BIGINT) AS n_target
      FROM r2, lo2
    ),
    cap AS (
      SELECT stratum, n_rows, n_target,
             CASE WHEN n_target > n_rows THEN n_rows
                  ELSE n_target END AS n_draw,
             CAST(CASE WHEN n_target > n_rows THEN n_target - n_rows
                       ELSE 0 END AS BIGINT) AS shortfall
      FROM tgt
    ),
    hashed AS (
      SELECT o_orderpriority AS stratum, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cent,
             {sql_hex_long("md5(CAST(o_orderkey AS VARCHAR))", 15, 1)} AS h
      FROM orders
    ),
    rankd AS (
      SELECT stratum, o_orderkey, cent,
             ROW_NUMBER() OVER (PARTITION BY stratum
                                ORDER BY h, o_orderkey) AS rn
      FROM hashed
    ),
    dr AS (
      SELECT k.stratum, CAST(COUNT(*) AS BIGINT) AS n_drawn,
             CAST(SUM(k.o_orderkey) AS BIGINT) AS sum_okey,
             CAST(SUM(k.cent) AS BIGINT) AS sum_cents
      FROM rankd k JOIN cap c
        ON c.stratum = k.stratum AND k.rn <= c.n_draw
      GROUP BY 1
    )
"""

_DRAW_ORACLE = (
    _NEYMAN_CTES
    + _DRAW_CTES
    + """    SELECT c.stratum, CAST(c.n_rows AS BIGINT) AS n_rows,
           c.n_target,
           COALESCE(d.n_drawn, CAST(0 AS BIGINT)) AS n_drawn,
           c.shortfall,
           COALESCE(d.sum_okey, CAST(0 AS BIGINT)) AS sum_okey,
           COALESCE(d.sum_cents, CAST(0 AS BIGINT)) AS sum_cents
    FROM cap c LEFT JOIN dr d ON d.stratum = c.stratum
    ORDER BY c.stratum
    """
)


@query("sample_neyman_draw", oracle=_DRAW_ORACLE)
def sample_neyman_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZE the Neyman allocation as an actual deterministic
    stratified sample — the missing second half of the survey-design
    rung: `sample_neyman_allocation` says how a 1e6-ppm budget SHOULD
    split across o_orderpriority strata; this op DRAWS the rows. The
    concrete budget is n_total = N div {DRAW_RATE_DIV} (a 5% sample);
    per-stratum targets come from the allocation's ppm shares by the
    module's largest-remainder convention (Σ n_target == n_total
    EXACTLY), capped at the stratum population with the deficit
    reported as `shortfall` (Neyman can over-allocate a small,
    high-variance stratum; capping keeps the draw well-defined and
    the report honest — no silent redistribution). The draw itself is
    the n_draw smallest rows per stratum by (md5-hash, o_orderkey) —
    a deterministic uniform-without-replacement order both engines
    reproduce bit-identically. The emitted per-stratum `sum_okey` is
    an exact SET SIGNATURE of the drawn rows (any single-row
    difference moves it), and `sum_cents` the exact drawn money.

    The Spark plan is the SCALE-HONEST exact selection, certified
    against the oracle's naive global-rank spec: a per-stratum
    ROW_NUMBER window would funnel each stratum (|strata| = 5 here)
    through one task — the funnel this repo bans — so the n-th
    smallest hash is located with a two-pass bucket selection
    instead: pass 1 aggregates (count, Σkey, Σcents) per (stratum,
    h div 2^{_DRAW_BUCKET_SHIFT}) — 65536 prefix buckets, map-side
    combinable, so the cumulative window runs over ≤ |strata|·65536
    rows, a CONSTANT independent of corpus size; buckets whose
    cumulative count fits under the target are taken whole from the
    pre-aggregated sums (no row revisited), and only the single
    boundary bucket per stratum (expected N_h/65536 rows) is exactly
    ranked — a tiny window partitioned by (stratum, bucket). Total
    cost: one scan + one constant-size window + one
    boundary-bucket-only sort; survives a 100× scale-up unchanged.

    `sum_okey` stays within int64 up to ~1e12 drawn keys of magnitude
    ~1e6 (documented bound; beyond it both engines move to the same
    DECIMAL kernel).

    Reference basis: none; contract curation-economics family (SURVEY
    §2.10), completing `sample_neyman_allocation` the way
    `sample_train_val_test` completes the split-plan ops."""
    from ._shared import shared_df

    # |strata|-row allocation behind the full isqrt-weight scan,
    # referenced four times below (total, shares, remainder rank) —
    # checkpoint it or each reference replays the orders scan
    alloc = shared_df(
        "neyman_allocation",
        sf_dir,
        spark,
        lambda: sample_neyman_allocation(spark, sf_dir),
        materialize=True,
    )
    nt = alloc.agg(
        F.expr(f"CAST(SUM(n_rows) div {DRAW_RATE_DIV} AS BIGINT)").alias(
            "n_total"
        )
    )
    tb = alloc.crossJoin(F.broadcast(nt)).select(
        "stratum",
        "n_rows",
        "n_total",
        F.expr("(alloc_ppm * n_total) div 1000000").alias("fsh"),
        ((F.col("alloc_ppm") * F.col("n_total")) % 1000000).alias("rm"),
    )
    lo2 = tb.agg(
        (F.max("n_total") - F.sum("fsh")).cast("long").alias("left2")
    )
    other = tb.select(
        F.col("stratum").alias("stratum2"), F.col("rm").alias("rm2")
    )
    sb2 = (
        tb.join(
            F.broadcast(other),
            (F.col("rm2") > F.col("rm"))
            | (
                (F.col("rm2") == F.col("rm"))
                & (F.col("stratum2") < F.col("stratum"))
            ),
            "left",
        )
        .groupBy("stratum", "n_rows", "fsh")
        .agg(F.count("stratum2").alias("sb2"))
    )
    tgt = sb2.crossJoin(F.broadcast(lo2)).select(
        "stratum",
        "n_rows",
        (
            F.col("fsh")
            + F.when(F.col("sb2") < F.col("left2"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_target"),
    )
    cap = tgt.select(
        "stratum",
        "n_rows",
        "n_target",
        F.least("n_target", "n_rows").cast("long").alias("n_draw"),
        F.greatest(F.col("n_target") - F.col("n_rows"), F.lit(0))
        .cast("long")
        .alias("shortfall"),
    )

    rows = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.col("o_orderkey").alias("okey"),
        cents("o_totalprice").alias("cent"),
    )
    rows = rows.withColumn(
        "h", hex_prefix_long(F.md5(F.col("okey").cast("string")), 15, 1)
    ).withColumn("b", F.expr(f"h div {1 << _DRAW_BUCKET_SHIFT}"))
    bk = rows.groupBy("stratum", "b").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("okey").cast("long").alias("s_okey"),
        F.sum("cent").cast("long").alias("s_cent"),
    )
    wcum = (
        Window.partitionBy("stratum")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = bk.withColumn(
        "cum_below",
        F.coalesce(F.sum("k").over(wcum), F.lit(0)).cast("long"),
    ).join(F.broadcast(cap.select("stratum", "n_draw")), "stratum")
    fagg = (
        cb.filter(F.col("cum_below") + F.col("k") <= F.col("n_draw"))
        .groupBy("stratum")
        .agg(
            F.sum("k").cast("long").alias("fn"),
            F.sum("s_okey").cast("long").alias("f_okey"),
            F.sum("s_cent").cast("long").alias("f_cent"),
        )
    )
    bnd = cb.filter(
        (F.col("cum_below") < F.col("n_draw"))
        & (F.col("cum_below") + F.col("k") > F.col("n_draw"))
    ).select(
        "stratum", "b", (F.col("n_draw") - F.col("cum_below")).alias("need")
    )
    wrank = Window.partitionBy("stratum", "b").orderBy("h", "okey")
    pagg = (
        rows.join(F.broadcast(bnd), ["stratum", "b"])
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") <= F.col("need"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pn"),
            F.sum("okey").cast("long").alias("p_okey"),
            F.sum("cent").cast("long").alias("p_cent"),
        )
    )
    z = F.lit(0).cast("long")
    return (
        cap.join(fagg, "stratum", "left")
        .join(pagg, "stratum", "left")
        .select(
            "stratum",
            F.col("n_rows").cast("long").alias("n_rows"),
            "n_target",
            (F.coalesce("fn", z) + F.coalesce("pn", z))
            .cast("long")
            .alias("n_drawn"),
            "shortfall",
            (F.coalesce("f_okey", z) + F.coalesce("p_okey", z))
            .cast("long")
            .alias("sum_okey"),
            (F.coalesce("f_cent", z) + F.coalesce("p_cent", z))
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Stratified-sampling family: POST-STRATIFICATION WEIGHTS over the realized
# Neyman draw (allocation -> draw -> weighting).
# ---------------------------------------------------------------------------

_POSTSTRAT_ORACLE = (
    _NEYMAN_CTES
    + _DRAW_CTES
    + """,
    act AS (
      SELECT o_orderpriority AS stratum,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS actual_total_cents
      FROM orders GROUP BY 1
    )
    SELECT c.stratum,
           CAST(c.n_rows AS BIGINT) AS n_rows,
           COALESCE(d.n_drawn, CAST(0 AS BIGINT)) AS n_drawn,
           CASE WHEN COALESCE(d.n_drawn, 0) = 0 THEN NULL
                ELSE CAST((1000000 * c.n_rows) // d.n_drawn AS BIGINT)
           END AS weight_ppm,
           CASE WHEN COALESCE(d.n_drawn, 0) = 0 THEN NULL
                ELSE CAST((CAST(c.n_rows AS HUGEINT) * d.sum_cents)
                          // d.n_drawn AS BIGINT)
           END AS est_total_cents,
           a.actual_total_cents,
           CAST(CASE WHEN COALESCE(d.n_drawn, 0) = 0 THEN 0
                     WHEN (CAST(c.n_rows AS HUGEINT) * d.sum_cents)
                          // d.n_drawn > a.actual_total_cents THEN 1
                     WHEN (CAST(c.n_rows AS HUGEINT) * d.sum_cents)
                          // d.n_drawn < a.actual_total_cents THEN -1
                     ELSE 0 END AS BIGINT) AS err_sign,
           CASE WHEN COALESCE(d.n_drawn, 0) = 0 THEN NULL
                ELSE CAST((CAST(1000000 AS HUGEINT)
                           * abs((CAST(c.n_rows AS HUGEINT) * d.sum_cents)
                                 // d.n_drawn - a.actual_total_cents))
                          // a.actual_total_cents AS BIGINT)
           END AS abs_err_ppm
    FROM cap c
    LEFT JOIN dr d ON d.stratum = c.stratum
    JOIN act a ON a.stratum = c.stratum
    ORDER BY c.stratum
    """
)


@query("sample_poststrat_weights", oracle=_POSTSTRAT_ORACLE)
def sample_poststrat_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POST-STRATIFICATION design weights over the realized Neyman
    draw — the weighting rung that completes the survey-design ladder
    (allocation says how the budget SHOULD split, the draw REALIZES
    it, this op says how to USE the sample): per stratum, the design
    weight w_h = N_h / n_h in exact floor-ppm, the Horvitz-Thompson
    estimate of the stratum's total spend reconstructed FROM the
    sample (floor((N_h · sampled_cents) / n_h), wide-integer exact —
    N_h · Σcents overflows int64 at warehouse scale, so HUGEINT /
    DECIMAL(38,0) carry the product), the true total from the full
    scan, and the calibration error as (sign, abs floor-ppm) — split
    because DuckDB's `//` floors while Spark's `div` truncates, so a
    signed floor-div would diverge on negatives.

    The estimate audit is the op's point: a curator shipping the 5%
    Neyman sample needs to know the weighted sample REPRODUCES
    population totals (error ppm near zero for well-mixed strata) —
    and the md5-ordered draw makes the whole read deterministic, so
    the calibration number is certified, not sampled noise.

    Scale shape: the draw's own lineage (|strata|-row tables behind
    one scan + the two-pass bucket selection) plus one
    map-side-combinable per-stratum cents total; the weighting
    arithmetic is |strata| rows. A stratum the draw missed entirely
    (n_drawn = 0) reports NULL weight/estimate with err_sign 0 rather
    than inventing a number.

    Reference basis: none; contract curation-economics family (SURVEY
    §2.10) — the rung above `sample_neyman_draw`."""
    from ._shared import shared_df

    draw = shared_df(
        "neyman_draw_result",
        sf_dir,
        spark,
        lambda: sample_neyman_draw(spark, sf_dir),
        materialize=True,
    )
    act = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("actual_total_cents")
        )
    )
    est = F.expr(
        "CAST((CAST(n_rows AS DECIMAL(38,0)) * sum_cents) div n_drawn"
        " AS BIGINT)"
    )
    drawn = F.col("n_drawn") > 0
    return (
        draw.join(act, "stratum")
        .select(
            "stratum",
            "n_rows",
            "n_drawn",
            F.when(
                drawn,
                F.expr("CAST((1000000 * n_rows) div n_drawn AS BIGINT)"),
            ).alias("weight_ppm"),
            F.when(drawn, est).alias("est_total_cents"),
            "actual_total_cents",
            F.when(~drawn, F.lit(0))
            .when(est > F.col("actual_total_cents"), F.lit(1))
            .when(est < F.col("actual_total_cents"), F.lit(-1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("err_sign"),
            F.when(
                drawn,
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0))"
                    " * abs(CAST((CAST(n_rows AS DECIMAL(38,0))"
                    "             * sum_cents) div n_drawn AS BIGINT)"
                    "       - actual_total_cents))"
                    " div actual_total_cents AS BIGINT)"
                ),
            ).alias("abs_err_ppm"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# Data-mix family: IMPORTANCE REWEIGHTING toward a target mix (the
# weights-side sibling of the temperature/Neyman DRAW ops).
# ---------------------------------------------------------------------------

_IMPORTANCE_REWEIGHT_ORACLE = f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM s
    ),
    w AS (
      SELECT s.source, s.n_docs,
             (1000000 * s.n_docs) // t.total AS actual_share_ppm,
             (1000000 * t.total) // (t.n_src * s.n_docs)
               AS weight_ppm,
             t.total, t.n_src
      FROM s, t
    ),
    e AS (
      SELECT CAST(SUM(n_docs * weight_ppm) AS BIGINT) AS sw,
             SUM(CAST(n_docs AS HUGEINT) * weight_ppm * weight_ppm) AS sww,
             CAST(MAX(total) AS BIGINT) AS total
      FROM w
    )
    SELECT w.source,
           w.n_docs,
           CAST(w.actual_share_ppm AS BIGINT) AS actual_share_ppm,
           CAST(w.weight_ppm AS BIGINT) AS weight_ppm,
           CAST((w.n_docs * w.weight_ppm) // 1000000 AS BIGINT)
             AS effective_docs,
           floor(CAST(e.sw AS DOUBLE) * e.sw / e.total
                 / CAST(e.sww AS DOUBLE) * 10000
                 + 0.5) / 10000 AS ess_ratio
    FROM w, e ORDER BY w.source
    """


@query(
    "sample_importance_reweight", oracle=_IMPORTANCE_REWEIGHT_ORACLE
)
def sample_importance_reweight(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMPORTANCE REWEIGHTING toward a UNIFORM source mix — the
    weights-side alternative to resampling (`sample_temperature_mix`
    draws documents; this keeps every document and hands the
    dataloader per-source weights): weight_ppm = target/actual share
    as the exact integer (1e6·N)/(S·n_s), so Σ n_s·w_s ≈ 1e6·N and
    each source's effective count lands within integer truncation of
    N/S — certified by the `effective_docs` column (a source present
    in the groupBy has n_docs >= 1 by construction, so the divisor
    needs no degenerate guard). The global cost of reweighting is the
    EFFECTIVE SAMPLE SIZE ratio, Kish's (Σw)²/(N·Σw²) computed from
    exact int64 source-level sums (one double division at the end,
    pinned to the 1e-4 grid) — the number that says how much variance
    the mix correction buys back.

    Scale shape: ONE |sources|-row aggregate end to end — the corpus
    scan is the single groupBy('source') count; weights and the ESS
    are |sources|-row integer arithmetic on the driver-free plan. At
    100 TB this is the cheapest op in the sampling family; the
    weights table broadcasts to the dataloader.

    Reference basis: none; contract training-data sampling family
    (SURVEY §2.10) — the reweight rung beside `sample_temperature_mix`
    and `sample_neyman_allocation`."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    t = s.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    w = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr("(1000000 * n_docs) div total")
        .cast("long")
        .alias("actual_share_ppm"),
        F.expr("(1000000 * total) div (n_src * n_docs)")
        .cast("long")
        .alias("weight_ppm"),
        "total",
    )
    # sww accumulates n_s * w_s^2; a 1-doc source in an N-doc corpus has
    # w ~ 1e6*N/S, so the square reaches ~1e12*N^2/S^2 — int64 wraps
    # silently past N ~ 3e3*S while DuckDB raises. DECIMAL(38,0)/HUGEINT
    # on the two sides keeps both exact to N ~ 1e13 docs (1e36 < 1e38),
    # far past the 100 TB corpus; one double division at the end.
    e = w.agg(
        F.sum(F.col("n_docs") * F.col("weight_ppm"))
        .cast("long")
        .alias("sw"),
        F.sum(
            F.col("n_docs").cast("decimal(19,0)")
            * F.col("weight_ppm")
            * F.col("weight_ppm")
        )
        .cast("decimal(38,0)")
        .alias("sww"),
        F.max("total").cast("long").alias("total_g"),
    )
    return (
        w.crossJoin(F.broadcast(e))
        .select(
            "source",
            "n_docs",
            "actual_share_ppm",
            "weight_ppm",
            F.expr("(n_docs * weight_ppm) div 1000000")
            .cast("long")
            .alias("effective_docs"),
            half_up(
                F.col("sw").cast("double")
                * F.col("sw")
                / F.col("total_g")
                / F.col("sww").cast("double"),
                4,
            ).alias("ess_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Data-mix family: CURRICULUM SCHEDULE (quality-decile pacing — the
# ORDER-over-epochs complement of the mix/budget planners, which decide HOW
# MUCH of each source; this decides WHEN quality tiers enter training).
# ---------------------------------------------------------------------------

_CURR_EPOCHS = 4
_CURR_SB = 4096  # super-bucket width for the hierarchical prefix sum

_CURRICULUM_ORACLE = f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS nt,
             CAST(len(list_distinct(
                    list_filter(string_split(text, ' '), t -> t <> '')))
                  AS BIGINT) AS nd
      FROM documents
    ),
    sc AS (
      SELECT doc_id, nt, (1000000 * nd) // nt AS s FROM d WHERE nt >= 1
    ),
    h AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(nt) AS BIGINT) AS tok
      FROM sc GROUP BY s
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(tok) AS BIGINT) AS t
      FROM h
    ),
    dec AS (
      SELECT s, cnt, tok,
             CAST(1 + (10 * COALESCE(SUM(cnt) OVER (
                    ORDER BY s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)) // tot.n AS BIGINT) AS decile
      FROM h, tot
    ),
    db AS (
      SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS avail
      FROM dec GROUP BY decile
    ),
    ep AS (SELECT UNNEST(range(1, {_CURR_EPOCHS + 1})) AS epoch),
    adm AS (
      SELECT ep.epoch, db.decile, db.n_docs, db.avail
      FROM ep JOIN db ON db.decile <= (10 * ep.epoch + 3) // 4
    ),
    te AS (
      SELECT epoch, CAST(SUM(avail) AS BIGINT) AS tadm
      FROM adm GROUP BY epoch
    ),
    q AS (
      SELECT a.epoch, a.decile, a.n_docs, a.avail,
             ((tot.t // {_CURR_EPOCHS}) * a.avail) // te.tadm AS fl,
             ((tot.t // {_CURR_EPOCHS}) * a.avail) % te.tadm AS rem
      FROM adm a JOIN te ON te.epoch = a.epoch, tot
    ),
    x AS (
      SELECT epoch,
             CAST(MAX(tot.t // {_CURR_EPOCHS}) - SUM(fl) AS BIGINT) AS extra
      FROM q, tot GROUP BY epoch
    ),
    rk AS (
      SELECT q.epoch, q.decile,
             CAST(COUNT(o.decile) AS BIGINT) AS sb
      FROM q LEFT JOIN q o
        ON o.epoch = q.epoch
       AND (o.rem > q.rem OR (o.rem = q.rem AND o.decile < q.decile))
      GROUP BY q.epoch, q.decile
    )
    SELECT q.epoch, q.decile, q.n_docs,
           q.avail AS avail_tokens,
           CAST(q.fl + CASE WHEN rk.sb < x.extra THEN 1 ELSE 0 END
                AS BIGINT) AS quota_tokens,
           CAST(LEAST(q.fl + CASE WHEN rk.sb < x.extra THEN 1 ELSE 0 END,
                      q.avail) AS BIGINT) AS served_tokens,
           CAST(GREATEST(q.fl + CASE WHEN rk.sb < x.extra THEN 1 ELSE 0 END
                         - q.avail, 0) AS BIGINT) AS shortfall_tokens
    FROM q
    JOIN rk ON rk.epoch = q.epoch AND rk.decile = q.decile
    JOIN x ON x.epoch = q.epoch
    ORDER BY q.epoch, q.decile
    """


@query("sample_curriculum_schedule", oracle=_CURRICULUM_ORACLE)
def sample_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM SCHEDULE over quality deciles — the pacing plan a
    curriculum-learning dataloader executes (public recipe: train on
    the cleanest tier first, anneal toward the full distribution):
    documents are bucketed into lexical-diversity deciles (decile 1 =
    highest distinct-token ratio, the `text_quality_score` metric on
    its exact integer-ppm grid), and epoch e of {_CURR_EPOCHS} admits
    deciles 1..ceil(10e/{_CURR_EPOCHS}) — the expanding competence
    window — with a per-epoch token budget of total//{_CURR_EPOCHS}
    apportioned across admitted deciles by the family's
    largest-remainder idiom (sums to the budget EXACTLY; quotas a
    shard-sizer can execute verbatim). served = min(quota, avail)
    makes epoch-1 over-allocation an explicit shortfall column, the
    same loud-deficit device as `sample_epoch_mix_plan`.

    Deciles are VALUE-GROUPED: every doc with the same ppm score
    lands in one decile (the decile of the group's first rank), so
    boundaries never split a tie group and both engines agree without
    any within-group ordering. The decile pass runs on the SCORE
    HISTOGRAM (<= 1e6+1 rows at any corpus size, bounded by the ppm
    grid, not by the corpus), and its cumulative is a HIERARCHICAL
    prefix sum — per-super-bucket totals (<= {1000000 // _CURR_SB + 1}
    rows) combined through a broadcast triangular self-join, plus a
    within-super-bucket window partitioned by super-bucket — because
    the module bans single-partition WindowExec even over bounded
    inputs; the oracle computes the same integer with a flat window.

    Integer bounds: the apportionment products (budget × avail) stay
    in int64 while total corpus tokens <= ~3e9; both engines raise
    LOUDLY beyond it (Spark ANSI overflow / DuckDB out-of-range — no
    silent wrap on either side), and past that scale both sides move
    to the same DECIMAL(38,0) kernel, the `sample_neyman_draw`
    documented trade.

    Scale shape: one tokenize agg over the corpus (map-side
    combinable) -> bounded histogram -> |deciles|x|epochs| rows; the
    remainder rank is the family's broadcast triangular join, never a
    global sort.

    Reference basis: none; contract curation-economics family
    (SURVEY §2.10), the scheduling rung above the mix planners."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(tokens("text")).cast("long").alias("nt"),
        F.size(F.array_distinct(tokens("text"))).cast("long").alias("nd"),
    )
    sc = d.filter(F.col("nt") >= 1).select(
        "nt", F.expr("(1000000 * nd) div nt").alias("s")
    )
    h = sc.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("nt").cast("long").alias("tok"),
    )
    tot = h.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("tok").cast("long").alias("t"),
    )
    # hierarchical prefix sum in score-DESC order: super-bucket
    # totals via broadcast triangular join + within-bucket keyed window
    hb = h.withColumn("sb", F.expr(f"s div {_CURR_SB}"))
    sbt = hb.groupBy("sb").agg(F.sum("cnt").cast("long").alias("scnt"))
    above = sbt.select(
        F.col("sb").alias("sb2"), F.col("scnt").alias("scnt2")
    )
    sbc = (
        sbt.join(F.broadcast(above), F.col("sb2") > F.col("sb"), "left")
        .groupBy("sb")
        .agg(F.coalesce(F.sum("scnt2"), F.lit(0)).cast("long").alias("cum_sb"))
    )
    win = (
        Window.partitionBy("sb")
        .orderBy(F.desc("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dec = (
        hb.join(sbc, "sb")
        .withColumn(
            "cum_before",
            (
                F.col("cum_sb")
                + F.coalesce(F.sum("cnt").over(win), F.lit(0))
            ).cast("long"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cnt",
            "tok",
            (1 + F.expr("(10 * cum_before) div n")).alias("decile"),
        )
    )
    db = dec.groupBy("decile").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("avail"),
    )
    ep = spark.range(1, _CURR_EPOCHS + 1).select(
        F.col("id").cast("long").alias("epoch")
    )
    adm = F.broadcast(ep).join(
        db, db.decile <= F.expr("(10 * epoch + 3) div 4")
    )
    te = adm.groupBy("epoch").agg(F.sum("avail").cast("long").alias("tadm"))
    q = (
        adm.join(F.broadcast(te), "epoch")
        .crossJoin(F.broadcast(tot))
        .select(
            "epoch",
            "decile",
            "n_docs",
            "avail",
            F.expr(f"((t div {_CURR_EPOCHS}) * avail) div tadm").alias("fl"),
            F.expr(f"((t div {_CURR_EPOCHS}) * avail) % tadm").alias("rem"),
            F.expr(f"t div {_CURR_EPOCHS}").alias("budget"),
        )
    )
    x = q.groupBy("epoch").agg(
        (F.max("budget") - F.sum("fl")).cast("long").alias("extra")
    )
    other = q.select(
        F.col("epoch").alias("epoch2"),
        F.col("decile").alias("decile2"),
        F.col("rem").alias("rem2"),
    )
    rk = (
        q.join(
            F.broadcast(other),
            (F.col("epoch2") == F.col("epoch"))
            & (
                (F.col("rem2") > F.col("rem"))
                | (
                    (F.col("rem2") == F.col("rem"))
                    & (F.col("decile2") < F.col("decile"))
                )
            ),
            "left",
        )
        .groupBy("epoch", "decile", "n_docs", "avail", "fl")
        .agg(F.count("decile2").cast("long").alias("sb"))
    )
    quota = F.col("fl") + F.when(F.col("sb") < F.col("extra"), 1).otherwise(0)
    return (
        rk.join(F.broadcast(x), "epoch")
        .select(
            "epoch",
            "decile",
            "n_docs",
            F.col("avail").alias("avail_tokens"),
            quota.cast("long").alias("quota_tokens"),
            F.least(quota, F.col("avail")).cast("long").alias("served_tokens"),
            F.greatest(quota - F.col("avail"), F.lit(0))
            .cast("long")
            .alias("shortfall_tokens"),
        )
        .orderBy("epoch", "decile")
    )
