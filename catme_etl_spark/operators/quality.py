"""Data-quality operators (SURVEY §2.10 EXT; pipeline ops a training-
data engine runs before anything else): referential-integrity audit
and per-slice profiling.

The reference's only quality machinery is the 4-stage contract checks
(`unified_code.py:257-269,282-293` — presence assertions on injected
flags); these operators are the relational generalization: every check
is a declarative count of violations, so the whole audit compiles to
broadcast anti-joins and conditional aggregates — one scan per table,
no row ever leaves the executors.

At 100 TB: each FK check is a shuffle-free broadcast anti-join when
the dimension fits (all do here); fact-fact checks would shuffle on
the key once. Violation counts, not violating rows, cross to the
driver — quarantining actual bad rows is the same plan with the
filter's complement written to a side output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents, half_up, pct100
from ..functions.texttools import sql_hex_long
from ..sources.tables import load_table
from .registry import query
from .sampling import hash_bucket

# the deterministic 80/10/10 split bucket of sample_train_val_test,
# as DuckDB SQL (md5 of the doc id -> 56-bit int -> mod 100)
_SPLIT_BKT_SQL = "(" + sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1) + " % 100)"


def _fk_violations(
    fact: DataFrame, key: str, dim: DataFrame, ref: str, label: str
) -> DataFrame:
    """COUNT of fact rows whose key has no match in dim (NULL-safe:
    null keys are orphans too, matching the SQL LEFT JOIN ... IS NULL
    idiom)."""
    return (
        fact.select(F.col(key))
        .join(F.broadcast(dim.select(F.col(ref))), F.col(key) == F.col(ref), "left")
        .filter(F.col(ref).isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit(label).alias("check_name"), "violations")
    )


def _domain_violations(df: DataFrame, bad: Column, label: str) -> DataFrame:
    return (
        df.agg(F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("violations"))
        .select(F.lit(label).alias("check_name"), "violations")
    )


@query(
    "quality_fk_audit",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS check_name,
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
              ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS violations
    UNION ALL SELECT 'lineitem.l_orderkey->orders',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
    UNION ALL SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
              ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
    UNION ALL SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
              ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
    UNION ALL SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
              ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
    UNION ALL SELECT 'supplier.s_nationkey->nation',
           (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n
              ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
    UNION ALL SELECT 'nation.n_regionkey->region',
           (SELECT COUNT(*) FROM nation n LEFT JOIN region r
              ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)
    UNION ALL SELECT 'lineitem.l_discount in [0,1]',
           (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL SELECT 'lineitem.l_quantity > 0',
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL SELECT 'documents.text not null',
           (SELECT COUNT(*) FROM documents WHERE text IS NULL)
    UNION ALL SELECT 'documents.n_chars = length(text)',
           (SELECT COUNT(*) FROM documents WHERE n_chars <> LENGTH(text))
    ORDER BY check_name
    """,
)
def quality_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity + domain audit across the star schema:
    one row per check, value = violation count (0 = constraint holds).
    The audit is the gate a production pipeline runs on every new
    partition before publishing it downstream."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    d = load_table(spark, sf_dir, "documents")
    checks = [
        _fk_violations(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"),
        _fk_violations(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"),
        _fk_violations(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"),
        _fk_violations(li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey->supplier"),
        _fk_violations(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation"),
        _fk_violations(s, "s_nationkey", n, "n_nationkey", "supplier.s_nationkey->nation"),
        _fk_violations(n, "n_regionkey", r, "r_regionkey", "nation.n_regionkey->region"),
        _domain_violations(
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            "lineitem.l_discount in [0,1]",
        ),
        _domain_violations(li, F.col("l_quantity") <= 0, "lineitem.l_quantity > 0"),
        _domain_violations(d, F.col("text").isNull(), "documents.text not null"),
        _domain_violations(
            d,
            F.col("n_chars") != F.length("text"),
            "documents.n_chars = length(text)",
        ),
    ]
    out = checks[0]
    for extra in checks[1:]:
        out = out.unionByName(extra)
    return out.orderBy("check_name")


@query(
    "quality_profile_documents",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars,
           CAST(SUM(CASE WHEN n_chars < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tiny
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def quality_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (counts, source diversity, length
    spread, tiny-doc tally) — the summary a curation run reads before
    choosing filter thresholds. One hash-agg; avg is exact integer
    sum ÷ count so the hash never flakes."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 2
            ).alias("avg_chars"),
            F.sum(F.when(F.col("n_chars") < 20, 1).otherwise(0))
            .cast("long")
            .alias("n_tiny"),
        )
        .orderBy("lang")
    )


@query(
    "quality_completeness_profile",
    oracle="""
    SELECT 'o_custkey' AS col,
           COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice) FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority) FROM orders
    """,
)
def quality_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN completeness profile (null count + exact distinct
    cardinality) in long format — the schema-drift tripwire a pipeline
    runs on every ingest batch. ONE wide aggregate computes every
    column's counts in a single scan (Catalyst rewrites the multiple
    DISTINCTs into one Expand — n_cols× row expansion map-side, still
    one pass over storage vs. the oracle's n_cols scans), then an
    explode pivots the single row to long form. At 100 TB swap exact
    COUNT DISTINCT for approx_count_distinct and the Expand disappears
    too; exact is the right call at audit scale."""
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = []
    for c in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null")
        )
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    row = o.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select("p.col", "p.n_null", "p.n_distinct")
    )


@query(
    "quality_anomaly_iqr_fences",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(q1 - 1.5 * (q3 - q1), 3) + 0.0 AS fence_lo,
           ROUND(q3 + 1.5 * (q3 - q1), 3) + 0.0 AS fence_hi,
           COUNT(*) FILTER (e.value < q1 - 1.5 * (q3 - q1)
                            OR e.value > q3 + 1.5 * (q3 - q1)) AS n_outliers
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q1, q3
    """,
)
def quality_anomaly_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per series: exact quartiles → IQR
    fences (±1.5·IQR) → outlier counts. The quartile pass and the
    count pass are two scans with the tiny fence table broadcast
    between them (per-group quantiles need the group's values; the
    100 TB swap is ``approx_percentile``, which makes pass one a
    mergeable single-scan sketch). Fence arithmetic is the same IEEE
    expression on identical interpolated quantiles in both engines, so
    boundary membership agrees; fences are ROUNDed for display only
    AFTER the comparison."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round(lo, 3).alias("fence_lo"),
            F.round(hi, 3).alias("fence_hi"),
            "n_outliers",
        )
    )


@query(
    "quality_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit
    ),
    tot AS (SELECT SUM(n_obs) AS n FROM obs)
    SELECT digit, n_obs,
           ROUND(n * ln(1.0 + 1.0 / digit) / ln(10.0), 4) AS n_exp,
           ROUND(POW(n_obs - n * ln(1.0 + 1.0 / digit) / ln(10.0), 2)
                 / (n * ln(1.0 + 1.0 / digit) / ln(10.0)), 6) AS chi2_term
    FROM obs, tot
    """,
)
def quality_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit on order totals —
    the classic synthetic/fabricated-data smell test: per digit 1-9,
    observed count vs the Benford expectation N·log10(1+1/d) and that
    digit's chi-square contribution.

    The first digit is taken from the *integer cents* rendering (cast
    to string, first char) so both engines extract the identical digit
    with zero float-format dependence. One hash-agg collapses the fact
    table to ≤ 9 rows; the total-N join is a one-row broadcast. At
    100 TB this is a single scan with map-side partials — the audit
    output is constant-size regardless of input.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("long")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    n_exp = F.col("n") * F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(
        F.lit(10.0)
    )
    return (
        obs.join(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(n_exp, 4).alias("n_exp"),
            F.round(F.pow(F.col("n_obs") - n_exp, 2) / n_exp, 6).alias(
                "chi2_term"
            ),
        )
    )


_PK_SPECS = [
    ("region", ["r_regionkey"]),
    ("nation", ["n_nationkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


@query(
    "quality_pk_uniqueness_audit",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT ({", ".join(k)})) AS n_keys,
               COUNT(*) - COUNT(DISTINCT ({", ".join(k)})) AS n_dup_rows
        FROM {t}"""
        for t, k in _PK_SPECS
    ),
)
def quality_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across ALL ten tables in one
    result: row count, distinct key count, and duplicate-row count per
    table — the first check a warehouse health dashboard runs (a
    single duplicated orderkey upstream silently doubles every join
    fan-out downstream; this catches it before the joins do).

    Each table contributes one count(distinct) aggregate (exact,
    map-side partial on the key); ten one-row results union. At 100 TB
    per-table audits run as independent jobs and union their one-row
    outputs — embarrassingly parallel by construction. The composite
    lineitem key audits as a tuple.
    """
    parts = []
    for t, keys in _PK_SPECS:
        df = load_table(spark, sf_dir, t)
        key = F.struct(*[F.col(k) for k in keys]) if len(keys) > 1 else F.col(
            keys[0]
        )
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(key).alias("n_keys"),
            ).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "quality_anomaly_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, median(vc) AS m FROM v GROUP BY event_type
    ),
    dev AS (
      SELECT v.event_type, vc, ABS(vc - m) AS d
      FROM v JOIN med ON med.event_type = v.event_type
    ),
    mad AS (
      SELECT event_type, median(d) AS mad FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           COUNT(*) AS n,
           floor((MAX(m) / 100.0) * 10000 + 0.5) / 10000 AS med_value,
           floor((MAX(mad.mad) / 100.0) * 10000 + 0.5) / 10000 AS mad_value,
           CAST(COUNT(CASE WHEN 10000 * d > 44478 * mad.mad THEN 1 END)
                AS BIGINT) AS n_outliers
    FROM dev
    JOIN mad ON mad.event_type = dev.event_type
    JOIN med ON med.event_type = dev.event_type
    GROUP BY dev.event_type
    """,
)
def quality_anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD (median-absolute-deviation) outlier audit per event type —
    the fully ROBUST sibling of the IQR fences and the mean-based
    z-score: median and MAD have a 50% breakdown point, so a corrupted
    batch cannot drag its own anomaly threshold the way it drags a
    mean/stddev. Flags |v − median| > 3·1.4826·MAD (the Gaussian-
    consistent cutoff), compared ALL-INTEGER as `10000·d > 44478·mad`
    (d and mad are exact half-integers of cents, so both products are
    exact — no DECIMAL-literal-vs-binary-double tie hazard).

    Exactness: medians are computed over integer cents (Spark's exact
    `median` aggregate; even counts give .5 — binary-exact), so the
    deviation table and the threshold comparison are deterministic
    cross-engine; dollars emerge through one half-away floor-round.
    Two grouped median passes + one rejoin; at 100 TB swap the exact
    medians for `approx_percentile(0.5)` (same plan, documented
    sketch tolerance — the IQR-fences pattern).
    """
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", cents("value").alias("vc"))
    )
    med = v.groupBy("event_type").agg(F.median("vc").alias("m"))
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", "vc", F.abs(F.col("vc") - F.col("m")).alias("d"), "m"
    )
    mad = dev.groupBy("event_type").agg(F.median("d").alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        half_up(F.max("m") / 100.0, 4).alias("med_value"),
        half_up(F.max("mad") / 100.0, 4).alias("mad_value"),
        F.count(
            F.when(10000 * F.col("d") > 44478 * F.col("mad"), 1)
        ).cast("long").alias("n_outliers"),
    )


@query(
    "quality_split_leakage_audit",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:20], ' ')) AS tpl,
             CASE WHEN {_SPLIT_BKT_SQL} < 80 THEN 'train'
                  WHEN {_SPLIT_BKT_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    t AS (
      SELECT tpl,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT split) AS n_splits
      FROM s GROUP BY tpl HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_templates,
           CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_leaky_templates,
           CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END), 0)
                AS BIGINT) AS n_docs_at_risk
    FROM t
    """,
)
def quality_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test CONTAMINATION audit: near-duplicate documents
    (here: template clusters sharing a 20-token prefix, the
    `dedup_prefix_template_clusters` key) that straddle split
    boundaries leak evaluation data into training — the benchmark-
    inflation failure every serious pipeline gates on. Composes the
    repo's own deterministic 80/10/10 content-hash split
    (`sample_train_val_test`) with the template key and counts the
    clusters (and member docs) assigned to MORE THAN ONE split.

    At corpus scale this is the audit you run BEFORE publishing a
    split: one narrow projection, one hash-agg over 16-byte keys, one
    single-row summary — no text shuffle, no pairwise join (cluster
    membership replaces the quadratic pair enumeration).
    """
    d = load_table(spark, sf_dir, "documents")
    bkt = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise(F.lit("test"))
    )
    pfx = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ")
    t = (
        d.select(F.md5(pfx).alias("tpl"), split.alias("split"))
        .groupBy("tpl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
        )
        .filter(F.col("n_docs") > 1)
    )
    leaky = F.when(F.col("n_splits") > 1, 1).otherwise(0)
    return t.agg(
        F.count(F.lit(1)).alias("n_templates"),
        F.coalesce(F.sum(leaky), F.lit(0)).cast("long").alias(
            "n_leaky_templates"
        ),
        F.coalesce(
            F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_docs_at_risk"),
    )


@query(
    "quality_table_profile",
    oracle="""
    WITH l AS (
      SELECT l_quantity AS qty, l_extendedprice AS price,
             l_discount AS disc, l_tax AS tax,
             CAST(floor(epoch(l_shipdate)) AS DOUBLE) AS ship_epoch,
             l_returnflag, l_linestatus
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(qty) AS n_nulls,
           COUNT(DISTINCT qty) AS n_distinct,
           floor(MIN(qty) * 10000 + 0.5) / 10000 AS min_v,
           floor(MAX(qty) * 10000 + 0.5) / 10000 AS max_v
    FROM l
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(price),
           COUNT(DISTINCT price),
           floor(MIN(price) * 10000 + 0.5) / 10000,
           floor(MAX(price) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(disc),
           COUNT(DISTINCT disc),
           floor(MIN(disc) * 10000 + 0.5) / 10000,
           floor(MAX(disc) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(tax),
           COUNT(DISTINCT tax),
           floor(MIN(tax) * 10000 + 0.5) / 10000,
           floor(MAX(tax) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(ship_epoch),
           COUNT(DISTINCT ship_epoch),
           floor(MIN(ship_epoch) * 10000 + 0.5) / 10000,
           floor(MAX(ship_epoch) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
           COUNT(DISTINCT l_returnflag), NULL, NULL
    FROM l
    UNION ALL
    SELECT 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus),
           COUNT(DISTINCT l_linestatus), NULL, NULL
    FROM l
    ORDER BY col_name
    """,
)
def quality_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-shaped per-column profile of lineitem: row count,
    null count, exact distinct count, and rounded min/max for every
    numeric column (timestamps profiled on their epoch seconds;
    varchar columns get distinct counts with NULL numeric bounds).
    This is the first thing a data engineer runs against an unknown
    100 TB table, and making it a certified query keeps the profiler
    honest.

    ONE scan: a single wide aggregate computes all measures (the
    multi-COUNT(DISTINCT) expands the scan ~7× in-flight — the
    documented cost of exactness; the at-scale variant swaps in
    `approx_count_distinct` and drops the expand entirely), then a
    `stack` unpivots the one result row into the per-column report.
    Nothing after the agg exceeds 7 rows.

    Single-split inputs (the fixture is ONE row group) instead run
    each COUNT(DISTINCT) as its own crossJoined leg: the fused form
    pins the ×7 Expand and every partial aggregate to a single task
    (measured 1.5-2.1 s single-task at sf0.1 vs ~0.8 s as legs, whose
    independent stages the scheduler runs concurrently). A fan-out
    shuffle does NOT help here — moving 600k raw rows costs more than
    the single-task agg saves (measured 3.1-4.2 s). At real scale the
    scan arrives as thousands of splits and the one-pass fused form
    is strictly better, so the split count picks the plan; both forms
    compute identical exact measures.
    """
    l = _profile_source(spark, sf_dir)
    if _is_single_split(l):
        wide = l.agg(*_profile_base_aggs())
        for _, col in _PROFILE_NUM + _PROFILE_STR:
            wide = wide.crossJoin(
                l.agg(F.countDistinct(col).alias(f"{col}_nd"))
            )
    else:
        wide = l.agg(
            *_profile_base_aggs(),
            *[
                F.countDistinct(col).alias(f"{col}_nd")
                for _, col in _PROFILE_NUM + _PROFILE_STR
            ],
        )
    stacked = wide.selectExpr(
        """stack(7,
          'l_quantity', n, qty_nulls, qty_nd, qty_min, qty_max,
          'l_extendedprice', n, price_nulls, price_nd, price_min, price_max,
          'l_discount', n, disc_nulls, disc_nd, disc_min, disc_max,
          'l_tax', n, tax_nulls, tax_nd, tax_min, tax_max,
          'l_shipdate', n, ship_epoch_nulls, ship_epoch_nd,
                        ship_epoch_min, ship_epoch_max,
          'l_returnflag', n, rf_nulls, rf_nd,
                          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          'l_linestatus', n, ls_nulls, ls_nd,
                          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        ) AS (col_name, n_rows, n_nulls, n_distinct, min_v, max_v)"""
    )
    return stacked.orderBy("col_name")


# relative standard deviation for the approx profile's HLL++ sketches;
# certified bound is 5×rsd (the agg_approx_distinct_bounds pattern)
_PROFILE_RSD = 0.02


def _is_single_split(df: DataFrame) -> bool:
    """True when the input arrives with less than cluster parallelism —
    the regime where a fused single-pass profile agg pins all its
    per-row sketch/Expand work to one task. The profile queries then
    switch to independent crossJoined per-column legs (extra cheap
    passes over a page-cached split, but the scheduler runs the leg
    stages concurrently). At real scale the scan has thousands of
    splits, this returns False, and the one-pass fused form — the
    production plan — runs unchanged. Both forms compute identical
    measures (each leg is the same aggregate over the same rows), so
    the choice is invisible to the oracle."""
    return (
        df.rdd.getNumPartitions()
        < df.sparkSession.sparkContext.defaultParallelism
    )

_PROFILE_NUM = (
    ("l_quantity", "qty"),
    ("l_extendedprice", "price"),
    ("l_discount", "disc"),
    ("l_tax", "tax"),
    ("l_shipdate", "ship_epoch"),
)
_PROFILE_STR = (("l_returnflag", "rf"), ("l_linestatus", "ls"))


def _profile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projected to the profiled columns (timestamps as epoch
    seconds, the `quality_table_profile` convention)."""
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("disc"),
        F.col("l_tax").alias("tax"),
        F.unix_timestamp("l_shipdate").cast("double").alias("ship_epoch"),
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
    )


def _profile_base_aggs() -> list[Column]:
    """The measures every profile form shares, over
    :func:`_profile_source`: row count ``n``, ``<col>_nulls`` for every
    profiled column and rounded ``<col>_min`` / ``<col>_max`` for the
    numeric ones. Each form adds its distinct-count measures."""
    return [
        F.count(F.lit(1)).alias("n"),
        *[
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}_nulls")
            for _, col in _PROFILE_NUM + _PROFILE_STR
        ],
        *[
            x
            for _, col in _PROFILE_NUM
            for x in (
                half_up(F.min(col), 4).alias(f"{col}_min"),
                half_up(F.max(col), 4).alias(f"{col}_max"),
            )
        ],
    ]


def table_profile_wide_approx(l: DataFrame) -> DataFrame:
    """The AT-SCALE profiler core: ONE wide aggregate over the table
    computing row count, per-column null counts, min/max, and HLL++
    ``approx_count_distinct`` sketches — with NO Expand anywhere (the
    exact multi-``COUNT(DISTINCT)`` form plans an Expand that
    multiplies the scan ×columns in flight, the one super-constant
    data term the round-6 scaling ladder measured, e=+0.48). Partial
    sketches merge map-side like any other aggregate, so a 100 TB
    table streams through this in a single shuffle-free-until-final
    pass. This function is the production call; the certified query
    wraps it with an exactness audit.

    Single-split inputs (the one-row-group fixture) run each HLL++
    sketch as its own crossJoined leg instead: the fused form pins
    the 7-sketch update loop to ONE task (measured 2.4-3.1 s at sf0.1
    vs 0.9-1.3 s as legs — and a fan-out shuffle of the raw rows is
    NO better, 3.1-4.2 s, because moving 600k rows costs more than
    the single task saves). Per-column leg sketches are the identical
    algorithm over the identical rows, so every estimate is unchanged
    (asserted by the certified bounds audit); at real split counts
    the one-pass fused form runs unchanged."""
    if _is_single_split(l):
        wide = l.agg(*_profile_base_aggs())
        for _, col in _PROFILE_NUM + _PROFILE_STR:
            wide = wide.crossJoin(
                l.agg(
                    F.approx_count_distinct(col, rsd=_PROFILE_RSD).alias(
                        f"{col}_ad"
                    )
                )
            )
        return wide
    return l.agg(
        *_profile_base_aggs(),
        *[
            F.approx_count_distinct(col, rsd=_PROFILE_RSD).alias(f"{col}_ad")
            for _, col in _PROFILE_NUM + _PROFILE_STR
        ],
    )


@query(
    "quality_table_profile_approx",
    oracle="""
    WITH l AS (
      SELECT l_quantity AS qty, l_extendedprice AS price,
             l_discount AS disc, l_tax AS tax,
             CAST(floor(epoch(l_shipdate)) AS DOUBLE) AS ship_epoch,
             l_returnflag, l_linestatus
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(qty) AS n_nulls,
           COUNT(DISTINCT qty) AS n_distinct,
           TRUE AS nd_within_bounds,
           floor(MIN(qty) * 10000 + 0.5) / 10000 AS min_v,
           floor(MAX(qty) * 10000 + 0.5) / 10000 AS max_v
    FROM l
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(price),
           COUNT(DISTINCT price), TRUE,
           floor(MIN(price) * 10000 + 0.5) / 10000,
           floor(MAX(price) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(disc),
           COUNT(DISTINCT disc), TRUE,
           floor(MIN(disc) * 10000 + 0.5) / 10000,
           floor(MAX(disc) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(tax),
           COUNT(DISTINCT tax), TRUE,
           floor(MIN(tax) * 10000 + 0.5) / 10000,
           floor(MAX(tax) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(ship_epoch),
           COUNT(DISTINCT ship_epoch), TRUE,
           floor(MIN(ship_epoch) * 10000 + 0.5) / 10000,
           floor(MAX(ship_epoch) * 10000 + 0.5) / 10000
    FROM l
    UNION ALL
    SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
           COUNT(DISTINCT l_returnflag), TRUE, NULL, NULL
    FROM l
    UNION ALL
    SELECT 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus),
           COUNT(DISTINCT l_linestatus), TRUE, NULL, NULL
    FROM l
    ORDER BY col_name
    """,
)
def quality_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CERTIFIED at-scale table profiler — the default form of
    `quality_table_profile` (which stays registered as the opt-in
    exactness audit). The production artifact is ONE wide Expand-free
    aggregate (:func:`table_profile_wide_approx`): HLL++ sketches
    replace the 7-way exact ``COUNT(DISTINCT)`` whose Expand
    multiplied the lineitem scan ×7 in flight — the only
    super-constant data term the scaling ladder measured (e=+0.48 at
    sf0.1); with the sketch form the per-column distinct cost is a
    constant-size mergeable state, so the data exponent drops into
    the fixed-cost band.

    Certification follows the `agg_approx_distinct_bounds` pattern:
    the output carries the EXACT distinct count per column (hash-
    matched against DuckDB) plus ``nd_within_bounds`` asserting the
    sketch estimate lands within 5×rsd (rsd=0.02 → ±10%) of it — a
    sketch-quality regression hash-mismatches instead of hiding. The
    exact side is audit harness, not the production plan: it runs as
    seven SEPARATE single-distinct aggregates (each a column-pruned
    scan planning a plain two-level hash agg — still no Expand
    anywhere in the query, verified in PLANS.md), so certifying the
    profiler never re-introduces the expand it removes. At 100 TB you
    run the wide agg alone; the audit needs only a sampled or
    lower-SF slice to keep the sketches honest.
    """
    l = _profile_source(spark, sf_dir)
    if _is_single_split(l):
        # Single-split regime: the sketch AND its exact audit come from
        # ONE distinct pass per column. HLL++ is duplicate-insensitive
        # (register state is a max over value hashes), so
        # approx_count_distinct over distinct(col) is bit-identical to
        # the raw-row sketch, and count(col) over the same distinct set
        # IS the exact countDistinct — 7 combined legs replace the 14
        # separate sketch + exact legs (measured 2.2 → 1.3 s at sf0.1;
        # estimates verified value-identical per column).
        row = l.agg(*_profile_base_aggs())
        for _, col in _PROFILE_NUM + _PROFILE_STR:
            d = l.select(col).distinct()
            row = row.crossJoin(
                d.agg(
                    F.count(col).cast("long").alias(f"{col}_nd"),
                    F.approx_count_distinct(col, rsd=_PROFILE_RSD).alias(
                        f"{col}_ad"
                    ),
                )
            )
    else:
        # Production regime: the fused one-pass sketch aggregate is the
        # at-scale artifact; the exact audit runs as separate
        # single-distinct legs (no Expand anywhere).
        wide = table_profile_wide_approx(l)
        exact = None
        for _, col in _PROFILE_NUM + _PROFILE_STR:
            e = l.agg(F.countDistinct(col).alias(f"{col}_nd"))
            exact = e if exact is None else exact.crossJoin(e)
        row = wide.crossJoin(exact)
    stacked = row.selectExpr(
        """stack(7,
          'l_quantity', n, qty_nulls, qty_nd, qty_ad, qty_min, qty_max,
          'l_extendedprice', n, price_nulls, price_nd, price_ad,
                             price_min, price_max,
          'l_discount', n, disc_nulls, disc_nd, disc_ad, disc_min, disc_max,
          'l_tax', n, tax_nulls, tax_nd, tax_ad, tax_min, tax_max,
          'l_shipdate', n, ship_epoch_nulls, ship_epoch_nd, ship_epoch_ad,
                        ship_epoch_min, ship_epoch_max,
          'l_returnflag', n, rf_nulls, rf_nd, rf_ad,
                          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          'l_linestatus', n, ls_nulls, ls_nd, ls_ad,
                          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        ) AS (col_name, n_rows, n_nulls, n_distinct, _nd_approx, min_v, max_v)"""
    )
    return stacked.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        (
            F.abs(F.col("_nd_approx") - F.col("n_distinct"))
            <= 5 * _PROFILE_RSD * F.col("n_distinct")
        ).alias("nd_within_bounds"),
        "min_v",
        "max_v",
    ).orderBy("col_name")


@query(
    "quality_psi_drift",
    oracle="""
    WITH t AS (
      SELECT (CAST(floor(MIN(epoch(ts))) AS BIGINT)
              + CAST(floor(MAX(epoch(ts))) AS BIGINT)) // 2 AS mid
      FROM events
    ),
    r AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY 1
      HAVING MAX(value) > MIN(value)
    ),
    e AS (
      SELECT ev.event_type,
             CASE WHEN floor(epoch(ev.ts)) < mid THEN 0 ELSE 1 END AS half,
             CAST(LEAST(9, floor((ev.value - vmin) * 10 / (vmax - vmin)))
                  AS BIGINT) AS bin
      FROM events ev JOIN r USING (event_type), t
    ),
    c AS (
      SELECT event_type, bin,
             CAST(COUNT(*) FILTER (half = 0) AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (half = 1) AS BIGINT) AS n_b
      FROM e GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS ta,
             CAST(SUM(n_b) AS BIGINT) AS tb
      FROM c GROUP BY 1
    )
    SELECT c.event_type, ta AS n_first_half, tb AS n_second_half,
           floor(SUM(((n_a + 1.0) / (ta + 10.0) - (n_b + 1.0) / (tb + 10.0))
                     * ln(((n_a + 1.0) / (ta + 10.0))
                          / ((n_b + 1.0) / (tb + 10.0))))
                 * 10000 + 0.5) / 10000 AS psi_r4
    FROM c JOIN tot USING (event_type)
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event timeline, per event type — THE production drift metric
    a feature store pages on (rule of thumb: PSI < 0.1 stable, > 0.25
    retrain). Values are histogrammed into 10 equal-width bins over
    the type's full range; both halves share the SAME edges (the
    property that makes PSI comparable run-over-run), and bin shares
    are Laplace-smoothed ((n+1)/(tot+10)) so an empty bin contributes
    a finite term instead of ln(0) — also what keeps ANSI-mode Spark
    from ever seeing a 0-denominator. Complements the KS statistic
    (`agg_ks_drift_halves`): KS detects shape shift on the ECDF, PSI
    weights WHERE the mass moved and is additive over bins.

    One metadata agg over events (per-type value range AND epoch
    bounds in the same map-side-combinable pass; the global timeline
    midpoint derives from the per-type bounds on the 5-row result —
    min-of-mins/max-of-maxes), then ONE pass into the (type, half,
    bin) grid and two grid-sized rollups — two |events|-scale scans
    total, both broadcast-fed. The timeline split is integer epoch
    arithmetic (`unix_timestamp` truncation = oracle's floor(epoch)).
    Degenerate constant-valued types are dropped by the range guard
    on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.unix_timestamp(F.min("ts")).alias("min_ep"),
        F.unix_timestamp(F.max("ts")).alias("max_ep"),
    )
    t = stats.agg(
        F.expr(
            "(CAST(min(min_ep) AS BIGINT) + CAST(max(max_ep) AS BIGINT))"
            " div 2"
        ).alias("mid")
    )
    r = stats.select("event_type", "vmin", "vmax").filter(
        F.col("vmax") > F.col("vmin")
    )
    binned = (
        e.join(F.broadcast(r), "event_type")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.when(F.unix_timestamp("ts") < F.col("mid"), 0)
            .otherwise(1)
            .alias("half"),
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * 10
                    / (F.col("vmax") - F.col("vmin"))
                ),
            )
            .cast("long")
            .alias("bin"),
        )
    )
    c = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = c.groupBy("event_type").agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    pa = (F.col("n_a") + 1.0) / (F.col("ta") + 10.0)
    pb = (F.col("n_b") + 1.0) / (F.col("tb") + 10.0)
    return (
        c.join(F.broadcast(tot), "event_type")
        .groupBy(
            "event_type",
            F.col("ta").alias("n_first_half"),
            F.col("tb").alias("n_second_half"),
        )
        .agg(half_up(F.sum((pa - pb) * F.log(pa / pb)), 4).alias("psi_r4"))
        .orderBy("event_type")
    )


# composed drift gate: needs both member oracles registered
from . import stats as _stats  # noqa: E402  (registers agg_ks_drift_halves)
from .registry import ORACLE as _ORACLE  # noqa: E402

_KS_CRIT = "1.628 * sqrt((n_a + n_b) / (1.0 * n_a * n_b))"


@query(
    "pipeline_drift_gate",
    oracle=f"""
    SELECT p.event_type, p.psi_r4, k.ks_d,
           floor({_KS_CRIT} * 1000000 + 0.5) / 1000000 AS ks_crit,
           CASE WHEN p.psi_r4 >= 0.25 OR k.ks_d > {_KS_CRIT} THEN 'hold'
                WHEN p.psi_r4 >= 0.1 THEN 'watch'
                ELSE 'ship' END AS verdict
    FROM ({{psi}}) p
    JOIN ({{ks}}) k USING (event_type)
    ORDER BY p.event_type
    """.format(
        psi=_ORACLE["quality_psi_drift"], ks=_ORACLE["agg_ks_drift_halves"]
    ),
)
def pipeline_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift DECISION, not just the drift numbers: per event
    type, the PSI (where the mass moved) and the KS statistic (how
    far the ECDFs separate) combine into a ship / watch / hold
    verdict — `hold` when PSI crosses the industry retrain threshold
    (0.25) or KS-D exceeds its α=0.01 critical value
    1.628·√((n_a+n_b)/(n_a·n_b)), `watch` in the PSI 0.1–0.25 band,
    `ship` otherwise. This is the artifact a nightly data-quality run
    actually publishes: both member statistics are themselves
    certified queries, and the gate is one 5-row join + CASE on top,
    so the whole decision lineage is oracle-checked end to end
    (composed-pipeline pattern of `pipeline_training_export`).

    The KS critical value is the same IEEE double expression on both
    engines (sqrt of a ratio of exact counts); the verdict compares
    the ALREADY-ROUNDED member statistics, so no new float surface is
    introduced. Cost: the two member plans (each two |events|-scale
    scans, broadcast-fed) plus a 5-row join — nothing new moves at
    100 TB.
    """
    from .stats import agg_ks_drift_halves

    p = quality_psi_drift(spark, sf_dir).select("event_type", "psi_r4")
    k = agg_ks_drift_halves(spark, sf_dir).select(
        "event_type", "n_a", "n_b", "ks_d"
    )
    crit = F.expr(_KS_CRIT)
    return (
        p.join(k, "event_type")
        .select(
            "event_type",
            "psi_r4",
            "ks_d",
            half_up(crit, 6).alias("ks_crit"),
            F.when(
                (F.col("psi_r4") >= 0.25) | (F.col("ks_d") > crit), "hold"
            )
            .when(F.col("psi_r4") >= 0.1, "watch")
            .otherwise("ship")
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@query(
    "quality_order_total_consistency",
    oracle="""
    WITH re AS (
      SELECT l_orderkey,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                 * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS sc
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderstatus,
             re.sc,
             re.sc - CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000
               AS diff_units
      FROM orders o LEFT JOIN re ON o.o_orderkey = re.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT)                       AS n_orders,
           CAST(COUNT(sc) AS BIGINT)                      AS n_with_lineitems,
           CAST(SUM(CASE WHEN ABS(diff_units) > 10000
                         THEN 1 ELSE 0 END) AS BIGINT)    AS n_mismatch,
           ROUND(MAX(ABS(diff_units)) / 1000000.0, 2)     AS max_abs_diff
    FROM j GROUP BY o_orderstatus
    """,
)
def quality_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table invariant audit: does ``o_totalprice`` equal the
    total recomputed from its lineitems as Σ extendedprice·(1−discount)
    ·(1+tax)? The denormalized-column drift check every warehouse runs
    after ingest — per order status it reports order counts, how many
    orders have lineitems at all, how many disagree beyond a cent, and
    the worst absolute drift in dollars. (The synthetic tables are
    deliberately NOT consistent — the audit's job is to measure that,
    deterministically.)

    Scale shape: one map-side-combinable hash-agg over lineitem into
    |orders| rows, one shuffle join to orders on the key, then a
    |status|-sized conditional agg. No window, no driver collect.

    Float discipline: all arithmetic is EXACT INTEGER in
    cents×pct×pct units (scale 1e6; the ``functions.money`` grid
    argument) — per-order sums, the diff, the >1-cent predicate, and
    the max are int64 ops on both engines; only the final max divides
    back to dollars, an identical IEEE op either side."""
    li = load_table(spark, sf_dir, "lineitem")
    re = li.groupBy("l_orderkey").agg(
        F.sum(
            cents("l_extendedprice")
            * (100 - pct100("l_discount"))
            * (100 + pct100("l_tax"))
        ).alias("sc")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (cents("o_totalprice") * 10_000).alias("osc"),
    )
    diff = F.col("sc") - F.col("osc")
    return (
        o.join(re, o["o_orderkey"] == re["l_orderkey"], "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("sc").alias("n_with_lineitems"),
            F.sum(
                F.when(F.abs(diff) > 10_000, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_mismatch"),
            F.round(F.max(F.abs(diff)) / 1_000_000.0, 2).alias("max_abs_diff"),
        )
    )


@query(
    "quality_referential_integrity_audit",
    oracle="""
    WITH fk AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk_name, l_orderkey AS k
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_partkey->part', l_partkey FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier', l_suppkey FROM lineitem
      UNION ALL
      SELECT 'orders.o_custkey->customer', o_custkey FROM orders
      UNION ALL
      SELECT 'customer.c_nationkey->nation', c_nationkey FROM customer
      UNION ALL
      SELECT 'supplier.s_nationkey->nation', s_nationkey FROM supplier
    ),
    pk AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk_name, o_orderkey AS k
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_partkey->part', p_partkey FROM part
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier', s_suppkey FROM supplier
      UNION ALL
      SELECT 'orders.o_custkey->customer', c_custkey FROM customer
      UNION ALL
      SELECT 'customer.c_nationkey->nation', n_nationkey FROM nation
      UNION ALL
      SELECT 'supplier.s_nationkey->nation', n_nationkey FROM nation
    ),
    ck AS (
      SELECT fk_name, k, CAST(COUNT(*) AS BIGINT) AS n
      FROM fk GROUP BY fk_name, k
    ),
    o AS (
      SELECT ck.fk_name,
             CAST(SUM(ck.n) AS BIGINT)  AS n_rows,
             CAST(COUNT(*) AS BIGINT)   AS n_keys,
             CAST(SUM(CASE WHEN pk.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS orphan_keys,
             CAST(SUM(CASE WHEN pk.k IS NULL THEN ck.n ELSE 0 END) AS BIGINT)
               AS orphan_rows
      FROM ck LEFT JOIN pk ON pk.fk_name = ck.fk_name AND pk.k = ck.k
      GROUP BY ck.fk_name
    )
    SELECT fk_name, n_rows, n_keys, orphan_keys, orphan_rows,
           (10000 * orphan_rows) // n_rows AS orphan_rows_bp
    FROM o
    """,
)
def quality_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Foreign-key orphan audit across every FK edge of the star
    schema in ONE report: per edge, child rows, distinct child keys,
    keys/rows with no matching parent, and the orphan rate in basis
    points. The first query a warehouse runs after any ingest — a
    nonzero row here means downstream inner joins are silently
    DROPPING facts (the classic revenue-undercount bug).

    Scale shape: each child collapses to its distinct-key histogram
    first (map-side combinable; orphan ROWS are recovered from the
    per-key counts, so the wide fact table never reaches the join),
    then one hash left-join per edge against the parent's key column
    and a 6-row conditional agg. Constant output. At 100 TB each edge
    is an independent branch — Spark schedules them in parallel.

    Float discipline: none — counts and floor basis points, exact
    int64 end to end."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
         "nation", "n_nationkey"),
    ]
    out = None
    for fk_name, child, ckey, parent, pkey in edges:
        ck = (
            load_table(spark, sf_dir, child)
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        pk = load_table(spark, sf_dir, parent).select(
            F.col(pkey).alias("k"), F.lit(1).alias("present")
        )
        branch = (
            ck.join(pk, "k", "left")
            .agg(
                F.lit(fk_name).alias("fk_name"),
                F.sum("n").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum(
                    F.when(F.col("present").isNull(), F.lit(1)).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("orphan_keys"),
                F.sum(
                    F.when(F.col("present").isNull(), F.col("n")).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("orphan_rows"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out.select(
        "fk_name",
        "n_rows",
        "n_keys",
        "orphan_keys",
        "orphan_rows",
        F.expr("(10000 * orphan_rows) div n_rows").alias("orphan_rows_bp"),
    )


# PII patterns shared verbatim by both engines (Java regex and RE2
# agree on this conservative subset: explicit classes, bounded braces,
# \b word boundaries — no lookaround, no backrefs).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


@query(
    "quality_pii_scan",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text, '{_PII_EMAIL}'))  AS n_email,
             len(regexp_extract_all(text, '{_PII_PHONE}'))  AS n_phone
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(n_email) AS BIGINT)                      AS emails_total,
           CAST(SUM(n_phone) AS BIGINT)                      AS phones_total,
           CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_email,
           CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_phone,
           (10000 * CAST(SUM(CASE WHEN n_email > 0 OR n_phone > 0
                                  THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*)
             AS pii_docs_bp
    FROM d GROUP BY source
    """,
)
def quality_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure scan per source — the redaction-gate input every
    training-data pipeline runs before release: email-address and
    NANP-style phone-number match counts, documents containing each,
    and the share of documents carrying ANY hit in basis points. The
    patterns are deliberately a conservative, engine-portable regex
    subset (explicit classes, bounded quantifiers, word boundaries;
    no lookaround) so the SAME pattern string runs on Java regex and
    RE2 with identical matches — a scrubber whose detector disagrees
    with its auditor redacts the wrong documents.

    Scale shape: one regexp pass per document inside whole-stage
    codegen (``regexp_count`` — no Python, no explode of match
    arrays), collapsing immediately to per-doc ints, then one
    |sources|-row hash-agg. The redaction pass itself would be the
    same scan shape with ``regexp_replace``.

    Float discipline: none — counts and floor basis points."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            f"regexp_count(text, '{_PII_EMAIL}')".replace("\\", "\\\\")
        ).alias("n_email"),
        F.expr(
            f"regexp_count(text, '{_PII_PHONE}')".replace("\\", "\\\\")
        ).alias("n_phone"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails_total"),
        F.sum("n_phone").cast("long").alias("phones_total"),
        F.sum(F.when(F.col("n_email") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_email"),
        F.sum(F.when(F.col("n_phone") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_phone"),
        F.expr(
            "(10000 * sum(CASE WHEN n_email > 0 OR n_phone > 0 "
            "THEN 1 ELSE 0 END)) div count(1)"
        ).alias("pii_docs_bp"),
    )


# 13-gram decontamination is the published convention (GPT-3 appendix C
# used 13-grams; The Pile and most open pipelines use 8-13); 8 keeps
# the fixture's 20-80-token docs contaminable while staying well past
# accidental-phrase length.
DECON_K = 8

_DECON_GRAM_SQL = (
    f"list_transform(range(len(toks) - {DECON_K - 1}), i -> "
    + " || ' ' || ".join(f"toks[i+{j + 1}]" for j in range(DECON_K))
    + ")"
)


@query(
    "pipeline_train_decontamination",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, source, lang, text,
             CASE WHEN {_SPLIT_BKT_SQL} < 80 THEN 'train'
                  WHEN {_SPLIT_BKT_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    eval_g AS (
      SELECT DISTINCT md5(unnest({_DECON_GRAM_SQL})) AS gh
      FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tagged WHERE split <> 'train') x
    ),
    train_g AS (
      SELECT DISTINCT doc_id, md5(unnest({_DECON_GRAM_SQL})) AS gh
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tagged WHERE split = 'train') x
    ),
    dirty AS (
      SELECT DISTINCT t.doc_id FROM train_g t JOIN eval_g e USING (gh)
    )
    SELECT t.doc_id, t.source, t.lang
    FROM tagged t
    WHERE t.split = 'train'
      AND t.doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def pipeline_train_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION of the training split — the
    GPT-3-style n-gram scrub every serious release runs: a train
    document sharing ANY {DECON_K}-token shingle with a val/test
    document is dropped, and the output IS the decontaminated training
    set (doc_id, source, lang) a downstream mix job consumes. The
    complement of `quality_split_leakage_audit` (which COUNTS
    template-level leaks): this produces the cleaned deliverable at
    n-gram resolution, catching partial overlaps template prefixes
    miss. Splits are the repo's deterministic 80/10/10 content-hash
    assignment (`sample_train_val_test`), so the scrub certifies the
    published split convention.

    Scale shape: both sides tokenize once and explode to per-doc
    DISTINCT {DECON_K}-gram MD5s (`array_distinct` BEFORE the explode
    — narrow, no within-doc duplicate ever shuffles); the contamination
    probe is ONE equi-join on the 16-byte digest — raw n-grams never
    shuffle — between the train grams and the ~20%-sized DISTINCT eval
    gram set, collapsing straight to a distinct doc_id anti-join list.
    At 100 TB the eval gram set is small enough to broadcast and the
    probe becomes shuffle-free; the fixture-scale plan keeps the
    hash-join form the optimizer picks from stats. Docs shorter than
    {DECON_K} tokens produce no shingles and pass the scrub by
    construction (document-level exact dedup is `dedup_exact_by_hash`'s
    job).

    Reference basis: the reference repo has no text analytics; this is
    contract-driven (SURVEY §2.10 training-data pipeline family).
    """
    from ..functions.texttools import word_shingles
    from ._shared import fan_out

    d = load_table(spark, sf_dir, "documents")
    bkt = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise(F.lit("test"))
    )
    tagged = d.select("doc_id", "source", "lang", "text", split.alias("split"))
    # word_shingles' lookahead regex needs single-space separation;
    # collapse space runs + trim so a doubled-space doc shingles the
    # same FILTERED token stream the oracle builds (a missed overlap
    # here silently ships a contaminated doc — ADVICE round 8).
    norm = F.trim(F.regexp_replace(F.col("text"), " +", " "))
    grams = F.explode(F.array_distinct(word_shingles(norm, k=DECON_K)))
    eval_g = (
        fan_out(tagged.filter(F.col("split") != "train"), spark)
        .select(grams.alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    train_g = fan_out(tagged.filter(F.col("split") == "train"), spark).select(
        "doc_id", grams.alias("g")
    ).select("doc_id", F.md5("g").alias("gh"))
    dirty = train_g.join(eval_g, "gh").select("doc_id").distinct()
    return (
        tagged.filter(F.col("split") == "train")
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "source", "lang")
    )


@query(
    "quality_dup_conflicting_metadata",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS groups_lang_conflict,
           CAST(COALESCE(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS groups_source_conflict,
           CAST(COALESCE(SUM(CASE WHEN n_langs > 1 THEN n_copies ELSE 0 END),
                         0) AS BIGINT) AS docs_lang_conflict
    FROM g
    """,
)
def quality_dup_conflicting_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-consistency audit over EXACT duplicate groups: when
    byte-identical texts carry different ``lang`` or ``source``
    labels, at least one label is wrong — the language-ID or
    provenance bug report that exact dedup surfaces for free (the
    canonical-survivor rule silently picks ONE of the conflicting
    labels, so an unaudited conflict becomes silent label corruption
    downstream). Counts conflicted groups per axis plus the affected
    doc volume.

    Scale shape: the `dedup_exact_by_hash` shuffle — 16-byte digests
    group, text never moves — with two COUNT(DISTINCT label) terms
    over low-cardinality columns folded into the same hash-agg, then
    a 1-row summary.

    Reference basis: none; contract quality family (SURVEY §2.10),
    the metadata arm of F8 exact dedup."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_copies") > 1)
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_langs") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("groups_lang_conflict"),
        F.coalesce(
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("groups_source_conflict"),
        F.coalesce(
            F.sum(
                F.when(F.col("n_langs") > 1, F.col("n_copies")).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("docs_lang_conflict"),
    )


@query(
    "quality_split_balance_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN {_SPLIT_BKT_SQL} < 80 THEN 'train'
                  WHEN {_SPLIT_BKT_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    g AS (
      SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM tagged GROUP BY lang, split
    ),
    tot AS (
      SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
      FROM g GROUP BY lang
    )
    SELECT g.lang, g.split, g.n_docs,
           CAST((1000000 * g.n_docs) // tot.lang_total AS BIGINT)
             AS share_ppm,
           CAST(CASE g.split WHEN 'train' THEN 800000
                             WHEN 'val' THEN 100000
                             ELSE 100000 END AS BIGINT) AS expected_ppm,
           CAST(ABS((1000000 * g.n_docs) // tot.lang_total
                    - CASE g.split WHEN 'train' THEN 800000
                                   WHEN 'val' THEN 100000
                                   ELSE 100000 END) AS BIGINT)
             AS abs_dev_ppm
    FROM g JOIN tot USING (lang)
    """,
)
def quality_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the deterministic 80/10/10 content-hash split BALANCED within
    every language? — the stratification audit a release runs before
    trusting per-language eval numbers: the split rule hashes doc_id
    (not lang), so per-language proportions are only statistically
    80/10/10, and a language with few documents can land with an empty
    or bloated eval slice that silently distorts its metrics. One row
    per (lang, split) with the exact ppm share, the expected ppm, and
    the absolute deviation — a release gate thresholds max(abs_dev_ppm)
    per language against its doc count.

    The split is the SAME md5-bucket rule `sample_train_val_test` and
    `pipeline_train_decontamination` certify, so this audit certifies
    the published convention's balance, not a reimplementation's.

    Scale shape: one map-side-combinable (lang, split) count, a
    |langs|-row rollup, one broadcast-sized join back — no data-sized
    state after the first agg.

    Reference basis: none; contract training-data-pipeline family
    (SURVEY §2.10), the stratification sibling of
    `quality_split_leakage_audit` (content leaks) and
    `pipeline_train_decontamination` (n-gram leaks)."""
    from .sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    bkt = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise(F.lit("test"))
    )
    g = (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = g.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("lang_total")
    )
    expected = (
        F.when(F.col("split") == "train", 800000)
        .otherwise(100000)
        .cast("long")
    )
    j = g.join(F.broadcast(tot), "lang").withColumn(
        "share_ppm",
        F.expr("CAST((1000000 * n_docs) div lang_total AS BIGINT)"),
    )
    return j.select(
        "lang",
        "split",
        "n_docs",
        "share_ppm",
        expected.alias("expected_ppm"),
        F.abs(F.col("share_ppm") - expected).cast("long").alias("abs_dev_ppm"),
    )
