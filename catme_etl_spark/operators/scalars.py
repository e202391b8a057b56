"""Scalar function surface (SURVEY §2.10 F1–F6): string, date/time,
math, array, map/JSON, conditional/null functions.

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
inside whole-stage codegen; no Python UDFs anywhere on this path.

Cross-engine hash-stability notes (vs the DuckDB oracle):
- doubles produced by libm (sqrt/ln/exp) are rounded to 6 decimals —
  identical inputs can differ by 1 ulp across math libraries;
- day-of-week aligned to DuckDB's 0=Sunday convention;
- timestamps stringified with date_format/strftime (tz-naive text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_mktsegment)                          AS seg_upper,
           LOWER(c_name)                                AS name_lower,
           SUBSTRING(c_name, 1, 8)                      AS name_prefix,
           LENGTH(c_name)                               AS name_len,
           REPLACE(c_name, 'Customer', 'Cust')          AS name_short,
           CONCAT_WS('|', c_name, c_mktsegment)         AS name_seg,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1)        AS name_digits,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0')    AS key_padded,
           REVERSE(c_mktsegment)                        AS seg_rev,
           STRPOS(c_name, '#')                          AS hash_pos
    FROM customer
    WHERE c_name LIKE 'Customer#%'
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (F1): case, trim, substring, concat_ws, regexp extract/replace, split, length, LIKE."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").like("Customer#%")).select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name_seg"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.instr("c_name", "#").cast("long").alias("hash_pos"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)                         AS yr,
           CAST(month(o_orderdate) AS BIGINT)                        AS mo,
           CAST(day(o_orderdate) AS BIGINT)                          AS dom,
           CAST(dayofweek(o_orderdate) AS BIGINT)                    AS dow_sun0,
           STRFTIME(date_trunc('month', o_orderdate), '%Y-%m-%d')    AS month_start,
           STRFTIME(last_day(o_orderdate), '%Y-%m-%d')               AS month_end,
           DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate)     AS days_since_epoch_95,
           STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')       AS due_date,
           CAST(epoch(o_orderdate) AS BIGINT)                        AS epoch_s
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions (F2): trunc, datediff, year/month/dow, unix epoch round-trips."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.month(d).cast("long").alias("mo"),
        F.dayofmonth(d).cast("long").alias("dom"),
        # Spark: 1=Sunday..7 → align to DuckDB 0=Sunday..6
        (F.dayofweek(d) - 1).cast("long").alias("dow_sun0"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_95"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.unix_timestamp(d).alias("epoch_s"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25)                    AS abs_dev,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
           CAST(CEIL(l_extendedprice / 1000) AS BIGINT)  AS price_k_ceil,
           ROUND(SQRT(l_quantity), 6)              AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6)           AS price_ln,
           ROUND(LOG10(l_extendedprice), 6)        AS price_log10,
           ROUND(POWER(l_quantity, 2), 1)          AS qty_sq,
           ROUND(EXP(l_discount), 6)               AS disc_exp,
           CAST(l_orderkey % 7 AS BIGINT)          AS key_mod7
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions (F3): round/abs/floor/ceil/pow/sqrt/log on money and quantity grids."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k_floor"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_k_ceil"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 1).alias("qty_sq"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding)                                        AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0          AS e0,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sumsq,
           ROUND(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS emax,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
    FROM embeddings
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array kernel ops over array<float> embeddings — size, index,
    higher-order transform/aggregate/filter. These stay JVM-side
    (no UDF) and sum left-to-right, matching DuckDB's list_sum order."""
    emb = load_table(spark, sf_dir, "embeddings")
    x_d = lambda x: x.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        F.size("embedding").cast("integer").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x_d(x) * x_d(x),
            ),
            4,
        ).alias("sumsq"),
        F.round(F.array_max(F.transform("embedding", x_d)), 4).alias("emax"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
    )


@query(
    "scalar_array_posexplode",
    oracle="""
    SELECT vec_id, i AS pos,
           ROUND(CAST(embedding[i + 1] AS DOUBLE), 4) AS val
    FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
    WHERE vec_id < 5
    """,
)
def scalar_array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (F4): array → (pos, value) rows, the lateral-view expansion."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return emb.select("vec_id", F.posexplode("embedding").alias("pos", "v")).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("v").cast("double"), 4).alias("val"),
    )


@query(
    "scalar_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def scalar_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column access (events.props): parse once with from_json
    into a typed struct — at scale this beats repeated get_json_object
    string scans, and the parsed struct prunes to just the used field."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("p", F.from_json("props", "k INT"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("p.k")).cast("long").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "scalar_json_get_object",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE event_id % 20 = 0
    """,
)
def scalar_json_get_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object / json path extraction (F5) from the events.props JSON string."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "scalar_conditional_null",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 8000 THEN 'mid'
                ELSE 'high' END                         AS bal_bucket,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'n/a') AS seg_or_na,
           CAST(c_acctbal IS NULL AS BOOLEAN)           AS bal_is_null
    FROM customer
    """,
)
def scalar_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null functions (F6): when/otherwise, coalesce, nullif, isnull over order attributes."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 8000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("n/a")).alias(
            "seg_or_na"
        ),
        F.isnull("c_acctbal").alias("bal_is_null"),
    )


@query(
    "scalar_variant_props",
    oracle="""
    SELECT event_type,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS max_k,
           CAST(COUNT(*) FILTER (json_extract_string(props, '$.k') IS NOT NULL)
                AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def scalar_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT column (Spark 4, F5 modernized):
    ``parse_json`` builds a binary variant once per row and
    ``variant_get`` extracts typed paths without a fixed schema — the
    open-schema alternative to ``from_json(schema)`` when event
    payloads drift. Parsing happens map-side in one scan; the shuffle
    carries only the extracted int."""
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


@query(
    "scalar_url_parse_funcs",
    oracle="""
    SELECT event_id,
           'shop.example.com' AS host,
           '/' || event_type || '/' || CAST(event_id % 10 AS VARCHAR) AS path,
           CAST(user_id AS VARCHAR) AS q_user
    FROM events
    WHERE event_type = 'click' AND event_id % 7 = 0
    """,
)
def scalar_url_parse_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via ``parse_url`` (HOST / PATH / QUERY-param
    extraction — the log-sessionization scalar family). The URLs are
    synthesized from event columns so the oracle can state the expected
    parts by CONSTRUCTION (DuckDB has no parse_url) — the check proves
    Spark's parser inverts the construction exactly. All JVM built-ins,
    codegen-friendly, no regex UDFs."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 7 == 0)
    )
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.col("event_type"),
        F.lit("/"),
        (F.col("event_id") % 10).cast("string"),
        F.lit("?user="),
        F.col("user_id").cast("string"),
        F.lit("&v=1"),
    )
    u = e.select("event_id", url.alias("url"))
    return u.select(
        "event_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("user")).alias("q_user"),
    )


@query(
    "scalar_bitwise_funcs",
    oracle="""
    SELECT event_id,
           event_id & 255 AS lo_byte,
           CAST(xor(event_id, 4095) AS BIGINT) AS xored,
           ((event_id & 1152921504606846975) << 3) | 5 AS shifted_or,
           event_id >> 4 AS shr,
           CAST(bit_count(event_id) AS BIGINT) AS popcount
    FROM events
    WHERE event_id % 37 = 0 AND event_id >= 0
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar coverage (F3 family): AND/XOR/OR, shifts, and
    popcount over int64 ids — the ops every hash/partition/bitmap
    trick in this repo leans on, certified directly. Pure codegen'd
    JVM expressions; the filter prunes at the scan.

    Domain discipline: ids are masked to 60 bits before the left
    shift (Spark's shiftleft wraps silently on int64 overflow while
    DuckDB's << differs out of range) and the query asserts the
    non-negative id domain in its filter (% and >> diverge
    cross-engine for negative operands)."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") % 37 == 0) & (F.col("event_id") >= 0)
    )
    return e.select(
        "event_id",
        F.expr("event_id & CAST(255 AS BIGINT)").alias("lo_byte"),
        F.expr("event_id ^ CAST(4095 AS BIGINT)").alias("xored"),
        F.expr(
            "shiftleft(event_id & CAST(1152921504606846975 AS BIGINT), 3)"
            " | CAST(5 AS BIGINT)"
        ).alias("shifted_or"),
        F.expr("shiftright(event_id, 4)").alias("shr"),
        F.expr("bit_count(event_id)").cast("long").alias("popcount"),
    )


@query(
    "scalar_url_canonicalize_dedup",
    oracle="""
    WITH u AS (
      SELECT event_type, event_id, user_id FROM events
      WHERE event_type IN ('click', 'view')
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_raw_distinct,
           CAST(COUNT(DISTINCT (event_id % 5, user_id)) AS BIGINT)
             AS n_canonical_distinct
    FROM u GROUP BY event_type
    """,
)
def scalar_url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization → dedup — the first stage of every web-
    corpus pipeline: strip tracking params (utm_*, per-hit session
    ids), lowercase the host, drop the fragment, THEN count distinct.
    URLs are synthesized from event columns with a unique per-hit
    `sid` param and a mixed-case host, so the oracle can state both
    cardinalities BY CONSTRUCTION: raw distinct = one per event (the
    sid makes every URL unique), canonical distinct = distinct
    (path-digit, user) pairs — the check proves Spark's parse_url-
    based canonicalizer inverts the construction exactly.

    All JVM built-ins (concat/parse_url/lower) inside whole-stage
    codegen; the distinct-count is the standard two-phase expand — no
    UDFs, no regex backtracking on the hot path.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    url = F.concat(
        F.lit("https://Shop.Example.com/"),
        F.col("event_type"),
        F.lit("/"),
        (F.col("event_id") % 5).cast("string"),
        F.lit("?utm_source=mail&user="),
        F.col("user_id").cast("string"),
        F.lit("&sid="),
        F.col("event_id").cast("string"),
        F.lit("#frag"),
    )
    u = e.select("event_type", url.alias("url"))
    canon = F.concat(
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.parse_url("url", F.lit("PATH")),
        F.lit("?user="),
        F.parse_url("url", F.lit("QUERY"), F.lit("user")),
    )
    return u.select("event_type", "url", canon.alias("canon")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("url").alias("n_raw_distinct"),
        F.countDistinct("canon").alias("n_canonical_distinct"),
    )
