"""Text analysis operators over the ``documents`` table (SURVEY §2.10
F11; driver contract "text analysis"): token statistics, quality
scoring, language-ID heuristic, fingerprinting, n-gram top-k.

All pure built-in column expressions — a 100 TB corpus streams through
these scan-shaped (narrow) plans with no shuffle except the final
aggregations, and the fingerprint/quality passes are single-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import half_up
from ..functions.texttools import sql_hex_long, tokens, word_shingles
from ..sources.tables import load_table
from .registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           LENGTH(text)                                   AS n_chars_actual,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)   AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), t -> t <> '')), 4)       AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (F11): counts, distinct counts, and length checks from one narrow tokenize pass."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''),
                  x -> x IN ('the', 'a'))) AS BIGINT)     AS n_stop,
             LENGTH(text)                                 AS n_chars
      FROM documents
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4)  AS distinct_ratio,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4)      AS stopword_ratio,
           CASE WHEN n_tokens BETWEEN 20 AND 80
                 AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.25
                THEN 1 ELSE 0 END                           AS passes_quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio / lexical-diversity quality gate — the
    standard cheap pre-filter of an LLM data pipeline."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    t = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("long").alias("n_stop"),
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return t.select(
        "doc_id",
        "n_tokens",
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(F.col("n_stop").cast("double") / F.col("n_tokens"), 4).alias(
            "stopword_ratio"
        ),
        F.when(
            F.col("n_tokens").between(20, 80) & (distinct_ratio > 0.25), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("passes_quality"),
    )


# Marker wordlists for the language-ID heuristic. The synthetic corpus
# shares one vocabulary across langs, so this demonstrates the scoring
# mechanics (per-language marker hit-rate + deterministic argmax), not
# linguistic accuracy.
_LANG_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("table", "window", "batch"),
    "fr": ("value", "merge", "line"),
    "es": ("row", "scan", "sort"),
    "zh": ("hash", "key", "join"),
}


def _lang_scores_sql() -> str:
    parts = [
        (
            f"ROUND(CAST(len(list_filter(list_filter(string_split(text,' '), t -> t <> ''), x -> x IN "
            f"({', '.join(repr(w) for w in ws)}))) AS DOUBLE)"
            f" / len(list_filter(string_split(text,' '), t -> t <> '')), 6) AS score_{lang}"
        )
        for lang, ws in _LANG_MARKERS.items()
    ]
    return ",\n           ".join(parts)


@query(
    "text_language_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
           {_lang_scores_sql()}
      FROM documents
    )
    SELECT doc_id, lang AS lang_label,
           CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
                WHEN score_en THEN 'en' WHEN score_de THEN 'de'
                WHEN score_fr THEN 'fr' WHEN score_es THEN 'es'
                ELSE 'zh' END AS lang_pred,
           score_en, score_de, score_fr, score_es, score_zh
    FROM s
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score = marker hit-rate per language,
    prediction = argmax with fixed precedence (en,de,fr,es,zh)."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")

    def _marker_pred(ws):
        # factory keeps the lambda single-argument — a `ws=ws` default
        # would make PySpark's arity sniffing pass a second lambda var
        return lambda x: x.isin(*ws)

    scores = {
        lang: F.round(
            F.size(F.filter(toks, _marker_pred(ws))).cast("double") / F.size(toks),
            6,
        )
        for lang, ws in _LANG_MARKERS.items()
    }
    d2 = d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in ("de", "fr", "es"):
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    pred = pred.otherwise("zh")
    return d2.select(
        "doc_id",
        "lang_label",
        pred.alias("lang_pred"),
        *[f"score_{lang}" for lang in _LANG_MARKERS],
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text)))                  AS fp,
           substring(md5(lower(trim(text))), 1, 4) AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint over normalized text; the 16-bit hex prefix
    is the shard/bucket key a 100 TB dedup would shuffle on."""
    d = _docs(spark, sf_dir)
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 4).alias("fp_bucket")
    )


@query(
    "text_top_tokens",
    oracle="""
    SELECT t AS token, COUNT(*) AS n
    FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents)
    GROUP BY t
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies: tokenize → explode → count, the canonical word-count shuffle."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@query(
    "text_top_bigrams",
    oracle="""
    SELECT g AS bigram, COUNT(*) AS n
    FROM (
      SELECT unnest(list_transform(range(len(toks) - 1),
                    i -> toks[i+1] || ' ' || toks[i+2])) AS g
      FROM (SELECT string_split(text, ' ') AS toks FROM documents) x
    )
    GROUP BY g
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top bigrams: adjacent-token pairs via array zip, exploded and counted — one shuffle on the bigram."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(word_shingles("text", k=2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@query(
    "corpus_clean_pipeline",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct
      FROM documents
    ),
    passed AS (
      SELECT * FROM q
      WHERE n_tokens BETWEEN 20 AND 80
        AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.25
        AND lang IN ('en', 'de', 'fr')
    ),
    canon AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM passed
    )
    SELECT doc_id, lang, source, n_tokens
    FROM canon WHERE doc_id = canonical_id
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pass every LLM data pipeline runs:
    quality gate (length + lexical diversity) → language filter →
    exact near-dup removal keeping the least doc_id per content hash.
    One scan, one window shuffle on the content hash — the same plan
    shape at any corpus size."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = tokens("text")
    q = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    passed = q.filter(
        F.col("n_tokens").between(20, 80)
        & (F.col("n_distinct").cast("double") / F.col("n_tokens") > 0.25)
        & F.col("lang").isin("en", "de", "fr")
    )
    w = Window.partitionBy(F.md5("text"))
    return (
        passed.withColumn("canonical_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "lang", "source", "n_tokens")
    )


@query(
    "text_token_count_bpe_ish",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letter-runs / digit-runs / single symbols) — the cheap proxy used
    to budget LLM token counts at corpus scale."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@query(
    "text_levenshtein_near_names",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND a.p_size = 15 AND b.p_size = 15
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY part_a, part_b
    """,
)
def text_levenshtein_near_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name matching (edit distance ≤ 2) with blocking: the
    quadratic compare runs only within a block (here p_size), the
    standard entity-resolution shape — at 100 TB the block key would be
    a cheap canopy (first token, soundex, length band) so each block's
    pair count stays bounded, and blocks parallelize independently."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    a = p.select(F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), F.col("part_a") < F.col("part_b"))
        .filter(dist <= 2)
        .select(
            "part_a", "part_b", "name_a", "name_b",
            dist.cast("long").alias("edit_dist"),
        )
        .orderBy("part_a", "part_b")
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (
      SELECT t, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, t,
             ROUND(tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN df USING (t), n
    )
    SELECT doc_id, t AS term, tfidf
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, t
      ) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic IR relevance
    weight, entirely in built-ins: one tokenize scan feeds both the
    term-frequency agg and the document-frequency agg; N is a one-row
    aggregate broadcast into the scorer; per-doc top-k is a window
    row_number (ties broken by term, so ordering is deterministic even
    when two terms share a (tf, df) pair and therefore an identical
    score)."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.distinct().groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "t")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "t",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "t")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("t").alias("term"), "tfidf")
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH salted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-0100'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
                '\\+?[0-9][0-9-]{7,}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                '\\+?[0-9][0-9-]{7,}', '<PHONE>', 'g') AS scrubbed
    FROM salted
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, phone numbers) — the
    compliance pass every training-data pipeline runs before anything
    ships. Pure regexp built-ins: one narrow scan, counts for the audit
    trail, redacted text for the output. The corpus is synthetic and
    clean, so deterministic PII is INJECTED for every 10th doc on both
    engines — the scrubber is tested against text that actually
    contains what it must remove. Regexes stay in the RE2-compatible
    subset so Java (Spark) and RE2 (DuckDB) agree."""
    email_re = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    phone_re = "\\+?[0-9][0-9-]{7,}"
    d = _docs(spark, sf_dir)
    salted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-0100"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return salted.select(
        "doc_id",
        F.regexp_count("text", F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(phone_re)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("scrubbed"),
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
    tops AS (
      SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM cnt GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id,
             len(grams)                 AS n_tri,
             len(list_distinct(grams))  AS n_tri_d
      FROM (
        SELECT doc_id,
               list_transform(range(greatest(len(toks) - 2, 0)),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) x
      ) g
    )
    SELECT t.doc_id,
           ROUND(CAST(mx AS DOUBLE) / tot, 4)  AS top_token_frac,
           ROUND(1.0 - CAST(n_tri_d AS DOUBLE) / greatest(n_tri, 1), 4)
                                               AS dup_trigram_frac,
           CAST(CAST(mx AS DOUBLE) / tot > 0.12
                OR 1.0 - CAST(n_tri_d AS DOUBLE) / greatest(n_tri, 1) > 0.2
                AS BIGINT)                     AS is_repetitive
    FROM tops t JOIN tri USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition filters: fraction of the doc
    taken by its single most frequent token, and the duplicate-trigram
    fraction. Both are computed NARROW — no explode, no shuffle:

    - ``top_token_frac`` sorts the token array and finds the longest
      equal run with one ``aggregate`` pass over a struct accumulator
      (O(L log L) per doc, all JVM-side);
    - ``dup_trigram_frac`` is ``1 - distinct/total`` over the shingle
      array from the one-pass regex shingler.

    A 100 TB corpus streams through this as a pure scan — the plan has
    zero exchanges, so it scales linearly with input splits. The
    explode+groupBy formulation (what the oracle does) would shuffle
    the full token stream; per-doc state is bounded by doc length, so
    the narrow form is strictly better at any scale.
    """
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    srt = F.array_sort(toks)
    # Longest equal run in the sorted array: acc = (prev, run, best).
    run = F.aggregate(
        srt,
        F.struct(
            F.lit("\x00").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    tri = word_shingles("text", k=3)
    out = d.select(
        "doc_id",
        (run.cast("double") / F.size(toks)).alias("ttf"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(tri)).cast("double")
            / F.greatest(F.size(tri), F.lit(1))
        ).alias("dtf"),
    )
    return out.select(
        "doc_id",
        F.round("ttf", 4).alias("top_token_frac"),
        F.round("dtf", 4).alias("dup_trigram_frac"),
        ((F.col("ttf") > 0.12) | (F.col("dtf") > 0.2)).cast("long").alias("is_repetitive"),
    )


@query(
    "text_contamination_overlap",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(toks) - 3, 0)),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                    || ' ' || toks[i+4])) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) x
    ),
    bench AS (
      SELECT DISTINCT unnest(grams) AS bg FROM g WHERE doc_id % 97 = 0
    ),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM (SELECT doc_id, unnest(grams) AS cg FROM g WHERE doc_id % 97 <> 0) c
      JOIN bench ON c.cg = bench.bg
      GROUP BY c.doc_id
    )
    SELECT g.doc_id,
           CAST(len(grams) AS BIGINT)  AS n_grams,
           CAST(n_hit AS BIGINT)       AS n_contaminated,
           ROUND(CAST(n_hit AS DOUBLE) / len(grams), 4) AS contamination
    FROM g JOIN hits ON g.doc_id = hits.doc_id
    WHERE g.doc_id % 97 <> 0
    """,
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which training docs share word
    5-grams with a held-out evaluation set (every 97th doc stands in
    for the benchmark)? The standard n-gram-overlap decontamination
    pass (GPT-3 appendix C / PaLM style; 4-grams keep the synthetic
    vocabulary dense enough to exercise the join).

    Scale shape: the benchmark side is tiny and DISTINCT-reduced, so
    it is broadcast — the corpus side streams through explode →
    broadcast-hash-semi-join → per-doc count with NO corpus-wide
    shuffle of raw n-grams; the only exchange is the per-doc count
    aggregation (map-side combined, cardinality = contaminated docs).
    At 100 TB the corpus never shuffles; only hits do.
    """
    d = _docs(spark, sf_dir)
    grams = F.array_distinct(word_shingles("text", k=4))
    with_grams = d.select("doc_id", grams.alias("grams"))
    bench = (
        with_grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("grams").alias("bg"))
        .distinct()
    )
    corpus = with_grams.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus.select("doc_id", F.explode("grams").alias("cg"))
        .join(F.broadcast(bench), F.col("cg") == F.col("bg"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        corpus.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            F.col("n_hit").cast("long").alias("n_contaminated"),
            F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 4).alias(
                "contamination"
            ),
        )
    )


@query(
    "text_chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(i / 24 AS BIGINT)                          AS chunk_idx,
           CAST(i AS BIGINT)                               AS start_tok,
           CAST(least(32, len(toks) - i) AS BIGINT)        AS n_tok,
           md5(array_to_string(list_slice(toks, i + 1,
               least(i + 32, len(toks))), ' '))            AS chunk_hash
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents) x,
         UNNEST(range(0, len(toks), 24)) AS t(i)
    WHERE doc_id < 200
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (context-length packing prep):
    32-token chunks on a 24-token stride (8-token overlap), emitted as
    (doc_id, chunk_idx, start, length, content-hash). The generate →
    slice → hash pipeline is a pure narrow explode — rows fan out
    ~L/stride× with no shuffle, which is exactly how a 100 TB corpus
    gets re-chunked: linear scan, linear output, every split
    independent. Bounded to doc_id < 200 only to keep the oracle diff
    small; the plan is unchanged unbounded.
    """
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    toks = tokens("text")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(24))
    exploded = d.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("i")
    )
    return exploded.select(
        "doc_id",
        (F.col("i") / 24).cast("long").alias("chunk_idx"),
        F.col("i").cast("long").alias("start_tok"),
        F.least(F.lit(32), F.size("toks") - F.col("i")).cast("long").alias("n_tok"),
        F.md5(
            F.concat_ws(
                " ", F.slice("toks", F.col("i") + 1, F.lit(32))
            )
        ).alias("chunk_hash"),
    )


@query(
    "text_boilerplate_chunks",
    oracle="""
    WITH c AS (
      SELECT d.source,
             md5(array_to_string(list_slice(toks, i + 1,
                 least(i + 32, len(toks))), ' ')) AS h
      FROM (SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents) d,
           UNNEST(range(0, len(toks), 32)) AS t(i)
    ),
    g AS (SELECT source, h, COUNT(*) AS n FROM c GROUP BY source, h)
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_distinct,
           ROUND(1.0 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 4) + 0.0
             AS dup_ratio,
           MAX(n) AS max_repeats
    FROM g GROUP BY source
    """,
)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate detection — the WITHIN-source dedup
    signal document-level dedup can't see: navigation bars, cookie
    banners, and license headers repeat as identical 32-token chunks
    across otherwise-distinct documents. Chunks the whole corpus on a
    non-overlapping 32-token grid (disjoint, so the dup ratio isn't
    inflated by window overlap — unlike `text_chunk_documents`' packing
    grid), hashes each chunk, and reports per source: chunk count,
    distinct chunks, duplicate ratio, and the repeat count of the most
    common chunk. A source whose dup_ratio spikes is serving templated
    pages; `max_repeats` names how bad the worst template is.

    Scale shape: narrow explode (no shuffle) → two strictly-shrinking
    hash-aggs — raw chunks shuffle ONCE as (source, hash) partial
    counts, then per-source rollup is count-row-sized. The (source,
    hash, n) table is itself the mergeable artifact a nightly job
    materializes: re-aggregatable across days and directly joinable to
    drop known-boilerplate chunks at read time."""
    d = _docs(spark, sf_dir)
    toks = tokens("text")
    d = d.select("source", toks.alias("toks"))
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(32))
    c = d.select("source", "toks", F.explode(starts).alias("i")).select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("i") + 1, F.lit(32)))
        ).alias("h"),
    )
    g = c.groupBy("source", "h").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").cast("long")
    return g.groupBy("source").agg(
        tot.alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            F.round(1.0 - F.count(F.lit(1)) / tot.cast("double"), 4) + 0.0
        ).alias("dup_ratio"),
        F.max("n").alias("max_repeats"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM tok)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(ln(CAST(c AS DOUBLE) / n)) / COUNT(*), 4) + 0.0
             AS avg_logprob
    FROM tok JOIN vocab USING (t), n
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the CCNet-style fluency/quality score: docs
    full of rare tokens (noise, boilerplate markup, other-language
    text) score far below the corpus mode and get filtered or
    down-weighted before training.

    One tokenize-explode feeds both the vocabulary count and the
    scoring pass; token probabilities attach via a broadcast of the
    aggregated vocabulary (corpus-scale: broadcast the top-K vocab and
    fold the tail into one OOV probability — the score only needs
    ~1e5 head tokens to rank documents; here the full vocab is tiny).
    The mean-of-logs sums ~1e2 doubles per doc, so cross-engine
    accumulation-order drift is ~1e-13 — ROUND(…, 4) leaves 9 orders
    of margin (the stats-module discipline). ``+ 0.0`` on the oracle
    side normalizes signed zero.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.join(F.broadcast(vocab), "t")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.round(
                    F.sum(F.log(F.col("c").cast("double") / F.col("n")))
                    / F.count(F.lit(1)),
                    4,
                )
                + F.lit(0.0)
            ).alias("avg_logprob"),
        )
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk FROM documents
    ),
    uni AS (
      SELECT doc_id, unnest(tk) AS t FROM toks
    ),
    c1 AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM uni),
    big AS (
      SELECT doc_id, tk[j + 1] AS prev, tk[j + 2] AS t
      FROM (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS j FROM toks) x
    ),
    c2 AS (SELECT prev, t, COUNT(*) AS c2 FROM big GROUP BY prev, t)
    SELECT big.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(SUM(ln(0.75 * CAST(c2.c2 AS DOUBLE) / cp.c
                        + 0.25 * CAST(ct.c AS DOUBLE) / n.n))
                 / COUNT(*), 4) + 0.0 AS avg_logprob
    FROM big
    JOIN c2 ON c2.prev = big.prev AND c2.t = big.t
    JOIN c1 cp ON cp.t = big.prev
    JOIN c1 ct ON ct.t = big.t
    CROSS JOIN n
    GROUP BY big.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean INTERPOLATED-BIGRAM log-probability under the
    corpus's own bigram model — the next rung of the LM quality ladder
    above `text_unigram_logprob`: p(t|prev) = 0.75·C(prev,t)/C(prev) +
    0.25·C(t)/N. Bigram scores separate shuffled-token junk from
    fluent text that unigram frequencies alone cannot (same words,
    broken order), which is exactly the gibberish/boilerplate band a
    corpus filter targets.

    One tokenize pass feeds the unigram counts, the bigram counts
    (keyed lag window per doc — position pairs never shuffle raw
    text), and the scoring join; count tables attach as broadcasts
    here (at open-vocabulary corpus scale the bigram table joins by
    hash on (prev, t) and the unigram table stays broadcast top-K —
    same plan, different join strategy). Probabilities are ratios of
    exact integers; the mean-of-logs rounds once at 4 decimals (the
    module's float discipline; ulp-level libm drift is 11 orders below
    the rounding grid).
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "t")
    )
    c1 = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id", F.lag("t").over(w).alias("prev"), "t"
    ).filter(F.col("prev").isNotNull())
    c2 = big.groupBy("prev", "t").agg(F.count(F.lit(1)).alias("c2"))
    cp = c1.select(F.col("t").alias("prev"), F.col("c").alias("cprev"))
    ct = c1.select("t", F.col("c").alias("ct"))
    p = (
        F.lit(0.75) * F.col("c2").cast("double") / F.col("cprev")
        + F.lit(0.25) * F.col("ct").cast("double") / F.col("n")
    )
    return (
        big.join(F.broadcast(c2), ["prev", "t"])
        .join(F.broadcast(cp), "prev")
        .join(F.broadcast(ct), "t")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.round(F.sum(F.log(p)) / F.count(F.lit(1)), 4) + F.lit(0.0)).alias(
                "avg_logprob"
            ),
        )
    )


@query(
    "text_lang_confusion_matrix",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
           {_lang_scores_sql()}
      FROM documents
    ),
    p AS (
      SELECT lang AS lang_label,
             CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
                  WHEN score_en THEN 'en' WHEN score_de THEN 'de'
                  WHEN score_fr THEN 'fr' WHEN score_es THEN 'es'
                  ELSE 'zh' END AS lang_pred
      FROM s
    ),
    rt AS (SELECT lang_label, COUNT(*) AS r FROM p GROUP BY lang_label)
    SELECT p.lang_label, p.lang_pred,
           COUNT(*) AS n,
           floor((CAST(COUNT(*) AS DOUBLE) / MAX(rt.r)) * 1000000 + 0.5)
             / 1000000 AS row_share
    FROM p JOIN rt ON rt.lang_label = p.lang_label
    GROUP BY p.lang_label, p.lang_pred
    """,
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-token language classifier against
    the DECLARED language labels — the label-noise audit for the text
    modality (the sibling of `sim_centroid_assign_audit` on the
    embedding modality): off-diagonal mass localizes exactly which
    declared language the classifier disagrees with, with each cell's
    share of its true-label row.

    Reuses the certified classifier (`text_language_id`); the matrix
    is one hash-agg over its output plus a row-total attach — at any
    corpus size the result is ≤ |langs|² rows. Cells are exact counts;
    shares are exact-integer ratios through one half-away floor-round.
    """
    pred = text_language_id(spark, sf_dir).select("lang_label", "lang_pred")
    cells = pred.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    rt = cells.groupBy("lang_label").agg(F.sum("n").alias("r"))
    return (
        cells.join(F.broadcast(rt), "lang_label")
        .select(
            "lang_label",
            "lang_pred",
            "n",
            half_up(F.col("n").cast("double") / F.col("r"), 6).alias("row_share"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) x
    ),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COUNT(CASE WHEN first.first_doc = sh.doc_id THEN 1 END)
                AS BIGINT) AS n_novel,
           floor((CAST(COUNT(CASE WHEN first.first_doc = sh.doc_id THEN 1 END)
                       AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000
             AS novelty
    FROM sh JOIN first ON first.g = sh.g
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY score per document: the share of a doc's distinct
    trigram shingles whose corpus-wide FIRST occurrence (minimum
    doc_id, i.e. arrival order) is this document — the curation signal
    that separates documents contributing new content from documents
    recombining what the corpus already has (novelty ≈ 0 ⇒ pure
    remix/boilerplate even when no single pair-wise duplicate exists —
    the case pair-based dedup structurally misses).

    Reuses the session-shared shingle sets; one groupBy(g) computes
    first-occurrence owners, one join back + per-doc agg scores every
    document. At 100 TB the first-occurrence table IS the incremental
    state a streaming curator maintains (new batch shingles probe it,
    the repo's `dedup_minhash_incremental` pattern). Exact counts;
    the ratio rounds once half-away.
    """
    from .dedup import _shingle_sets

    sh = _shingle_sets(spark, sf_dir)
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            half_up(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


@query(
    "text_logprob_bins",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM tok),
    score AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             ROUND(SUM(ln(CAST(c AS DOUBLE) / n)) / COUNT(*), 4) + 0.0
               AS avg_logprob
      FROM tok JOIN vocab USING (t), n
      GROUP BY doc_id
    )
    SELECT CAST(floor(avg_logprob) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM score GROUP BY bin
    """,
)
def text_logprob_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality-score HISTOGRAM: per-document mean unigram
    log-probability (the `text_unigram_logprob` CCNet-style score)
    bucketed into unit-width logprob bins — the distribution a corpus
    curator actually thresholds on ("keep everything above bin −9",
    the perplexity-bucket mixing recipe from CCNet/RedPajama). Emitting
    the binned distribution instead of per-doc scores is also the
    scale form: the histogram is a few dozen rows no matter the corpus
    size, so the nightly quality monitor diffs THIS, not 10^9 scores.

    Bins use fixed unit width — no global sort, no ntile; the bin of a
    doc depends only on its own (already hash-certified) rounded
    score, so the floor is taken on identical doubles cross-engine.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    score = (
        tok.join(F.broadcast(vocab), "t")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.round(
                    F.sum(F.log(F.col("c").cast("double") / F.col("n")))
                    / F.count(F.lit(1)),
                    4,
                )
                + F.lit(0.0)
            ).alias("avg_logprob"),
        )
    )
    return (
        score.groupBy(F.floor("avg_logprob").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@query(
    "text_vocab_growth_heaps",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    fo AS (SELECT t, MIN(doc_id) AS fd FROM tok GROUP BY t),
    mx AS (SELECT MAX(doc_id) AS m FROM documents),
    grid AS (SELECT unnest([1, 2, 3, 4]) AS k),
    thr AS (SELECT k, k * m // 4 AS thr FROM grid, mx),
    docs_at AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM thr, documents WHERE doc_id <= thr GROUP BY k
    ),
    vocab_at AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab_size
      FROM thr, fo WHERE fd <= thr GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k, n_docs, vocab_size
    FROM docs_at JOIN vocab_at USING (k)
    """,
)
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth audit: distinct-token count after
    processing 25/50/75/100% of the corpus (by doc id order) — the
    curve a corpus curator watches for saturation (vocab flattening ⇒
    new data is rehashing old content; still steep ⇒ the corpus keeps
    contributing novelty). The doc-level sibling of
    `text_ngram_novelty`, reduced to FOUR rows at any corpus size.

    No cumulative-distinct window: each token contributes through its
    FIRST-occurrence doc id (one hash-agg), so "vocab at checkpoint k"
    is a count of first-occurrences ≤ threshold — two tiny broadcast
    grid joins, no global sort, no re-scan per checkpoint.
    """
    d = _docs(spark, sf_dir).select("doc_id")
    mx = d.agg(F.max("doc_id").alias("m"))
    grid = spark.range(1, 5).select(F.col("id").alias("k"))
    thr = grid.crossJoin(F.broadcast(mx)).select(
        "k", F.expr("k * m div 4").alias("thr")
    )
    docs_at = (
        d.crossJoin(F.broadcast(thr))
        .filter(F.col("doc_id") <= F.col("thr"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens("text")).alias("t")
    )
    fo = tok.groupBy("t").agg(F.min("doc_id").alias("fd"))
    vocab_at = (
        fo.crossJoin(F.broadcast(thr))
        .filter(F.col("fd") <= F.col("thr"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    return docs_at.join(vocab_at, "k").select(
        F.col("k").cast("long").alias("k"), "n_docs", "vocab_size"
    )


@query(
    "text_zipf_fit_audit",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
    ),
    c AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    top AS (SELECT t, c FROM c ORDER BY c DESC, t LIMIT 100),
    r AS (
      SELECT a.t, a.c, COUNT(*) AS rank
      FROM top a JOIN top b
        ON (b.c > a.c) OR (b.c = a.c AND b.t <= a.t)
      GROUP BY a.t, a.c
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(ln(CAST(rank AS DOUBLE))) AS sx,
             SUM(ln(CAST(c AS DOUBLE))) AS sy,
             SUM(ln(CAST(rank AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
             SUM(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CASE WHEN n * sxx - sx * sx > 0
                THEN floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                      * 10000 + 0.5) / 10000 + 0.0
           END AS zipf_slope
    FROM m
    """,
)
def text_zipf_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the head of the token frequency table: the
    log-log OLS slope of frequency vs rank for the top-100 tokens —
    natural text sits near −1; templated/boilerplate corpora flatten
    toward 0 and adversarial token spam steepens past −1.5. With
    `text_vocab_growth_heaps` (Heaps) this closes the two classical
    corpus-statistics audits, each a handful of output values at any
    scale.

    Rank assignment avoids any global window: the top-100 head comes
    from a distributed TakeOrdered (orderBy + limit over the count
    table, total (c desc, t) order so the cut is deterministic), and
    rank(t) = |{(c',t') ≥ (c,t)}| is a 100×100 broadcast triangular
    count. OLS runs on ln-moments of the shared integers; slope-
    denominator guard per the round-6 degenerate-input discipline.
    """
    tok = _docs(spark, sf_dir).select(F.explode(tokens("text")).alias("t"))
    c = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top = c.orderBy(F.col("c").desc(), "t").limit(100)
    a = top.select("t", "c")
    b = top.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    r = (
        a.join(
            F.broadcast(b),
            (F.col("c2") > F.col("c"))
            | ((F.col("c2") == F.col("c")) & (F.col("t2") <= F.col("t"))),
        )
        .groupBy("t", "c")
        .agg(F.count(F.lit(1)).alias("rank"))
    )
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.when(
            den > 0,
            half_up(num / den, 4) + F.lit(0.0),
        ).alias("zipf_slope"),
    )


@query(
    "text_vocab_overlap_sources",
    oracle="""
    WITH v AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vsz FROM v GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           floor(CAST(i.n_common AS DOUBLE)
                 / (sa.vsz + sb.vsz - i.n_common) * 10000 + 0.5)
             / 10000 AS jaccard
    FROM inter i
    JOIN sz sa ON sa.source = i.src_a
    JOIN sz sb ON sb.source = i.src_b
    """,
)
def text_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic that says which sources are lexically redundant (high
    overlap → near-duplicate registers, candidates for tighter dedup
    or down-weighting in the mix) and which add genuinely new
    vocabulary. Output is |sources|² pairs at most — a review artifact,
    not a per-token table.

    Scale shape: the heavy step is ONE distinct over (source, token) —
    map-side combinable, shrinking the corpus to Σ per-source vocab
    rows; the pairwise intersection then self-joins that REDUCED table
    on the token key (per-token fanout = #sources containing it, worst
    case |sources| — bounded by construction, not corpus size), and
    per-source sizes join back broadcast-small. At 100 TB the vocab
    table is the only shuffle that grows with data, and it grows with
    VOCABULARY (Heaps-sublinear, see `text_vocab_growth_heaps`), not
    rows. Jaccard via inclusion-exclusion — no union pass; the ratio
    of exact integers rounds once with ``half_up(x, 4)``, identical on
    both engines."""
    v = (
        _docs(spark, sf_dir)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("vsz"))
    a = v.alias("a")
    b = v.select(F.col("source").alias("src_b"), F.col("tok").alias("tok_b"))
    inter = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("source") < F.col("src_b")))
        .groupBy(F.col("source").alias("src_a"), "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("vsz").alias("vsz_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("vsz").alias("vsz_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            half_up(
                F.col("n_common").cast("double")
                / (F.col("vsz_a") + F.col("vsz_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


@query(
    "text_oov_rate_split",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE
               WHEN {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 100 < 80
                 THEN 'train'
               WHEN {sql_hex_long("md5(CAST(doc_id AS VARCHAR))", 14, 1)} % 100 < 90
                 THEN 'val'
               ELSE 'test'
             END AS split,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT DISTINCT tok FROM tagged WHERE split = 'train')
    SELECT t.split,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           floor(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
             / 1000000 AS oov_rate
    FROM tagged t LEFT JOIN vocab v ON v.tok = t.tok
    WHERE t.split <> 'train'
    GROUP BY t.split
    """,
)
def text_oov_rate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the val/test splits against the TRAIN
    vocabulary — the tokenizer-coverage check run before committing a
    vocab: a val/test token the train split never produced is exactly
    what an embedding table trained on this corpus cannot represent.
    Splits are the SAME deterministic 80/10/10 content-hash assignment
    as `sample_train_val_test` (md5 of doc_id), so this audit certifies
    the split convention's lexical coverage, not a parallel one.

    Scale shape: one tokenize scan tags each token occurrence with its
    doc's split (narrow); the train vocabulary is a distinct on token
    (map-side combinable, Heaps-sublinear rows); the held-out 20% of
    token occurrences then LEFT-join that vocab on the token key — the
    one data-sized shuffle — and collapse straight into 2 output rows.
    Occurrence-weighted on purpose: rate = share of tokens a model
    would see as <unk>, not share of distinct types. The rate (a ratio
    of exact integers) rounds once with ``half_up(x, 6)``, identical
    on both engines."""
    from .sampling import hash_bucket

    bkt = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise(F.lit("test"))
    )
    tagged = _docs(spark, sf_dir).select(
        split.alias("split"), F.explode(tokens("text")).alias("tok")
    )
    vocab = (
        tagged.filter(F.col("split") == "train")
        .select("tok")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    held = tagged.filter(F.col("split") != "train")
    return (
        held.join(vocab, "tok", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)).alias("n_oov"),
            half_up(
                F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@query(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    big AS (
      SELECT tk[j + 1] AS prev, tk[j + 2] AS t
      FROM (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS j FROM toks) x
    ),
    c2 AS (
      SELECT prev, t, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM big GROUP BY prev, t HAVING COUNT(*) >= 5
    ),
    cx AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS n_x FROM big GROUP BY prev),
    cy AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_y FROM big GROUP BY t),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM big)
    SELECT c2.prev, c2.t, c2.n_xy, cx.n_x, cy.n_y,
           floor(ln(CAST(c2.n_xy AS DOUBLE) * n2.n_big / cx.n_x / cy.n_y)
                 * 10000 + 0.5) / 10000 AS pmi
    FROM c2 JOIN cx USING (prev) JOIN cy USING (t) CROSS JOIN n2
    ORDER BY pmi DESC, c2.prev, c2.t
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over
    adjacent token pairs — the vocabulary-merge signal a tokenizer
    trainer (BPE/WordPiece) reads: pmi = ln(p(x,y)/(p(x)·p(y))) with
    all probabilities taken over BIGRAM SLOTS (p(x) = first-slot share,
    p(y) = second-slot share), so the three counts come from one
    bigram table and the measure is self-consistent. A min-support of
    5 removes the noise tail where PMI explodes on hapax pairs.

    Scale shape: the bigram stream never shuffles text twice — one
    posexplode + keyed lag window per doc, then three hash-aggs over
    (prev,t)/(prev)/(t) with map-side partials; the support filter
    shrinks the scored table before the joins; top-20 is a
    TakeOrdered, not a global sort. At open-vocab corpus scale the
    count tables join by hash; at fixture scale AQE broadcasts them.

    Float discipline: counts are exact integers; the only float is one
    ln of a ratio built with the identical division order both
    engines, half-away-floored to 4 decimals (the module's pinned
    rounding trick), with ties under the LIMIT broken by (prev, t)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.select("doc_id", F.lag("t").over(w).alias("prev"), "t")
        .filter(F.col("prev").isNotNull())
        .select("prev", "t")
    )
    c2 = (
        big.groupBy("prev", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .filter(F.col("n_xy") >= 5)
    )
    cx = big.groupBy("prev").agg(F.count(F.lit(1)).cast("long").alias("n_x"))
    cy = big.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_y"))
    n2 = big.agg(F.count(F.lit(1)).cast("long").alias("n_big"))
    pmi = half_up(
        F.log(
            F.col("n_xy").cast("double")
            * F.col("n_big")
            / F.col("n_x")
            / F.col("n_y")
        ),
        4,
    )
    return (
        c2.join(cx, "prev")
        .join(cy, "t")
        .crossJoin(F.broadcast(n2))
        .select("prev", "t", "n_xy", "n_x", "n_y", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "prev", "t")
        .limit(20)
    )


@query(
    "text_length_percentiles_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok,
             doc_id
      FROM documents
    ),
    r AS (
      SELECT lang, tok,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tok, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM d
    )
    SELECT lang,
           MAX(n)                                              AS n_docs,
           CAST(MAX(CASE WHEN rn = (n + 9)  // 10 THEN tok END) AS BIGINT)
             AS p10_tokens,
           CAST(MAX(CASE WHEN rn = (n + 1)  // 2  THEN tok END) AS BIGINT)
             AS p50_tokens,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN tok END) AS BIGINT)
             AS p90_tokens,
           CAST(MAX(CASE WHEN rn = n THEN tok END) AS BIGINT)  AS max_tokens
    FROM r GROUP BY lang
    """,
)
def text_length_percentiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete token-length percentiles (p10/p50/p90/max) per
    language — the context-window budgeting table: a training run
    sizes its sequence length and its truncation loss off exactly
    these numbers, per language because length distributions differ
    wildly across scripts. DISCRETE percentiles (the value at row
    ceil(p·n), never interpolated) so every reported number is a real
    document length and the cross-engine comparison is pure integers
    — the interpolated variant is where engines disagree at the ULP.

    Scale shape: one tokenize pass collapses documents to (lang, tok)
    ints; the ranking window is keyed by language (no single-partition
    window); the percentile picks are conditional aggregates over the
    ranked rows — one exchange, one sort, |langs| output rows.

    Float discipline: none — ranks via exact integer ceilings
    ((n+9) div 10, (n+1) div 2, (9n+9) div 10), values are int64."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "lang", F.size(tokens("text")).alias("tok"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("tok", "doc_id")
    wn = Window.partitionBy("lang")
    r = d.select(
        "lang",
        "tok",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    pick = lambda cond: F.max(F.when(cond, F.col("tok"))).cast("long")  # noqa: E731
    return r.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        pick(F.col("rn") == F.expr("(n + 9) div 10")).alias("p10_tokens"),
        pick(F.col("rn") == F.expr("(n + 1) div 2")).alias("p50_tokens"),
        pick(F.col("rn") == F.expr("(9 * n + 9) div 10")).alias("p90_tokens"),
        pick(F.col("rn") == F.col("n")).alias("max_tokens"),
    )


@query(
    "text_bigram_cond_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    big AS (
      SELECT tk[j + 1] AS prev, tk[j + 2] AS t
      FROM (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS j FROM toks) x
    ),
    cxy AS (SELECT prev, t, CAST(COUNT(*) AS BIGINT) AS n
            FROM big GROUP BY prev, t),
    cx AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS n FROM big GROUP BY prev),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM big),
    sxy AS (
      SELECT CAST(SUM(CAST(floor(n * ln(n) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM cxy
    ),
    sx AS (
      SELECT CAST(SUM(CAST(floor(n * ln(n) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_prev
      FROM cx
    )
    SELECT tot.nb       AS n_bigrams,
           sxy.n_types  AS n_bigram_types,
           sx.n_prev    AS n_prev_types,
           floor(CAST(sx.s - sxy.s AS DOUBLE) / tot.nb + 0.5) / 1000000
             AS cond_entropy_nats
    FROM tot, sxy, sx
    """,
)
def text_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus conditional entropy H(next | prev) over adjacent token
    pairs, in nats — the predictability statistic that separates
    natural language (~2-5 nats: the next token is guessable from the
    previous one) from shuffled-token junk (H(Y|X) ≈ H(Y): context
    carries nothing) and from templated boilerplate (near 0: every
    prev determines its next). Computed from EXACT counts via the
    identity H(Y|X) = (Σ_x n_x·ln n_x − Σ_xy n_xy·ln n_xy) / N, so it
    needs only the bigram and prev-marginal count tables — no
    per-pair probabilities ever materialize.

    Float discipline: each n·ln(n) term is floored to integer
    micro-nats FIRST, making both Σ exact int64 — immune to
    accumulation order on either engine (the repo's integer-units
    rule); the single final division of exact integers rounds
    half-away once. Libm ln drift sits ~10 orders below the µ-nat
    grid.

    Scale shape: one tokenize scan; bigram formation is a keyed lag
    window per doc (raw text never shuffles — position pairs do);
    both count tables are map-side-combinable hash-aggs, and the
    summary folds them to 3 scalar rows cross-joined into ONE output
    row. The same shuffle shape `text_bigram_logprob` certifies,
    minus its scoring join."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id", F.lag("t").over(w).alias("prev"), "t"
    ).filter(F.col("prev").isNotNull())
    term = F.floor(
        F.col("n") * F.log(F.col("n")) * 1000000 + F.lit(0.5)
    ).cast("long")
    cxy = big.groupBy("prev", "t").agg(F.count(F.lit(1)).alias("n"))
    cx = big.groupBy("prev").agg(F.count(F.lit(1)).alias("n"))
    tot = big.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    sxy = cxy.agg(
        F.sum(term).cast("long").alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    sx = cx.agg(
        F.sum(term).cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n_prev"),
    )
    return (
        tot.crossJoin(F.broadcast(sxy))
        .crossJoin(F.broadcast(sx))
        .select(
            F.col("nb").alias("n_bigrams"),
            F.col("n_types").alias("n_bigram_types"),
            F.col("n_prev").alias("n_prev_types"),
            (
                F.floor(
                    (F.col("sx") - F.col("sxy")).cast("double") / F.col("nb")
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("cond_entropy_nats"),
        )
    )


@query(
    "text_diversity_length_corr",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS x,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                                t -> t <> '')))
                  AS BIGINT) AS nd
      FROM documents
    ),
    v AS (
      SELECT source, x, (1000000 * nd) // x AS y
      FROM d WHERE x > 0
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT)    AS n,
             CAST(SUM(x) AS BIGINT)      AS sx,
             CAST(SUM(y) AS BIGINT)      AS sy,
             CAST(SUM(x * x) AS BIGINT)  AS sxx,
             CAST(SUM(y * y) AS BIGINT)  AS syy,
             CAST(SUM(x * y) AS BIGINT)  AS sxy
      FROM v GROUP BY source
    )
    SELECT source, n AS n_docs,
           (n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0) AS degenerate,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
                ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                              * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                           * 10000 + 0.5) / 10000
           END AS pearson_r
    FROM s
    """,
)
def text_diversity_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does lexical diversity just track document length? Per-source
    Pearson correlation between token count and the distinct-token
    ratio (as exact integer ppm: (10⁶·n_distinct) div n_tokens) — the
    filter-calibration diagnostic that catches a "quality" signal
    that is secretly a length signal (Heaps' law makes the ratio FALL
    with length, so natural corpora read strongly negative here; a
    source near 0 or positive is structurally odd — templated or
    truncated).

    Float discipline: all five moment sums are EXACT int64 over exact
    integer inputs (x ≤ doc tokens, y ≤ 10⁶ ⇒ Σy² headroom to ~10⁶
    docs per source at fixture scale; at open scale the sums widen to
    the same exact algebra in 128-bit or per-day partials), so the
    hash cannot flake on accumulation order; r is one final
    num / (√d1·√d2) on exact integers with a single half-away round.
    Sources where either variance is zero report degenerate = TRUE
    and r = 0.0 — explicitly, on both engines, not via a silent NULL.

    Scale shape: one tokenize scan → per-source 6-term
    map-side-combinable moment agg → |sources| output rows.

    Reference basis: none; contract text-quality family (SURVEY
    §2.10), calibrating `text_quality_score`'s distinct_ratio gate."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.size(tokens("text")).cast("long").alias("x"),
        F.size(F.array_distinct(tokens("text"))).cast("long").alias("nd"),
    )
    v = d.filter(F.col("x") > 0).select(
        "source", "x", F.expr("(1000000 * nd) div x").alias("y")
    )
    s = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    degen = (d1 == 0) | (d2 == 0)
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        degen.alias("degenerate"),
        F.when(degen, F.lit(0.0))
        .otherwise(
            half_up(
                num.cast("double")
                / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
                4,
            )
        )
        .alias("pearson_r"),
    )


@query(
    "text_js_divergence_sources",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
      FROM documents
    ),
    c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS n
          FROM tok GROUP BY source, t),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY source),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             ta.nt AS na, tb.nt AS nb, a.n AS ca, b.n AS cb
      FROM c a
      JOIN c b ON a.t = b.t AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
    ),
    terms AS (
      SELECT src_a, src_b, na, nb,
             CAST(floor(
               (
                 (CAST(ca AS DOUBLE) / na)
                   * ln(2.0 * (CAST(ca AS DOUBLE) / na)
                        / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
                 + (CAST(cb AS DOUBLE) / nb)
                   * ln(2.0 * (CAST(cb AS DOUBLE) / nb)
                        / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
               ) * 1000000000 + 0.5) AS BIGINT) AS term_ppb,
             ca, cb
      FROM pair
    ),
    agg AS (
      SELECT src_a, src_b,
             CAST(SUM(term_ppb) AS BIGINT) AS common_ppb,
             CAST(SUM(ca) AS BIGINT)       AS common_a,
             CAST(SUM(cb) AS BIGINT)       AS common_b,
             CAST(COUNT(*) AS BIGINT)      AS n_common_types
      FROM terms GROUP BY src_a, src_b
    ),
    allp AS (
      SELECT a.source AS src_a, b.source AS src_b, a.nt AS na, b.nt AS nb
      FROM tot a JOIN tot b ON a.source < b.source
    )
    SELECT p.src_a, p.src_b,
           COALESCE(g.n_common_types, 0) AS n_common_types,
           floor(
             (CAST(COALESCE(g.common_ppb, 0) AS DOUBLE) / 1000000000
              + ln(2.0)
                * (CAST(p.na - COALESCE(g.common_a, 0) AS DOUBLE) / p.na
                   + CAST(p.nb - COALESCE(g.common_b, 0) AS DOUBLE) / p.nb)
             ) / 2 * 1000000 + 0.5) / 1000000 AS js_nats
    FROM allp p
    LEFT JOIN agg g ON g.src_a = p.src_a AND g.src_b = p.src_b
    """,
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions, in nats — the corpus-mix DISTANCE matrix (0 =
    identical token distributions, ln 2 ≈ 0.693 = disjoint
    vocabularies) that complements `text_vocab_overlap_sources`'s
    set-level Jaccard: two sources can share most of their vocabulary
    and still WEIGHT it so differently that mixing them shifts the
    token distribution — JS prices exactly that, symmetrically and
    bounded, which is why mix-design work reads it over raw KL.

    Decomposition that keeps the big sum exact: tokens present in
    BOTH sources contribute the usual p·ln(2p/(p+q)) + q·ln(2q/(p+q))
    — each pair-token term is computed from EXACT integer counts in
    an identical op order on both engines, floored to integer
    nano-nats FIRST, and summed as exact int64 (the repo's
    integer-units rule — immune to accumulation order); tokens
    private to one source contribute exactly ln 2 times their
    probability mass, which needs only the per-source totals and the
    common-mass sums — no term per private token at all. Pairs with
    NO shared vocabulary still appear (source pairs enumerate from
    the totals table, common terms LEFT-join in), reading exactly
    ln 2 — the disjoint-corpus ceiling, not a missing row. One final
    half-away round at 1e-6.

    Scale shape: one tokenize scan → per-(source, token) counts
    (map-side combinable, Heaps-sublinear rows) → the pairwise join
    fans out per token by the number of sources containing it
    (bounded by |sources|, not corpus size — the
    `text_vocab_overlap_sources` shape) → |sources|² output rows.

    Reference basis: none; contract corpus-mix family (SURVEY §2.10)."""
    tok = _docs(spark, sf_dir).select(
        "source", F.explode(tokens("text")).alias("t")
    )
    c = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").cast("long").alias("nt"))
    a = c.select(
        F.col("source").alias("src_a"), "t", F.col("n").alias("ca")
    )
    b = c.select(
        F.col("source").alias("src_b"),
        F.col("t").alias("t_b"),
        F.col("n").alias("cb"),
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("nt").alias("na"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("nt").alias("nb"))
    pair = (
        a.join(b, (F.col("t") == F.col("t_b")) & (F.col("src_a") < F.col("src_b")))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    term = F.floor(
        (
            p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q))
        )
        * 1000000000
        + F.lit(0.5)
    ).cast("long")
    agg = pair.groupBy("src_a", "src_b").agg(
        F.sum(term).cast("long").alias("common_ppb"),
        F.sum("ca").cast("long").alias("common_a"),
        F.sum("cb").cast("long").alias("common_b"),
        F.count(F.lit(1)).cast("long").alias("n_common_types"),
    )
    allp = (
        ta.crossJoin(tb)
        .filter(F.col("src_a") < F.col("src_b"))
    )
    j = allp.join(agg, ["src_a", "src_b"], "left")
    js = (
        F.coalesce("common_ppb", F.lit(0)).cast("double") / 1000000000
        + F.log(F.lit(2.0))
        * (
            (F.col("na") - F.coalesce("common_a", F.lit(0))).cast("double")
            / F.col("na")
            + (F.col("nb") - F.coalesce("common_b", F.lit(0))).cast("double")
            / F.col("nb")
        )
    ) / 2
    return j.select(
        "src_a",
        "src_b",
        F.coalesce("n_common_types", F.lit(0)).cast("long").alias(
            "n_common_types"
        ),
        half_up(js, 6).alias("js_nats"),
    )


@query(
    "text_hapax_ratio_by_source",
    oracle="""
    WITH t AS (
      SELECT source, unnest(list_filter(string_split(text, ' '),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY source, tok
    ),
    m AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT)  AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_types, n_hapax,
           CAST((1000000 * n_hapax) // n_types AS BIGINT) AS hapax_ppm,
           CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm
    FROM m
    """,
)
def text_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomenon share and type-token ratio per source — the two
    classic lexical-richness numbers a corpus curator reads next to
    the diversity/length correlation: a template-stamped source shows
    a collapsing hapax share (every "rare" word repeats across stamps)
    while scraped natural text holds hapax near half its vocabulary
    (Zipf's tail); TTR falls with volume for organic text but stays
    frozen for boilerplate. Both emerge as exact integer ppm from one
    (source, token) count table — no floats anywhere.

    Scale shape: one tokenize+explode (narrow), one map-side-
    combinable (source, token) count shuffle — the same profile as
    the certified top-tokens/vocab ops — then a |sources|-row moment
    agg. At 100 TB the (source, token) table is the reusable artifact
    every lexical op shares.

    Reference basis: none; contract text-analysis family (SURVEY
    §2.10), beside `text_diversity_length_corr` (per-doc diversity)
    and `text_vocab_growth_heaps` (corpus-level vocabulary growth)."""
    from ._shared import fan_out

    t = fan_out(load_table(spark, sf_dir, "documents"), spark).select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    c = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return m.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("CAST((1000000 * n_hapax) div n_types AS BIGINT)").alias(
            "hapax_ppm"
        ),
        F.expr("CAST((1000000 * n_types) div n_tokens AS BIGINT)").alias(
            "ttr_ppm"
        ),
    )


_SIG_TOP_K = 5

_SIG_TERMS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t GROUP BY 1, 2
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM t GROUP BY 1
    ),
    s AS (
      SELECT tf.source, tf.tok AS term, tf.tf, df.df,
             (1000000 * tf.tf) // df.df AS score_ppm
      FROM tf JOIN df USING (tok)
    )
    SELECT source, term, tf, df,
           CAST(score_ppm AS BIGINT) AS score_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY score_ppm DESC, term) AS rk
      FROM s
    )
    WHERE rk <= {_SIG_TOP_K}
    """


@query("text_source_signature_terms", oracle=_SIG_TERMS_ORACLE)
def text_source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_SIG_TOP_K} CHARACTERISTIC terms per source by an
    integer-exact tf-idf surrogate — the curator's "what is this
    source actually about" read beside the raw top-tokens list (which
    the corpus-wide stopword mass dominates): per (source, term)
    frequency tf weighted by INVERSE document frequency as the exact
    floor-ppm rational score = (1e6 * tf) // df. Dropping idf's log
    is deliberate: log(N/df) is a monotone transform of 1/df at fixed
    tf — it reweights ACROSS tf levels but the ranking this op ships
    is already a certified-exact integer, where any libm log would
    put the order itself at cross-engine float risk. Ties break on
    the term string, so the top list is fully deterministic.

    Scale shape: one tokenize+explode (narrow), two map-side-
    combinable count shuffles — (source, term) for tf, term for df
    (COUNT(DISTINCT doc_id) collapses to a two-stage exact distinct)
    — one equi-join on term, and a per-source top-k window (per-key
    groups, never a global sort). At 100 TB the (source, term) count
    table is the same shared lexical artifact the hapax/vocab ops
    read, and the top-k window runs over |vocab| rows per source —
    the heaviest leg; a two-stage partial top-k per partition is the
    drop-in if a single source's vocabulary outgrows one executor's
    sort.

    Reference basis: none; contract text-analysis family (SURVEY
    §2.10), the per-SOURCE idf rung beside the certified per-document `text_tfidf_top_terms`."""
    from pyspark.sql import Window

    from ._shared import fan_out

    t = fan_out(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "source", F.explode(tokens("text")).alias("tok")
    )
    tf = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = t.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    s = (
        tf.join(df_, "tok")
        .select(
            "source",
            F.col("tok").alias("term"),
            "tf",
            "df",
            F.expr("CAST((1000000 * tf) div df AS BIGINT)").alias(
                "score_ppm"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_ppm").desc(), "term"
    )
    return (
        s.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _SIG_TOP_K)
        .select("source", "term", "tf", "df", "score_ppm", "rk")
    )


# ---------------------------------------------------------------------------
# Source-profile family: SOURCE-PROFILE COSINE (the pairwise rung above the
# per-source signature profiles).
# ---------------------------------------------------------------------------

_SIG_COS_K = 25  # wider profile than the top-5 display list: pairwise
# overlap needs enough shared vocabulary to discriminate mirror sources
# from genuinely disjoint ones

_SIG_COS_ORACLE = f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, source,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t GROUP BY 1, 2
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM t GROUP BY 1
    ),
    s AS (
      SELECT tf.source, tf.tok AS term,
             (1000000 * tf.tf) // df.df AS w
      FROM tf JOIN df USING (tok)
    ),
    prof AS MATERIALIZED (
      SELECT source, term, CAST(w AS BIGINT) AS w
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY source ORDER BY w DESC, term) AS rk
        FROM s
      )
      WHERE rk <= {_SIG_COS_K}
    ),
    nrm AS (
      SELECT source, SUM(CAST(w AS HUGEINT) * w) AS n2
      FROM prof GROUP BY 1
    ),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
      FROM prof a JOIN prof b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    ),
    allp AS (
      SELECT x.source AS source_a, y.source AS source_b
      FROM nrm x JOIN nrm y ON x.source < y.source
    )
    SELECT p.source_a, p.source_b,
           COALESCE(d.n_shared_terms, 0) AS n_shared_terms,
           CAST(floor(1000000.0 * CAST(COALESCE(d.dot, 0) AS DOUBLE)
                      / sqrt(CAST(na.n2 AS DOUBLE)
                             * CAST(nb.n2 AS DOUBLE)) + 0.5)
                AS BIGINT) AS cos_ppm
    FROM allp p
    LEFT JOIN dots d ON d.source_a = p.source_a
                    AND d.source_b = p.source_b
    JOIN nrm na ON na.source = p.source_a
    JOIN nrm nb ON nb.source = p.source_b
    ORDER BY 1, 2
    """


@query("text_source_signature_cosine", oracle=_SIG_COS_ORACLE)
def text_source_signature_cosine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise COSINE between source signature profiles — the
    provenance matrix over the lexical fingerprints
    `text_source_signature_terms` certifies: each source's profile is
    its top-{_SIG_COS_K} tf-idf-surrogate terms (the identical exact
    floor-ppm weights, a wider cut of the same ranking), and every
    source pair reports shared-term count plus cosine in floor-ppm.
    Mirror/scraped source pairs read near 1e6; genuinely disjoint
    topical sources read near 0 — the lexical sibling of the
    winnowing containment matrix's char-level read (that one catches
    verbatim reuse; this one catches same-vocabulary-different-text).

    Exactness: the weights are certified integers; dot products and
    squared norms accumulate in EXACT wide arithmetic (HUGEINT /
    DECIMAL(38,0) — a top term's weight can reach 1e6·tf, whose
    square overflows int64 at corpus scale), and floats appear only
    in the final correctly-rounded sqrt/divide over exactly-
    representable integers, so the floor-ppm cosine lands in the
    oracle hash bit-identically.

    Scale shape: the same (source, term) count artifact as the
    signature op, a per-source top-k window, then an all-pairs join
    over |sources| x {_SIG_COS_K} profile rows — the pair stage is
    |sources|²-bounded (profile rows, not corpus rows). Nothing
    rescans documents.

    Reference basis: none; contract text-analysis family (SURVEY
    §2.10) — the pairwise rung above `text_source_signature_terms`."""
    from pyspark.sql import Window

    from ._shared import fan_out

    t = fan_out(load_table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "source", F.explode(tokens("text")).alias("tok")
    )
    tf = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = t.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    s = tf.join(df_, "tok").select(
        "source",
        F.col("tok").alias("term"),
        F.expr("CAST((1000000 * tf) div df AS BIGINT)").alias("w"),
    )
    w_rk = Window.partitionBy("source").orderBy(F.col("w").desc(), "term")
    prof = (
        s.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= _SIG_COS_K)
        .select("source", "term", "w")
    )
    wd = F.col("w").cast("decimal(19,0)")
    nrm = prof.groupBy("source").agg(
        F.sum(wd * wd).cast("decimal(38,0)").alias("n2")
    )
    a = prof.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("w").alias("wa"),
    )
    b = prof.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum(
                F.col("wa").cast("decimal(19,0)")
                * F.col("wb").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("dot"),
        )
    )
    na = nrm.select(F.col("source").alias("source_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("source").alias("source_b"), F.col("n2").alias("nb2"))
    allp = na.crossJoin(nb).filter(F.col("source_a") < F.col("source_b"))
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        allp.join(dots, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_shared_terms", F.lit(0))
            .cast("long")
            .alias("n_shared_terms"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce("dot", zero).cast("double")
                / F.sqrt(
                    F.col("na2").cast("double") * F.col("nb2").cast("double")
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cos_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# N-gram family: INGEST N-GRAM NOVELTY (how much genuinely new text a crawl
# slice brings — the freshness audit beside the decon scrub, same gram
# machinery).
# ---------------------------------------------------------------------------

_NOVELTY_K = 8  # DECON_K — the release family's gram resolution

_NOVELTY_GRAM_SQL = (
    f"list_transform(range(len(toks) - {_NOVELTY_K - 1}), i -> "
    + " || ' ' || ".join(f"toks[i+{j + 1}]" for j in range(_NOVELTY_K))
    + ")"
)

_NGRAM_NOVELTY_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ),
    base_g AS MATERIALIZED (
      SELECT DISTINCT md5(unnest({_NOVELTY_GRAM_SQL})) AS gh
      FROM d WHERE doc_id % 7 <> 3
    ),
    new_g AS MATERIALIZED (
      SELECT DISTINCT source, md5(unnest({_NOVELTY_GRAM_SQL})) AS gh
      FROM d WHERE doc_id % 7 = 3
    ),
    nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_docs
      FROM d WHERE doc_id % 7 = 3 GROUP BY 1
    ),
    ng AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_grams
      FROM new_g GROUP BY 1
    ),
    nv AS (
      SELECT n.source, CAST(COUNT(*) AS BIGINT) AS n_novel_grams
      FROM new_g n LEFT JOIN base_g b USING (gh)
      WHERE b.gh IS NULL GROUP BY 1
    )
    SELECT nd.source, nd.n_new_docs,
           CAST(COALESCE(ng.n_new_grams, 0) AS BIGINT) AS n_new_grams,
           CAST(COALESCE(nv.n_novel_grams, 0) AS BIGINT) AS n_novel_grams,
           CAST(CASE WHEN COALESCE(ng.n_new_grams, 0) > 0
                     THEN (1000000 * COALESCE(nv.n_novel_grams, 0))
                          // ng.n_new_grams END AS BIGINT) AS novelty_ppm
    FROM nd LEFT JOIN ng USING (source) LEFT JOIN nv USING (source)
    ORDER BY nd.source
    """


@query("text_ingest_novelty", oracle=_NGRAM_NOVELTY_ORACLE)
def text_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST N-GRAM NOVELTY — per source, how much of an arriving
    crawl slice is text the corpus has never seen: the {_NOVELTY_K}-gram
    digest set of the NEW slice (the diff family's `doc_id % 7 == 3`
    ingest slice) anti-joined against the base corpus's global gram
    set, novelty = |unseen grams| / |slice grams| in exact ppm. The
    freshness dial a crawl scheduler reads: a source whose slices
    trend toward zero novelty is re-crawling what the corpus already
    holds and its budget should move (the decon scrub asks "did we
    train on eval"; this asks "did we ingest anything new") — same
    gram machinery (space-normalized token stream, per-doc DISTINCT
    before the explode, md5 digests so raw grams never shuffle), so
    the two audits share cost at scale. A slice whose documents are
    all shorter than {_NOVELTY_K} tokens reports novelty NULL, never
    a silent 0/0.

    Scale shape: the decon gram-join shape exactly — two DISTINCT
    gram builds collapsing to digests, ONE equi-join on the 16-byte
    digest, |sources|-row rollup. At 100 TB the base gram set is the
    persisted artifact the nightly ingest reuses; the slice side is
    ingest-sized.

    Reference basis: none; contract text-analysis family (SURVEY
    §2.10) — the freshness rung beside `text_source_signature_terms`
    and the decon scrub (`quality.py:1395` lineage)."""
    from ..functions.texttools import word_shingles
    from ._shared import fan_out

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    norm = F.trim(F.regexp_replace(F.col("text"), " +", " "))
    grams = F.explode(
        F.array_distinct(word_shingles(norm, k=_NOVELTY_K))
    )
    base_g = (
        fan_out(d.filter(F.col("doc_id") % 7 != 3), spark)
        .select(grams.alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    new_g = (
        fan_out(d.filter(F.col("doc_id") % 7 == 3), spark)
        .select("source", grams.alias("g"))
        .select("source", F.md5("g").alias("gh"))
        .distinct()
    )
    nd = (
        d.filter(F.col("doc_id") % 7 == 3)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_docs"))
    )
    ng = new_g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_grams")
    )
    nv = (
        new_g.join(base_g, "gh", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel_grams"))
    )
    z = F.lit(0)
    return (
        nd.join(ng, "source", "left")
        .join(nv, "source", "left")
        .select(
            "source",
            "n_new_docs",
            F.coalesce("n_new_grams", z).cast("long").alias("n_new_grams"),
            F.coalesce("n_novel_grams", z)
            .cast("long")
            .alias("n_novel_grams"),
            F.when(
                F.coalesce("n_new_grams", z) > 0,
                F.expr(
                    "(1000000 * coalesce(n_novel_grams, 0))"
                    " div n_new_grams"
                ),
            )
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Tokenizer family: BPE MERGE CANDIDATES (one tokenizer-induction round — the
# vocabulary-training step upstream of every token count in the text family).
# ---------------------------------------------------------------------------

_BPE_TOP = 20  # merge candidates reported (a trainer takes the argmax;
# the top-20 table is what you audit before committing a vocab)

_BPE_ORACLE = f"""
    WITH t AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
        AS w
      FROM documents
    ),
    v AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM t GROUP BY 1
    ),
    pos AS (
      SELECT w, freq, UNNEST(range(1, length(w))) AS i
      FROM v WHERE length(w) >= 2
    ),
    p AS (
      SELECT w, freq, substring(w, CAST(i AS INTEGER), 2) AS pair
      FROM pos
    ),
    agg AS (
      SELECT pair,
             CAST(SUM(freq) AS BIGINT) AS n_occurrences,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_vocab_words
      FROM p GROUP BY 1
    )
    SELECT pair, n_occurrences, n_vocab_words
    FROM agg ORDER BY n_occurrences DESC, pair LIMIT {_BPE_TOP}
    """


@query("text_bpe_merge_candidates", oracle=_BPE_ORACLE)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE BPE INDUCTION ROUND (Sennrich-Haddow-Birch byte-pair
    encoding, the public tokenizer-training algorithm): count every
    ADJACENT SYMBOL PAIR across the corpus at character granularity
    and report the top {_BPE_TOP} merge candidates — the argmax of
    this table IS the next merge a BPE trainer commits, and the table
    itself is the audit a vocab owner reads before pinning a
    tokenizer. Completes the tokenizer story the text family consumes
    everywhere (`text_token_count_bpe_ish` counts with a FIXED
    BPE-ish rule; this op is the training side that produces such a
    rule).

    The published scaling trick, load-bearing here: pairs are counted
    over the VOCABULARY (distinct word, frequency) — Heaps-law sized,
    ~n^0.5 of the corpus — with each word's pair multiset weighted by
    its corpus frequency, NOT by re-scanning every token occurrence.
    Both engines produce identical integer counts: occurrences sum
    freq over every adjacent position (a word contributes one count
    per position, so 'aaa' counts 'aa' twice), vocab support counts
    distinct words containing the pair. Single-char words carry no
    pair and exit via the same length >= 2 guard on both engines
    (Spark's sequence(1, len-1) would DESCEND for len < 2 instead of
    yielding empty — the guard is correctness, not just hygiene).

    Scale shape: tokenize pass -> map-side-combinable vocab agg ->
    position explode over vocab rows only -> one hash agg on the
    2-char pair key (alphabet², tiny) -> TakeOrdered top-{_BPE_TOP}
    (never a global sort). A full BPE train iterates this plan with
    the committed merge applied; each round is this same bounded
    shuffle.

    Reference basis: none; contract F11 text-analysis family
    (SURVEY §2.10) — the vocabulary-induction rung.
    """
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.length("w") >= 2)
    )
    p = v.select(
        "w",
        "freq",
        F.explode(
            F.expr("sequence(1, length(w) - 1)")
        ).alias("i"),
    ).select("w", "freq", F.expr("substring(w, i, 2)").alias("pair"))
    agg = p.groupBy("pair").agg(
        F.sum("freq").cast("long").alias("n_occurrences"),
        F.count_distinct("w").cast("long").alias("n_vocab_words"),
    )
    return agg.orderBy(
        F.col("n_occurrences").desc(), "pair"
    ).limit(_BPE_TOP)
