"""Deduplication operators (SURVEY §2.10 F8/F9; driver contract
"dedup"): exact hash dedup, MinHash+LSH near-dup, SimHash near-dup,
n-gram Jaccard verification, embedding-cosine near-dup.

Scale design (the point of each algorithm at 100 TB):

- **exact**: one scan + one shuffle on a 128-bit content hash. Never
  shuffles the text itself — group on ``md5`` and keep min(doc_id).
- **MinHash+LSH**: one digest per shingle expanded to a 32-seed
  universal hash family in codegen; the signature is 32 positional
  mins in one map-side-combined groupBy; banding shuffles
  O(docs × bands) small keys; only same-band docs are joined. The
  verification join touches candidate pairs only — never all pairs.
- **SimHash**: signature is a single groupBy (60 partial sums);
  candidate generation bands the 60-bit signature into 4×15-bit keys
  (Hamming ≤ 3 per band pigeonholes ≤ 12 total); verification is a
  cheap ``bit_count(xor)`` on two int64s.
- **n-gram Jaccard**: the exact verifier. The shared-shingle equi-join
  scales as Σ freq(shingle)²; production runs drop stop-shingles
  (document frequency cap) before joining — noted, not needed at test
  scale.
- **embedding cosine**: brute-force O(n²) kernel here (bounded input);
  the scale path is the LSH/IVF candidate generation in
  ``similarity.py`` feeding this same kernel.

All hashing derives from md5 (identical in DuckDB) so every stage is
oracle-checkable end to end — string hex where lexicographic order is
enough, integer slices (``texttools.hex_prefix_long``) where the
algorithm needs arithmetic. Swap ``F.xxhash64`` in production for ~5×
hash throughput; the algorithms don't change.

Each family's kernel is written once and every consumer calls it:

- **SimHash**: ``_simhash_band_collisions`` (the banded self-join; the
  pair builder and the Hamming histogram) and ``_cluster_best`` (the
  per-component quality pick; cluster representatives and the dedup
  corpus). Oracles share ``_SIMHASH_CAND_CTES`` and
  ``_CLUSTER_RANK_CTES``.
- **winnowing**: ``_winnow_windows`` (char k-gram md5 → window minima),
  ``_df_capped`` (the stop-fingerprint cap), ``_winnow_shared_pairs``
  (the inverted-index pair self-join); ``_winnow_live_index`` and the
  span audit's ``_winnow_position_index`` are built from them. Oracles
  share ``_WINNOW_WMIN_CTES``.
- **release ladder**: ``release_manifest(spark, sf_dir, drop_mods)`` is
  the one manifest builder (capstone, diff, gate, pin, retention, bias,
  GC and the streaming admission gate); ``drop_mods`` is the train-only
  slice rule, and ``_slice_pred`` is its oracle form. ``_pin``,
  ``_manifest_row`` and ``_manifest_digest`` render the pin certificate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import half_up
from ..functions.texttools import (
    MINHASH_P,
    hex_prefix_long,
    minhash_constants,
    minhash_family,
    sql_hex_long,
    tokens,
    word_shingles,
)
from ..functions.vector import SQL_DOT, SQL_NORM
from ..sources.tables import load_table
from ._shared import (
    bounded_collect,
    fan_out,
    maybe_broadcast,
    require_bounded,
    shared_df,
    shared_matrix_broadcast,
)
from .registry import oracle_prefix, query

# ---------------------------------------------------------------------------
# Exact dedup (F8).
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_by_hash",
    oracle="""
    SELECT md5(text)           AS content_hash,
           COUNT(*)            AS n_copies,
           MIN(doc_id)         AS canonical_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (F8): group on md5(text) — the 16-byte digest shuffles, the document text never does; min(doc_id) is the canonical survivor."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# Shared shingle-set builders (word 3-gram shingles, set semantics).
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
  sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(len(toks) - 2),
                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) x
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) with SET semantics, persisted once per session
    (shared by MinHash signatures/verification AND n-gram Jaccard).
    Deduplication happens per-doc via ``array_distinct`` BEFORE the
    explode — a narrow no-shuffle pass, unlike ``explode().distinct()``
    which would shuffle every shingle occurrence just to drop
    within-doc repeats."""

    def build() -> DataFrame:
        d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
        return d.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles("text", k=3))).alias("g"),
        )

    return shared_df("shingle_sets", sf_dir, spark, build)


# ---------------------------------------------------------------------------
# MinHash + LSH (F9).
# ---------------------------------------------------------------------------

_N_SEEDS = 32
_BAND_ROWS = 4  # 8 bands × 4 rows

_SEED_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(minhash_constants(_N_SEEDS))
)

_MINHASH_BANDS_CTES = (
    _SHINGLE_SQL
    + f""",
  hb AS (
    SELECT doc_id, {sql_hex_long('hx', 14, 1)} % {MINHASH_P} AS x
    FROM (SELECT doc_id, md5(g) AS hx FROM sh) z
  ),
  seeds (s, sa, sb) AS (VALUES {_SEED_VALUES}),
  mh AS (
    SELECT doc_id, s, MIN((sa * x + sb) % {MINHASH_P}) AS h
    FROM hb, seeds
    GROUP BY doc_id, s
  ),
  bands AS (
    SELECT doc_id, s // {_BAND_ROWS} AS band,
           string_agg(CAST(h AS VARCHAR), ',' ORDER BY s) AS bkey
    FROM mh GROUP BY doc_id, s // {_BAND_ROWS}
  )
"""
)

# shared verification/scoring tail over any `cand(doc_a, doc_b)` CTE
_MINHASH_VERIFY_CTES = """,
  verified AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sa.g = sb.g
    GROUP BY c.doc_a, c.doc_b
  ),
  pairs AS (
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
    FROM verified
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
  )
"""

_MINHASH_CTES = (
    _MINHASH_BANDS_CTES
    + """,
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  )"""
    + _MINHASH_VERIFY_CTES
)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs via banded minhash, verified with exact Jaccard —
    built once per session and shared by ``dedup_minhash_lsh_pairs``
    and ``dedup_minhash_canonical`` (one registered builder, two
    consumers — the 100 TB shape is a materialized pairs table).

    Hot-path shape (the things that matter at corpus scale):

    - ONE md5 per shingle; the 32-seed family derives from it as the
      universal hash ``h_s = a + s·b`` (a = 56-bit, b = 52-bit hex
      slices, so ``a + 31·b < 2^61`` — int64-safe in both engines,
      and cheap integer math replaces 32 digest calls per shingle).
      (A distinct-shingle dictionary + broadcast join back — the
      simhash module's trick — was measured here too: warm-equal but
      ~1.4s extra first-run broadcast cost, so the narrow per-row form
      stays.)
    - the signature is 32 positional ``min`` aggregates in a single
      ``groupBy(doc_id)`` — map-side partial aggregation collapses the
      shuffle to one 32-long row per doc (the naive explode-seeds-
      then-group form shuffles |shingles|×32 rows — 32× more).
    - band keys derive from the signature columns with no second
      shuffle.
    - the shingle set feeds FOUR consumers (sizes, signatures, both
      sides of the verification join); it is persisted so the tokenize/
      shingle pass runs once. The 100 TB equivalent is materializing
      the shingle table to storage between stages.
    """
    return shared_df("minhash_pairs", sf_dir, spark,
                     lambda: _build_minhash_pairs(spark, sf_dir),
                     materialize=True)


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 32-column minhash signature table ``(doc_id, h0..h31)``,
    built once per session and shared by the band index AND the
    estimator audit — the signature pass is the expensive stage
    (~1.5s of a 6s band build at sf0.1 when duplicated)."""

    def build() -> DataFrame:
        sh = _shingle_sets(spark, sf_dir)
        hs = minhash_family(F.md5("g"), _N_SEEDS)
        return (
            sh.select("doc_id", hs.alias("hs"))
            .groupBy("doc_id")
            .agg(
                *[
                    F.min(F.element_at("hs", s + 1)).alias(f"h{s}")
                    for s in range(_N_SEEDS)
                ]
            )
        )

    return shared_df("minhash_signatures", sf_dir, spark, build, materialize=True)


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded LSH index table ``(doc_id, band, bkey)``, persisted
    once per session — consumed by the full self-join pairs builder AND
    the incremental new-batch join. The 100 TB equivalent is the
    materialized LSH index a corpus maintains between ingests; without
    the shared persist, every consumer replays the whole
    shingle→md5→32-min signature pipeline (measured: ~1.5s of a 6s
    band join at sf0.1 was the duplicated signature pass)."""

    def build() -> DataFrame:
        sig = _minhash_signatures(spark, sf_dir)
        band_keys = F.array(
            *[
                F.concat_ws(
                    ",", *[F.col(f"h{b * _BAND_ROWS + r}") for r in range(_BAND_ROWS)]
                )
                for b in range(_N_SEEDS // _BAND_ROWS)
            ]
        )
        return sig.select("doc_id", F.posexplode(band_keys).alias("band", "bkey"))

    # materialize (lazy localCheckpoint): three consumers (both sides
    # of the full self-join, the incremental probe) read the index as
    # a SCAN instead of replaying the shingle→signature lineage in
    # every static plan — the in-session analog of the persisted index
    # table this builder stands for.
    return shared_df("minhash_bands", sf_dir, spark, build, materialize=True)


def _verify_jaccard(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs ``(doc_a, doc_b)`` —
    the verification stage shared by the full and incremental LSH
    pipelines. Touches candidates only, never all pairs."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    sb = sh.select(F.col("doc_id").alias("doc_b2"), F.col("g").alias("gb"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("ga") == F.col("gb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def _build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_sets(spark, sf_dir)
    bands = _minhash_bands(spark, sf_dir)
    # rename EVERY join column on the right side: both sides descend
    # from the same persisted `bands`, and same-name columns in a
    # same-lineage self-join are a known resolution footgun (Spark
    # warns "trivially true predicate 'band = band'")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("bkey").alias("bkey_a")
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bkey_a") == F.col("bkey_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(sh, cand)


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, ROUND(jaccard, 4) AS jaccard
    FROM pairs WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (F9): banded 32-hash signatures generate candidates, exact shingle-Jaccard verifies — only same-band docs are ever compared."""
    p = _minhash_pairs(spark, sf_dir)
    return p.filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


@query(
    "dedup_minhash_canonical",
    oracle=f"""
    WITH {_MINHASH_CTES},
    strong AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.9),
    e AS (SELECT doc_a AS d, doc_b AS nb FROM strong
          UNION ALL
          SELECT doc_b, doc_a FROM strong)
    SELECT doc_id,
           LEAST(doc_id, COALESCE(MIN(e.nb), doc_id)) AS canonical_id
    FROM documents LEFT JOIN e ON e.d = doc_id
    GROUP BY doc_id
    """,
)
def dedup_minhash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hop canonicalization: every doc maps to the least doc_id in
    its near-dup neighborhood (jaccard ≥ 0.9). Full transitive closure
    would iterate this to a fixed point (connected components); planted
    duplicates come in pairs, so one hop converges here."""
    d = load_table(spark, sf_dir, "documents")
    # `_minhash_pairs` is session-shared and persisted, so both
    # directions of the symmetric edge union (and the lsh_pairs query)
    # re-read the cached pairs instead of replaying the pipeline
    strong = _minhash_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    e = strong.select(
        F.col("doc_a").alias("d"), F.col("doc_b").alias("nb")
    ).unionByName(strong.select(F.col("doc_b").alias("d"), F.col("doc_a").alias("nb")))
    return (
        d.join(e, d["doc_id"] == e["d"], "left")
        .groupBy("doc_id")
        .agg(
            F.least(
                F.col("doc_id"), F.coalesce(F.min("nb"), F.col("doc_id"))
            ).alias("canonical_id")
        )
    )


@query(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
      WHERE b.doc_id % 10 = 9
    ){_MINHASH_VERIFY_CTES}
    SELECT doc_a, doc_b, ROUND(jaccard, 4) AS jaccard
    FROM pairs WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-shaped near-dedup: pair a NEW batch (docs with
    ``doc_id % 10 == 9``, standing in for today's ingest) against the
    whole corpus — WITHOUT ever self-joining the corpus.

    The scale story this demonstrates: the banded LSH signature table
    is a PERSISTED INDEX the corpus maintains between ingests (here the
    session-shared ``_minhash_bands``); an incremental run only probes
    it with the new batch's band keys. The new side is small by
    construction, so it is explicitly BROADCAST — the corpus-sized
    index never shuffles, each task streams its index partition past
    the in-memory batch keys. "Small" is ENFORCED, not assumed: a
    bounded probe raises before the broadcast if the batch exceeds the
    driver-collect budget, with an error naming the partitioned
    probe-join fallback — misuse at real scale fails fast instead of
    OOMing executors. Candidates where both docs are new
    arrive twice ((a,b) and (b,a)); least/greatest + distinct
    canonicalizes. Verification is the exact shingle-Jaccard shared
    with the full pipeline, restricted to candidates."""
    sh = _shingle_sets(spark, sf_dir)
    bands = _minhash_bands(spark, sf_dir)
    new = bands.filter(F.col("doc_id") % 10 == 9).select(
        F.col("doc_id").alias("doc_n"),
        F.col("band").alias("band_n"),
        F.col("bkey").alias("bkey_n"),
    )
    require_bounded(
        new,
        what="dedup_minhash_incremental new-batch band keys",
        hint=(
            "The broadcast probe assumes an ingest-sized batch; for a "
            "batch this large drop the F.broadcast hint and run the same "
            "(band, bkey) equi-join as a partitioned shuffle join against "
            "the persisted index — identical semantics, only the probe "
            "strategy changes."
        ),
    )
    cand = (
        bands.join(
            F.broadcast(new),
            (F.col("band") == F.col("band_n"))
            & (F.col("bkey") == F.col("bkey_n"))
            & (F.col("doc_id") != F.col("doc_n")),
        )
        .select(
            F.least("doc_id", "doc_n").alias("doc_a"),
            F.greatest("doc_id", "doc_n").alias("doc_b"),
        )
        .distinct()
    )
    return (
        _verify_jaccard(sh, cand)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


@query(
    "pipeline_dedup_ingest",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
      WHERE b.doc_id % 10 = 9
    ){_MINHASH_VERIFY_CTES},
    dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
    rej AS (
      SELECT DISTINCT CASE
               WHEN doc_a % 10 = 9 AND doc_b % 10 <> 9 THEN doc_a
               ELSE doc_b
             END AS doc_id
      FROM dup
    )
    SELECT d.doc_id, d.source, d.lang,
           LENGTH(d.text) AS text_chars
    FROM documents d
    WHERE d.doc_id % 10 = 9
      AND d.doc_id NOT IN (SELECT doc_id FROM rej)
    """,
)
def pipeline_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NIGHTLY-INGEST composition (batch sibling of
    `pipeline_dedup_corpus`): a new batch (docs with ``doc_id % 10 ==
    9``, the same stand-in as `dedup_minhash_incremental`) is admitted
    into the corpus only if it survives near-dup screening —

    - a new doc that is a near-dup (Jaccard ≥ 0.5) of ANY existing
      corpus doc is rejected unconditionally;
    - within the batch, first-wins: of two near-dup new docs the lower
      doc_id is admitted, the higher rejected (deterministic, and
      transitively conservative — a doc whose only match was itself
      rejected still stays out).

    The admitted rows carry their corpus metadata — this is the
    DataFrame a real pipeline appends to the corpus and feeds to the
    index updater. Every stage is the already-certified incremental
    machinery: the persisted band index is probed with the batch's
    keys BROADCAST (budget-enforced), candidates verify by exact
    shingle Jaccard, and the rejection rule is one narrow projection +
    anti-join — per-ingest cost stays O(batch), independent of corpus
    size."""
    pairs = dedup_minhash_incremental(spark, sf_dir)
    new_a = F.col("doc_a") % 10 == 9
    new_b = F.col("doc_b") % 10 == 9
    rejected = pairs.select(
        F.when(new_a & ~new_b, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 9)
    return batch.join(rejected, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (no LSH): candidate = docs sharing ≥1 shingle.
# ---------------------------------------------------------------------------


_STOP_SHINGLE_DF_CAP = 250  # drop shingles appearing in more docs


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    live AS (
      SELECT g FROM sh GROUP BY g
      HAVING COUNT(*) <= {_STOP_SHINGLE_DF_CAP}
    ),
    shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN live USING (g)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.3
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-shingle Jaccard over docs sharing any shingle,
    with the stop-shingle document-frequency cap ENFORCED before the
    self-join (not just documented): the join costs Σ df(g)², so one
    viral boilerplate shingle at web scale turns it quadratic — the cap
    drops shingles appearing in > 250 docs from candidate generation (a
    standard near-dup approximation; Jaccard denominators still count
    every shingle). Inert at sf0.01 (500 docs, every df ≤ cap),
    mirrored exactly in the oracle either way."""
    inter = _shingle_intersections(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.filter(jac >= 0.3).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


def _shingle_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) — exact shingle-set intersection sizes
    for all doc pairs sharing ≥ 1 live (DF-capped) shingle, plus both
    set sizes. The shared candidate machinery behind every exact
    set-similarity measure (Jaccard, containment, overlap coefficient):
    one filtered self-join, metric arithmetic left to the caller."""
    sh = _shingle_sets(spark, sf_dir)  # session-shared, persisted
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    live = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _STOP_SHINGLE_DF_CAP)
        .select("g")
    )
    shf = sh.join(live, "g")
    a = shf.select(F.col("doc_id").alias("doc_a"), "g")
    b = shf.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g2"))
    inter = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    live AS (
      SELECT g FROM sh GROUP BY g
      HAVING COUNT(*) <= {_STOP_SHINGLE_DF_CAP}
    ),
    shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN live USING (g)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / LEAST(na.n, nb.n), 4) AS containment,
           ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / LEAST(na.n, nb.n) >= 0.5
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set CONTAINMENT pairs — |A∩B| / min(|A|, |B|) — the
    asymmetric near-dup measure that catches a small document embedded
    inside a much larger one (quote farms, page-plus-boilerplate,
    excerpted articles), which Jaccard structurally misses: a 100-line
    doc fully contained in a 10,000-line doc has Jaccard ≈ 0.01 but
    containment 1.0.

    Shares the session-shared shingle sets, the stop-shingle DF cap,
    and the candidates-sharing-a-shingle join with
    :func:`dedup_ngram_jaccard_pairs` (one `_shingle_intersections`
    build, two metrics) — adding the second measure costs nothing at
    scale. Jaccard is emitted alongside so downstream thresholds can
    see both measures per pair; containment ≥ 0.5 keeps the output to
    real sub-document overlap.
    """
    inter = _shingle_intersections(spark, sf_dir)
    cont = F.col("i").cast("double") / F.least("na", "nb")
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.filter(cont >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (60-bit, token multiset).
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60

# DuckDB: parse first 15 hex chars of md5 into a 60-bit BIGINT.
_SQL_HEX2LONG = (
    "CAST(list_sum(list_transform(range(15), j -> "
    "CAST(strpos('0123456789abcdef', substring({h}, j + 1, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (14 - j))))) AS BIGINT)"
)


def _simhash_sql_cte() -> str:
    h = _SQL_HEX2LONG.format(h="md5(t)")
    weight_cols = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {_SIMHASH_BITS - 1 - k}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{k}"
        for k in range(_SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN s_{k} >= 0 THEN (CAST(1 AS BIGINT) << {_SIMHASH_BITS - 1 - k}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for k in range(_SIMHASH_BITS)
    )
    return f"""
  tok AS (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t FROM documents
  ),
  hashed AS (SELECT doc_id, {h} AS h FROM tok),
  weights AS (
    SELECT doc_id,
      {weight_cols}
    FROM hashed GROUP BY doc_id
  ),
  sigs AS (SELECT doc_id, {sig_terms} AS simhash FROM weights)
"""


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit simhash over the token multiset (bit k = sign of the
    popularity-weighted ±1 vote of hash-bit k across tokens). Built
    once per session; signatures, pairs, and connected components all
    read the same persisted result."""
    return shared_df("simhash_sigs", sf_dir, spark,
                     lambda: _build_simhash_signatures(spark, sf_dir))


def _build_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: a single-row-group documents file otherwise pins the
    # explode + md5 + 61-buffer partial aggregation to ONE task
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    # ONE md5 per token OCCURRENCE in a narrow projection feeding the
    # partial aggregation directly. This replaces the round-2
    # dictionary-join form (distinct vocab + md5 + broadcast join
    # back), which was profiled this round at ~3s warm vs 0.5s for
    # this form at sf0.1: the vocab distinct is a shuffle and the
    # broadcast a driver collect, both pure overhead when the digest
    # itself is cheap. The narrow no-shuffle pipeline is also the
    # 100 TB shape — an open-vocabulary corpus may not even have a
    # broadcastable dictionary. (The projection is NOT collapsed into
    # the aggregate expressions: partial aggregation evaluates `h`
    # once per row, verified by a single md5 in the physical plan.)
    hashed = tok.select("doc_id", hex_prefix_long(F.md5("t"), 15).alias("h"))
    # ones-counts instead of ±1 votes: sum((h>>s)&1) is a branch-free
    # aggregate, and sign(votes_k) >= 0  ⟺  2·ones_k >= n_tokens
    weights = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright(F.col("h"), _SIMHASH_BITS - 1 - k).bitwiseAND(1)
            ).alias(f"o_{k}")
            for k in range(_SIMHASH_BITS)
        ],
    )
    sig = None
    for k in range(_SIMHASH_BITS):
        term = F.when(
            F.col(f"o_{k}") * 2 >= F.col("n"),
            F.lit(1 << (_SIMHASH_BITS - 1 - k)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return weights.select("doc_id", sig.alias("simhash"))


@query(
    "dedup_simhash_signatures",
    oracle=f"""
    WITH {_simhash_sql_cte()}
    SELECT doc_id, simhash FROM sigs
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document: one hash-agg of ±1 bit votes over the token multiset; near-dups differ in few bits."""
    return _simhash_signatures(spark, sf_dir)


_N_SIM_BANDS = 4
_SIM_BAND_BITS = _SIMHASH_BITS // _N_SIM_BANDS  # 15
_HAMMING_MAX = 8

# the banded candidate CTEs every SimHash oracle shares: signatures,
# 4 x 15-bit band values, DISTINCT band collisions with both signatures
_SIMHASH_CAND_CTES = f"""{_simhash_sql_cte()},
    bands AS (
      SELECT doc_id, simhash, b,
             (simhash >> ({_SIMHASH_BITS} - {_SIM_BAND_BITS} * (b + 1)))
               & {(1 << _SIM_BAND_BITS) - 1} AS bval
      FROM sigs, (SELECT unnest(range({_N_SIM_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id
    )"""


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CAND_CTES}
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {_HAMMING_MAX}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash candidates (4×15-bit; Hamming ≤ 3 per band is
    pigeonhole-guaranteed a band match) verified by exact Hamming
    distance on the two int64 signatures. The verified pairs are
    session-shared: connected components consumes them too."""
    return shared_df("simhash_pairs", sf_dir, spark,
                     lambda: _build_simhash_pairs(spark, sf_dir),
                     materialize=True)


def _simhash_band_collisions(
    spark: SparkSession, sf_dir: str, persist: bool = False
) -> DataFrame:
    """The banded SimHash self-join: one (doc_a, doc_b, sig_a, sig_b)
    row per band on which doc_a < doc_b collide — a pair colliding on
    several bands appears once per band. ``persist`` caches the banded
    table the self-join reads twice."""
    sigs = _simhash_signatures(spark, sf_dir)
    banded = sigs.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_N_SIM_BANDS - 1)))
    ).withColumn(
        "bval",
        # F.shiftright only takes a literal shift — use expr for the
        # per-band dynamic shift
        F.expr(
            f"shiftright(simhash, {_SIMHASH_BITS} - {_SIM_BAND_BITS} * (b + 1))"
            f" & {(1 << _SIM_BAND_BITS) - 1}"
        ),
    )
    if persist:
        banded = banded.persist()
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "b", "bval"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        F.col("b").alias("b2"),
        F.col("bval").alias("bval2"),
    )
    return a.join(
        b,
        (F.col("b") == F.col("b2"))
        & (F.col("bval") == F.col("bval2"))
        & (F.col("doc_a") < F.col("doc_b")),
    ).select("doc_a", "doc_b", "sig_a", "sig_b")


def _build_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: without it the 60-sum signature aggregation runs once
    # per side of the self-join.
    # Hamming-verify BEFORE deduplicating band collisions: the filter
    # is a narrow per-row op that cuts the candidate stream ~9× here,
    # so the distinct (a shuffle) runs over the small verified set of
    # 3 narrow columns instead of the wide 4-column collision stream.
    # Same result set: a (doc_a, doc_b) pair determines its signatures,
    # hence its hamming — distinct on the projection is distinct on
    # the pair.
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        _simhash_band_collisions(spark, sf_dir, persist=True)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (brute force at test scale; see similarity.py
# for the LSH/IVF candidate-generation scale path).
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({SQL_DOT.format(a='a.embedding', b='b.embedding')}
                 / ({SQL_NORM.format(a='a.embedding')}
                    * {SQL_NORM.format(a='b.embedding')}), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({SQL_DOT.format(a='a.embedding', b='b.embedding')}
                / ({SQL_NORM.format(a='a.embedding')}
                   * {SQL_NORM.format(a='b.embedding')}), 6) >= 0.4
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ threshold via a blocked numpy matmul inside
    ``mapInPandas`` (Arrow-batched, BLAS kernel).

    Why not pure column expressions: a 64-dim dot product per pair is
    either an interpreted higher-order fold or a 130-term unrolled
    expression that trips Spark's codegen hugeMethodLimit — both
    evaluate interpreted, ~10× slower than one ``A @ B.T``. Dense O(n²)
    math is exactly the documented Pandas-UDF escape hatch.

    Scale shape: the broadcast side is the BOUNDED candidate/query set
    (like a broadcast join build side); the stream side partitions
    freely. The bound is ENFORCED — ``bounded_collect`` raises before
    collecting past the budget. For open-ended corpora, generate
    candidates first (MinHash/SimHash/LSH above, or IVF in
    similarity.py) and feed this kernel pairs, never the full cross
    product.
    """
    import numpy as np  # local import: keep module import light
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded + session-shared with sim_topk_bruteforce (same matrix)
    bc = shared_matrix_broadcast("embeddings_matrix", sf_dir, spark, emb)

    def gen(batches):
        bids, bmat, bnorms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ia = pdf["vec_id"].to_numpy()
            na = np.sqrt((A * A).sum(axis=1))
            cos = (A @ bmat.T) / (na[:, None] * bnorms[None, :])
            mask = (ia[:, None] < bids[None, :]) & (np.round(cos, 6) >= 0.4)
            r, c = np.nonzero(mask)
            yield pd.DataFrame(
                {"vec_a": ia[r], "vec_b": bids[c], "cos_raw": cos[r, c]}
            )

    # fan_out: a single-row-group embeddings file would otherwise run
    # the whole blocked matmul in ONE Arrow task
    return fan_out(emb, spark).mapInPandas(
        gen, schema="vec_a long, vec_b long, cos_raw double"
    ).select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos"))


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH {_SIMHASH_CAND_CTES},
    np AS (
      SELECT doc_a, doc_b FROM cand
      WHERE bit_count(xor(sig_a, sig_b)) <= {_HAMMING_MAX}
    ),
    j AS (
      SELECT least(da.source, db.source) AS src_lo,
             greatest(da.source, db.source) AS src_hi
      FROM np
      JOIN documents da ON da.doc_id = np.doc_a
      JOIN documents db ON db.doc_id = np.doc_b
    )
    SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
           CAST(src_lo = src_hi AS BOOLEAN) AS within_source
    FROM j GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE of near-duplication: the verified SimHash pairs
    rolled up by (source, source) — which sources mirror each other
    (cross-source rows: syndication, scrapes of the same upstream,
    licensing leakage) vs which duplicate internally (within_source
    rows: templates, reposts). The per-cell counts tell a mix designer
    whether deduplicating source A mostly deletes A's own redundancy
    or silently drains B.

    Cost shape: reads the session-shared verified pair table (built
    once, tiny relative to the corpus), joins doc→source metadata on
    doc_id twice (co-partitioned equi-joins), and aggregates to
    |sources|² cells — the report is kilobytes at any corpus size.
    Pair orientation is canonicalized with least/greatest so the
    matrix is upper-triangular and engine-independent."""
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents")
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (
        j.select(
            F.least("_sa", "_sb").alias("src_lo"),
            F.greatest("_sa", "_sb").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("within_source", F.col("src_lo") == F.col("src_hi"))
    )


# ---------------------------------------------------------------------------
# Transitive closure of the near-dup graph (connected components).
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
    WITH RECURSIVE {_SIMHASH_CAND_CTES},
    near_pairs AS (
      SELECT doc_a, doc_b FROM cand
      WHERE bit_count(xor(sig_a, sig_b)) <= {_HAMMING_MAX}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM near_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM near_pairs
    ),
    walk AS (
      SELECT doc_id AS d, doc_id AS lab FROM documents
      UNION
      SELECT e.t AS d, w.lab FROM walk w JOIN edges e ON e.s = w.d
    )
    SELECT d AS doc_id, MIN(lab) AS component FROM walk GROUP BY d
"""


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared connected-component labels (the iterative loop
    runs once; the labels query and the cluster-stats rollup both read
    the materialized result)."""
    return shared_df("cc_labels", sf_dir, spark,
                     lambda: _build_cc_labels(spark, sf_dir),
                     materialize=True)


@query("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the simhash near-dup graph (Hamming ≤ 8):
    each document labeled with the least doc_id reachable through any
    chain of near-dup pairs — the transitive closure that one-hop
    canonicalization (``dedup_minhash_canonical``) deliberately skips.

    Iterative min-label propagation with star augmentation: every
    round each vertex takes the min over its neighbors AND its current
    label's label (pointer edges added to the adjacency), converging
    in O(log diameter) rounds. Each round is one distributed join +
    hash-agg;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    doesn't replay rounds 1..N-1 (the classic iterative-algorithm trap
    — production jobs use reliable checkpoints or GraphX/GraphFrames'
    Pregel loop, same algorithm). Convergence is detected by the label
    sum, which strictly decreases until the fixed point.

    ``localCheckpoint`` blocks are executor-local and die with an
    executor; the restart-survivable tier is
    :func:`cc_labels_reliable`, which runs the SAME loop over
    ``setCheckpointDir``-backed reliable checkpoints.
    """
    return _cc_labels(spark, sf_dir)


def cc_labels_reliable(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Production tier of the label-propagation loop: identical
    algorithm, but every round commits to a RELIABLE checkpoint under
    ``checkpoint_dir`` (durable storage — HDFS/S3 on a cluster), so the
    iteration survives executor loss and the final labels are a
    restart-readable artifact, not session-lifetime RDD blocks. This is
    the CC counterpart of the durable LSH band index
    (tests/test_round3_ops.py proves that round-trip).

    ``setCheckpointDir`` is session-global; the prior directory is
    restored after the build (every round's ``df.checkpoint()`` is
    eager, so nothing here lazily depends on the directory once the
    labels are returned). Two documented edges: restoration re-roots
    under the prior directory (Spark appends a fresh UUID level per
    ``setCheckpointDir`` call), and when no directory was set before,
    this one stays set — Spark has no unset."""
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(checkpoint_dir)
    try:
        return _build_cc_labels(spark, sf_dir, reliable=True)
    finally:
        if prev is not None:
            sc.setCheckpointDir(prev)


def _build_cc_labels(
    spark: SparkSession, sf_dir: str, reliable: bool = False
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return propagate_min_labels(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        reliable=reliable,
    ).select(F.col("id").alias("doc_id"), "component")


def propagate_min_labels(
    vertices: DataFrame, pairs: DataFrame, reliable: bool = False
) -> DataFrame:
    """Connected-component labels (id, component) for an undirected
    graph given as ``vertices(id)`` and ``pairs(a, b)`` — the generic
    transitive-closure machinery behind every dedup composition
    (SimHash doc graph, SRP embedding graph).

    Two tiers, same labels either way (component = min reachable id):

    - **small-graph fast path** (default when ``reliable=False``):
      near-dup EDGE lists are orders of magnitude smaller than the
      corpus (only verified duplicate pairs), so when the edge list
      fits the driver-collect budget it is ``bounded_collect``-ed and
      union-found in O(E α) — replacing ~8 distributed rounds (each a
      join + agg + checkpoint + convergence job, pure scheduler
      overhead on a small graph) with ONE job plus a broadcast-mapped
      join. Vertices never collect; only edge endpoints do. Over
      budget → falls through to the loop.
    - **distributed loop**: star-augmented min-label propagation
      converging in O(log diameter) single join+agg rounds, lineage
      truncated per round (localCheckpoint, or reliable checkpoints
      when ``reliable=True`` — the restart-survivable tier always
      uses the loop so its state lives in the checkpoint dir, not
      driver memory), fixed point detected by the strictly-decreasing
      label sum.
    """
    if not reliable:
        try:
            edge_rows = bounded_collect(
                pairs, what="near-dup edge list (CC fast path)"
            )
        except ValueError:
            edge_rows = None  # over budget → distributed loop
        if edge_rows is not None:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in edge_rows:
                ra, rb = find(row[0]), find(row[1])
                if ra != rb:
                    # union by min id → root IS the component label
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            mapping = [
                (x, find(x)) for x in parent
            ]  # only edge endpoints need remapping; singletons map to self
            spark = vertices.sparkSession
            if mapping:
                mdf = spark.createDataFrame(mapping, "id long, component long")
                return vertices.join(F.broadcast(mdf), "id", "left").select(
                    "id",
                    F.coalesce("component", F.col("id")).alias("component"),
                )
            return vertices.select("id", F.col("id").alias("component"))

    def commit(df: DataFrame) -> DataFrame:
        # reliable=True → setCheckpointDir-backed checkpoint (durable,
        # survives executor death); False → executor-local blocks
        # (faster, the right single-tenant local call).
        return df.checkpoint() if reliable else df.localCheckpoint()

    edges = commit(  # materialize once; rounds re-read, not re-hash
        pairs.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
            pairs.select(F.col("b").alias("s"), F.col("a").alias("t"))
        )
    )
    labels = commit(
        vertices.select(F.col("id").alias("d"), F.col("id").alias("lab"))
    )
    prev_sum = labels.agg(F.sum("lab")).first()[0]
    for _ in range(20):  # ~log(diameter) with star edges; 20 is slack
        # STAR-AUGMENTED propagation (round-5 perf): alongside the real
        # near-dup edges, each round adds the current label pointers as
        # edges in BOTH directions (lab↔d). Grouping by target then
        # delivers lab(lab(d)) — a pointer jump — in the SAME single
        # join+agg job as the one-hop relax, so convergence needs
        # O(log diameter) rounds instead of O(diameter) at identical
        # per-round cost (measured at sf0.1: 11 → 8 rounds, final
        # labels bit-identical; an explicit second jump per round
        # halved rounds again but doubled job depth for a net loss).
        # Per-round cost here is Spark job overhead, not compute — the
        # label table is tiny relative to the corpus — and at 100 TB
        # fewer rounds means fewer full shuffles of the label table,
        # which DOES matter.
        ptr = labels.select(F.col("lab").alias("s"), F.col("d").alias("t"))
        rptr = labels.select(F.col("d").alias("s"), F.col("lab").alias("t"))
        aug = edges.unionByName(ptr).unionByName(rptr)
        nbr = (
            labels.join(aug, F.col("d") == F.col("s"))
            .groupBy("t")
            .agg(F.min("lab").alias("nlab"))
        )
        labels = commit(
            labels.join(nbr, F.col("d") == F.col("t"), "left").select(
                "d",
                F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab"),
            )
        )
        cur_sum = labels.agg(F.sum("lab")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("d").alias("id"), F.col("lab").alias("component"))


@query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH comp AS ({_CC_ORACLE}),
    sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
    SELECT COUNT(*)                                     AS n_clusters,
           CAST(SUM(csize) AS BIGINT)                   AS n_docs,
           CAST(SUM(csize) AS BIGINT) - COUNT(*)        AS n_redundant,
           ROUND(1.0 - COUNT(*) / CAST(SUM(csize) AS DOUBLE), 4) AS dup_ratio,
           MAX(csize)                                   AS max_cluster
    FROM sizes
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup report from the transitive near-dup closure:
    cluster count, redundant-doc count, dup ratio, and the largest
    cluster — the numbers a 100 TB dedup run actually publishes. Reads
    the session-shared CC labels, so it costs one tiny aggregate, not a
    second label-propagation run."""
    labels = _cc_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(sizes, "component")
        .agg(
            F.countDistinct("component").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("component")).alias("n_redundant"),
            F.round(
                1.0
                - F.countDistinct("component").cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("dup_ratio"),
            F.max("csize").alias("max_cluster"),
        )
    )


# the oracle's per-component quality rank (rn = 1 is the representative)
_CLUSTER_RANK_CTES = f"""comp AS ({_CC_ORACLE}),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), t -> t <> '')) AS ratio
      FROM documents
    ),
    j AS (
      SELECT comp.component, comp.doc_id, q.ratio
      FROM comp JOIN q USING (doc_id)
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY ratio DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS csize
      FROM j
    )"""


def _cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per connected component: its size ``csize`` and its best member
    ``_b`` = max(struct(ratio, nid = −doc_id)) — the highest
    lexical-diversity ratio (distinct / all tokens), ties to the lowest
    doc_id — as ONE mergeable aggregate over the session-shared CC
    labels."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    q = d.select(
        "doc_id",
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("ratio"),
    )
    best = F.max(F.struct(F.col("ratio"), (-F.col("doc_id")).alias("nid")))
    return (
        _cc_labels(spark, sf_dir)
        .join(q, "doc_id")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("csize"), best.alias("_b"))
    )


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH {_CLUSTER_RANK_CTES}
    SELECT component, csize, doc_id AS rep_doc_id,
           ROUND(ratio, 4) AS rep_ratio,
           csize - 1 AS n_dropped
    FROM r WHERE rn = 1 AND csize >= 2
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual DELIVERABLE: one surviving document
    per near-dup cluster, chosen by QUALITY (lexical-diversity ratio,
    the `text_quality_score` metric) rather than the min-id convention
    — keep the best copy, drop the rest. Reads the session-shared CC
    labels, joins the per-doc ratio (ratio is a single IEEE division of
    identical integer inputs, so it is bit-identical cross-engine and
    safe to ORDER on), and reduces each cluster with ONE constant-state
    argmax — max(struct(ratio, −doc_id)) encodes 'highest ratio, ties
    to lowest id' as a plain mergeable aggregate, so at 100 TB only
    (component, best-so-far) states shuffle, vs the oracle's
    sort-every-partition double window. Singleton clusters are
    excluded: the report lists where deduplication actually bites."""
    return (
        _cluster_best(spark, sf_dir)
        .filter(F.col("csize") >= 2)
        .select(
            "component",
            "csize",
            (-F.col("_b.nid")).alias("rep_doc_id"),
            F.round("_b.ratio", 4).alias("rep_ratio"),
            (F.col("csize") - 1).alias("n_dropped"),
        )
    )


@query(
    "pipeline_dedup_corpus",
    oracle=f"""
    WITH {_CLUSTER_RANK_CTES}
    SELECT d.doc_id, r.component, r.csize, d.source, d.lang,
           LENGTH(d.text) AS text_chars
    FROM r JOIN documents d USING (doc_id)
    WHERE r.rn = 1
    """,
)
def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup deliverable, composed from the certified
    stages: documents → SimHash signatures → banded candidate pairs →
    Hamming-verified edges → connected-component labels → ONE surviving
    document per cluster by quality argmax (singletons survive as their
    own representative) → survivors rejoined to the corpus metadata.
    This is the job a training-data pipeline runs nightly; every stage
    is individually driver-certified and this query certifies their
    COMPOSITION (the full lineage hashes end to end).

    Plan shape: the session-shared CC labels materialize once; the
    survivor choice is the same mergeable ``max(struct(ratio, −id))``
    argmax as `dedup_cluster_representatives` (no csize filter — a
    singleton's best doc is itself); the final metadata join is an
    equi-join on doc_id. At 100 TB: band index and labels are the
    heavy shuffles (sized in SCALING.md); the argmax shuffles one
    (component, best) state per cluster; the rejoin co-partitions on
    doc_id. The surviving corpus then streams through the 2PC
    ``sheetdir`` sink (tests/test_round5_ops.py proves the
    commit-manifest and abort paths on exactly this output)."""
    survivors = _cluster_best(spark, sf_dir).select(
        "component", "csize", (-F.col("_b.nid")).alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    return survivors.join(d, "doc_id").select(
        "doc_id",
        "component",
        "csize",
        "source",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
    )


@query(
    "pipeline_training_export",
    oracle=f"""
    WITH comp AS ({_CC_ORACLE}),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), t -> t <> '')) AS ratio,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT comp.component, comp.doc_id, q.ratio,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY ratio DESC, comp.doc_id ASC) AS rn
      FROM comp JOIN q USING (doc_id)
    ),
    surv AS (SELECT doc_id FROM r WHERE rn = 1),
    gated AS (
      SELECT d.doc_id, d.lang, d.source, q.n_tokens
      FROM surv
      JOIN documents d USING (doc_id)
      JOIN q USING (doc_id)
      WHERE q.n_tokens BETWEEN 20 AND 80
        AND q.ratio > 0.25
        AND d.lang IN ('en', 'de', 'fr')
    ),
    rates AS (
      SELECT lang, source,
             ROUND(sqrt(CAST(MIN(n_docs) OVER () AS DOUBLE) / n_docs), 9)
               AS rate
      FROM (SELECT lang, source, COUNT(*) AS n_docs
            FROM gated GROUP BY lang, source) m
    ),
    acc AS (
      SELECT g.doc_id, g.source, g.n_tokens
      FROM gated g JOIN rates USING (lang, source)
      WHERE ({sql_hex_long("md5(CAST(g.doc_id AS VARCHAR))", 13, 1)} + 1)
              / 4503599627370496.0 < rates.rate
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                                             ORDER BY doc_id)
                         - n_tokens) / 512.0) AS BIGINT) AS seq_id
      FROM acc
    )
    SELECT source, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS toks
    FROM packed GROUP BY source, seq_id
    """,
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE composition — the full corpus-to-training-batches
    export a pretraining data pipeline ships, certified end to end
    through four certified stages: (1) lexical dedup survivors
    (`pipeline_dedup_corpus`: SimHash → CC → quality argmax), (2) the
    quality/language gate (`corpus_clean_pipeline`'s predicate), (3)
    temperature-T=2 mix flattening over the *gated survivors'*
    (lang, source) strata with the deterministic md5 acceptance rule
    (`sample_temperature_mix`), (4) greedy 512-token sequence packing
    per source (`pack_sequences_by_budget`). Output: one row per
    packed training sequence with its document and token counts.

    Every stage reuses the exact arithmetic its standalone certified
    query uses (sqrt-rate acceptance boundary, md5-52-bit uniform,
    exclusive-prefix-sum packing), so the composition's hash certifies
    the stages COMPOSE correctly — the mix rates here differ from the
    standalone query's because they are computed on the deduped, gated
    corpus (as a real export must), not the raw one.

    Plan shape at 100 TB: CC labels + band index are the heavy stages
    (sized in SCALING.md); the gate is a narrow filter on the survivor
    join; the mix table is tiny (strata count); packing windows
    partition by source — per-shard sorts, no global sort; the output
    is sequence-count-sized.
    """
    from pyspark.sql import Window

    surv = pipeline_dedup_corpus(spark, sf_dir).select("doc_id")
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    meta = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "ratio"
        ),
    )
    # gated survivors: a narrow 4-column table behind the dedup
    # survivor argmax + tokenize join, referenced three times below
    # (mix → n_min, mix → rates, and the acceptance join) — checkpoint
    # it once (the CC labels underneath are already session-shared;
    # this covers the argmax/rejoin/tokenize replay above them)
    gated = shared_df(
        "training_export_gated",
        sf_dir,
        spark,
        lambda: (
            surv.join(meta, "doc_id")
            .filter(
                F.col("n_tokens").between(20, 80)
                & (F.col("ratio") > 0.25)
                & F.col("lang").isin("en", "de", "fr")
            )
            .select("doc_id", "lang", "source", "n_tokens")
        ),
        materialize=True,
    )
    mix = gated.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = mix.agg(F.min("n_docs").alias("_n_min"))
    rates = mix.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "source",
        F.round(
            F.sqrt(F.col("_n_min").cast("double") / F.col("n_docs")), 9
        ).alias("rate"),
    )
    h = hex_prefix_long(F.md5(F.col("doc_id").cast("string")), 13, 1)
    u = (h + 1) / float(1 << 52)
    acc = (
        gated.join(F.broadcast(rates), ["lang", "source"])
        .filter(u < F.col("rate"))
        .select("doc_id", "source", "n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = acc.withColumn(
        "seq_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512
        ).cast("long"),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("toks"),
    )


@query(
    "dedup_minhash_estimator_audit",
    oracle=f"""
    WITH {_MINHASH_CTES},
    agree AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS k
      FROM pairs p
      JOIN mh ma ON ma.doc_id = p.doc_a
      JOIN mh mb ON mb.doc_id = p.doc_b AND mb.s = ma.s
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           floor((k / 32.0) * 10000 + 0.5) / 10000 AS est_jaccard,
           floor(jaccard * 10000 + 0.5) / 10000 AS exact_jaccard,
           floor(ABS(k / 32.0 - jaccard) * 10000 + 0.5) / 10000 AS abs_err
    FROM pairs p JOIN agree USING (doc_a, doc_b)
    """,
)
def dedup_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit of the MinHash sketch itself: for every
    LSH candidate pair, the signature-agreement estimate k/32 next to
    the exact shingle Jaccard and their absolute error — the evidence
    a sketch deployment owes its users (E[k/32] = J; with 32 hashes
    the standard error is √(J(1−J)/32) ≈ 0.09, visible per pair here
    rather than asserted in prose).

    Everything is deterministic — the 32-hash family derives
    arithmetically from one md5 per shingle — so the estimate itself
    is oracle-checkable exactly, not bound-checked: both engines
    rebuild identical signatures and count identical agreements. Costs
    one extra join of the (doc, seed, min) long-form signatures onto
    the already-built candidate pairs; signatures and shingles are the
    session-shared builders.
    """
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    sig = _minhash_signatures(spark, sf_dir)
    sigl = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"h{s}") for s in range(_N_SEEDS)])
        ).alias("s", "h"),
    )
    sa = sigl.select(
        F.col("doc_id").alias("doc_a"), "s", F.col("h").alias("ha")
    )
    sb = sigl.select(
        F.col("doc_id").alias("doc_b2"),
        F.col("s").alias("s2"),
        F.col("h").alias("hb"),
    )
    agree = (
        pairs.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("s") == F.col("s2")),
        )
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0)).alias("k"))
    )
    est = F.col("k") / 32.0
    return agree.select(
        "doc_a",
        "doc_b",
        half_up(est, 4).alias("est_jaccard"),
        half_up(F.col("jaccard"), 4).alias("exact_jaccard"),
        half_up(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
    )


@query(
    "dedup_minhash_scurve_audit",
    oracle=f"""
    WITH {_MINHASH_CTES},
    allp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
      SELECT allp.doc_a, allp.doc_b,
             CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jac
      FROM allp
      JOIN sizes na ON na.doc_id = allp.doc_a
      JOIN sizes nb ON nb.doc_id = allp.doc_b
    ),
    flagged AS (
      SELECT LEAST(9, CAST(floor(jac * 10) AS BIGINT)) AS j_bucket,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM j LEFT JOIN cand c
        ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    )
    SELECT j_bucket,
           COUNT(*) AS n_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_candidates,
           floor((CAST(SUM(hit) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS obs_rate,
           floor((1.0 - POW(1.0 - POW((j_bucket + 0.5) / 10.0, {_BAND_ROWS}),
                            {_N_SEEDS // _BAND_ROWS})) * 1000000 + 0.5)
             / 1000000 AS theo_rate
    FROM flagged
    GROUP BY j_bucket
    """,
)
def dedup_minhash_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical validation of LSH banding's S-curve: for every pair of
    docs sharing ≥ 1 shingle, bucketed by exact Jaccard (width 0.1),
    the observed band-collision rate next to the theoretical
    1−(1−j^r)^b at the bucket midpoint (r = {_BAND_ROWS} rows,
    b = {_N_SEEDS // _BAND_ROWS} bands). With the independent
    Carter-Wegman family the observed curve tracks theory — under the
    old correlated family low-Jaccard buckets collided at ~an order of
    magnitude above theory (the inflation `dedup_minhash_estimator_
    audit` caught); this query makes the banding contract itself a
    certified, regression-visible artifact.

    The ground-truth side is the UNCAPPED shared-shingle self-join
    (the exact pair universe the signatures see — unlike the
    Jaccard/containment queries' DF-capped candidate join; at web
    scale this audit runs over a doc sample, same shape). Docs with no
    shared shingle can only collide by hash accident, theory rate ≈ 0.
    The candidate side reuses the persisted band index. Output ≤ 10
    rows.
    """
    sh = _shingle_sets(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pa = sh.select(F.col("doc_id").alias("doc_a"), "g")
    pb = sh.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g2"))
    allp = (
        pa.join(pb, (F.col("g") == F.col("g2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    inter = allp.join(na, "doc_a").join(nb, "doc_b")
    jac = (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")))
    cand = (
        _minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    flagged = (
        inter.select("doc_a", "doc_b", jac.alias("jac"))
        .join(cand, ["doc_a", "doc_b"], "left")
        .select(
            F.least(F.lit(9), F.floor(F.col("jac") * 10).cast("long")).alias(
                "j_bucket"
            ),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
    )
    theo = 1.0 - F.pow(
        1.0 - F.pow((F.col("j_bucket") + 0.5) / 10.0, float(_BAND_ROWS)),
        float(_N_SEEDS // _BAND_ROWS),
    )
    return flagged.groupBy("j_bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hit").cast("long").alias("n_candidates"),
        half_up(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias("obs_rate"),
    ).select(
        "j_bucket",
        "n_pairs",
        "n_candidates",
        "obs_rate",
        half_up(theo, 6).alias("theo_rate"),
    )


@query(
    "dedup_prefix_template_clusters",
    oracle="""
    WITH p AS (
      SELECT doc_id, source,
             md5(array_to_string(string_split(text, ' ')[1:20], ' ')) AS tpl
      FROM documents
    )
    SELECT tpl,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc
    FROM p GROUP BY tpl HAVING COUNT(*) > 1
    """,
)
def dedup_prefix_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-spam detection: documents sharing an IDENTICAL first-20
    -token prefix form a template cluster (mirror pages, scraped
    boilerplate shells, auto-generated listings all share their opening
    span even when tails differ — the case exact-hash dedup misses and
    MinHash over full shingles dilutes). Emits every cluster of size
    > 1 with its source spread and min-id representative.

    Scale shape: one narrow projection to (md5-of-prefix) then a
    single hash-agg — the md5 key shuffles 16 bytes per doc, never the
    text. The 20-token prefix is the industry-standard cheap template
    key (a URL-pattern analog for text); tightening/loosening is a
    constant, not a plan change.
    """
    d = load_table(spark, sf_dir, "documents")
    pfx = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ")
    return (
        d.select("doc_id", "source", F.md5(pfx).alias("tpl"))
        .groupBy("tpl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "dedup_nearest_duplicate_report",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    live AS (
      SELECT g FROM sh GROUP BY g
      HAVING COUNT(*) <= {_STOP_SHINGLE_DF_CAP}
    ),
    shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN live USING (g)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jac
      FROM inter
      JOIN sizes na ON na.doc_id = doc_a
      JOIN sizes nb ON nb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.3
    ),
    sym AS (
      SELECT doc_a AS d, doc_b AS p, jac FROM pairs
      UNION ALL
      SELECT doc_b AS d, doc_a AS p, jac FROM pairs
    ),
    r AS (
      SELECT d, p, jac,
             ROW_NUMBER() OVER (PARTITION BY d ORDER BY jac DESC, p) AS rn
      FROM sym
    )
    SELECT d AS doc_id, p AS nearest_dup, ROUND(jac, 4) AS jaccard
    FROM r WHERE rn = 1
    """,
)
def dedup_nearest_duplicate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NEAREST DUPLICATE: for every doc in the ≥ 0.3
    exact-Jaccard graph, its single most similar partner (ties broken
    by smallest partner id) — the human-review artifact a dedup run
    ships next to the canonical mapping: "here is the one doc to eye-
    ball to decide whether this cluster is real". Shares the
    `_shingle_intersections` machinery (one tokenize, one DF-capped
    self-join); the symmetrize + keyed top-1 window adds one narrow
    union and one partitioned sort over PAIR rows (pairs ≪ docs).

    The argmax orders on the RAW jaccard double — both engines derive
    it from identical integers, so the ordering (and the rounded
    report value) is deterministic cross-engine.
    """
    from pyspark.sql import Window

    inter = _shingle_intersections(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    pairs = inter.filter(jac >= 0.3).select("doc_a", "doc_b", jac.alias("jac"))
    # symmetrize by exploding a 2-element array in ONE pass — a
    # unionAll of two selects would plan the 14-shuffle intersection
    # subtree twice (PLANS.md showed 29 shuffles before this)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("d"), F.col("doc_b").alias("p")
                ),
                F.struct(
                    F.col("doc_b").alias("d"), F.col("doc_a").alias("p")
                ),
            )
        ).alias("x"),
        "jac",
    ).select("x.d", "x.p", "jac")
    w = Window.partitionBy("d").orderBy(F.col("jac").desc(), "p")
    return (
        sym.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("doc_id"),
            F.col("p").alias("nearest_dup"),
            F.round("jac", 4).alias("jaccard"),
        )
    )


_COS_PAIR_SQL = f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({SQL_DOT.format(a='a.embedding', b='b.embedding')}
                / ({SQL_NORM.format(a='a.embedding')}
                   * {SQL_NORM.format(a='b.embedding')}), 6) >= 0.4
"""


@query(
    "sim_graph_degree_histogram",
    oracle=f"""
    WITH pairs AS ({_COS_PAIR_SQL}),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT vec_a AS v FROM pairs
        UNION ALL
        SELECT vec_b AS v FROM pairs
      ) GROUP BY v
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM deg GROUP BY degree
    """,
)
def sim_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the cosine ≥ 0.4 similarity graph — the
    density diagnostic run BEFORE semantic dedup: a histogram hugging
    degree 1-2 means clean near-dup pairs (CC will produce small
    components); a heavy tail means hub vectors (boilerplate
    embeddings, zero-vectors) that would chain half the corpus into
    one component — the thing you want to know before the CC pass, for
    a few dozen output rows regardless of corpus size.

    Consumes the certified `dedup_embedding_cosine_pairs` kernel
    (blocked BLAS `mapInPandas`, enforced broadcast budget); the
    histogram adds one narrow union + two tiny hash-aggs.
    """
    p = dedup_embedding_cosine_pairs(spark, sf_dir).select("vec_a", "vec_b")
    # explode-symmetrize: one pass over the pair kernel instead of a
    # union that would run the BLAS scan twice
    deg = (
        p.select(F.explode(F.array("vec_a", "vec_b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vecs"))


@query(
    "dedup_simhash_hamming_histogram",
    oracle=f"""
    WITH {_SIMHASH_CAND_CTES}
    SELECT CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand GROUP BY hamming
    """,
)
def dedup_simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram over ALL band-matched SimHash
    candidates (no Hamming ≤ 8 cut) — the threshold-tuning audit
    for `dedup_simhash_pairs`: mass piling up just above the cut says
    the verify threshold is clipping real near-dups; a clean bimodal
    gap says the 4×15-bit banding + Hamming-8 verify is safe. Joins
    the estimator-audit family (F37): the knob every SimHash deploy
    hand-tunes, reported as a certified distribution instead of a
    guess.

    The pair builder's banded self-join (`_simhash_band_collisions`,
    without its persist); the histogram
    aggregates the collision stream down to ≤ 61 rows, so the extra
    cost over the pair query is one tiny hash-agg (and no distinct-
    then-filter inversion, since every distance is kept).
    """
    cand = _simhash_band_collisions(spark, sf_dir).distinct()
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return cand.select(hamming.alias("hamming")).groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _cos_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cosine ≥ 0.4 edge set (vec_a < vec_b) behind the graph
    audits, shared + localCheckpointed once per session: a handful of
    id-pair rows behind an expensive BLAS scan — exactly the
    `shared_df(materialize=True)` case, and the triangle audit below
    references it three times in one plan."""
    return shared_df(
        "cos_pair_edges",
        sf_dir,
        spark,
        lambda: dedup_embedding_cosine_pairs(spark, sf_dir).select(
            "vec_a", "vec_b"
        ),
        materialize=True,
    )


@query(
    "sim_graph_triangle_count",
    oracle=f"""
    WITH pairs AS ({_COS_PAIR_SQL}),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT vec_a AS v FROM pairs
        UNION ALL
        SELECT vec_b AS v FROM pairs
      ) GROUP BY v
    ),
    ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
    wc AS (
      SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg
    ),
    tc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e2.vec_a = e1.vec_b
      JOIN pairs e3 ON e3.vec_a = e1.vec_a AND e3.vec_b = e2.vec_b
    )
    SELECT n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE floor(3.0 * n_triangles / n_wedges * 1000000 + 0.5)
                     / 1000000
           END AS clustering_coeff
    FROM ec, wc, tc
    """,
)
def sim_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the cosine
    similarity graph — the companion to `sim_graph_degree_histogram`
    that says whether near-dup edges form CLIQUES (high coefficient →
    components are genuine duplicate groups, safe to collapse to one
    representative) or CHAINS (low coefficient → transitive-closure
    dedup is gluing unrelated docs through hub vectors; tighten the
    threshold before running CC). One summary row at any corpus size.

    Scale shape: consumes the shared checkpointed edge snapshot (the
    certified BLAS pair kernel runs ONCE), so the three edge-table
    references are scans of a materialized id-pair table. Triangles
    enumerate each once via the vec_a < vec_b orientation (e1=(a,b),
    e2=(b,c), closure (a,c) ⇒ a<b<c): two hash joins whose fanout is
    Σdeg² — the wedge count this query itself reports, the number to
    watch before re-running at a lower threshold. Wedges are exact
    integer Σ d·(d−1)/2; the coefficient is one final division of exact
    integers, rounded with ``half_up(x, 6)``, which both engines
    compute identically."""
    e = _cos_pair_edges(spark, sf_dir)
    deg = (
        e.select(F.explode(F.array("vec_a", "vec_b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ec = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wc = deg.agg(
        F.expr("CAST(sum(d * (d - 1)) div 2 AS BIGINT)").alias("n_wedges")
    )
    e1 = e.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    e2 = e.select(F.col("vec_a").alias("b2"), F.col("vec_b").alias("c"))
    e3 = e.select(F.col("vec_a").alias("a3"), F.col("vec_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
    )
    tc = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        ec.crossJoin(wc)
        .crossJoin(tc)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(half_up(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
            .alias("clustering_coeff"),
        )
    )


@query(
    "pipeline_dedup_impact_report",
    oracle="""
    WITH d AS (
      SELECT source, doc_id, md5(text) AS h,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    keep AS (SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h),
    marked AS (
      SELECT d.source, d.tok,
             CASE WHEN d.doc_id = k.keeper THEN 0 ELSE 1 END AS removed
      FROM d JOIN keep k ON k.h = d.h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(tok) AS BIGINT)                          AS n_tokens,
           CAST(SUM(removed) AS BIGINT)                      AS docs_removed,
           CAST(SUM(removed * tok) AS BIGINT)                AS tokens_removed,
           (10000 * CAST(SUM(removed) AS BIGINT)) // COUNT(*)
             AS docs_removed_bp,
           CASE WHEN SUM(tok) = 0 THEN 0
                ELSE (10000 * CAST(SUM(removed * tok) AS BIGINT))
                     // CAST(SUM(tok) AS BIGINT)
           END AS tokens_removed_bp
    FROM marked GROUP BY source
    """,
)
def pipeline_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does exact dedup COST each source's share of the training
    mixture? Per source: document and token totals, documents/tokens
    that the certified exact-dedup policy (keep the min-doc_id copy
    per md5(text), `dedup_exact_by_hash`) would remove, and both
    removal rates in basis points. Duplicate groups spanning sources
    attribute each removal to the removed doc's OWN source, so the
    report answers the curator's real question — "which source
    shrinks, and by how many tokens?" — BEFORE committing the rewrite.

    Scale shape: text never shuffles — one pass computes the 16-byte
    digest and the token count per doc, the keeper table is a hash-agg
    on the digest, and the verdict is one join on the digest followed
    by a |sources|-row conditional agg. Identical to the certified
    dedup plan plus one rollup.

    Float discipline: none — counts, token sums, and floor
    basis-point rates are exact int64 end to end."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5("text").alias("h"),
        F.size(tokens("text")).alias("tok"),
    )
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    marked = d.join(keep, "h").select(
        "source",
        "tok",
        F.when(F.col("doc_id") == F.col("keeper"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("removed"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.sum("removed").cast("long").alias("docs_removed"),
        F.sum(F.col("removed") * F.col("tok")).cast("long").alias("tokens_removed"),
        F.expr("(10000 * sum(removed)) div count(1)").alias("docs_removed_bp"),
        F.when(F.sum("tok") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(10000 * sum(removed * tok)) div sum(tok)"))
        .alias("tokens_removed_bp"),
    )


# --- LSH banding parameter planner (design-time, O(1) data) ------------

# Candidate (bands, rows) factorizations of the 32-hash family, the
# acceptance threshold the verify step uses (Jaccard 0.4), and the
# midpoint grid resolution for the S-curve mass integrals.
_PLAN_THETA = 0.4
_PLAN_GRID = 1000


def _plan_layouts() -> list[tuple[int, int]]:
    return [
        (b, _N_SEEDS // b)
        for b in (1, 2, 4, 8, 16, 32)
        if _N_SEEDS % b == 0
    ]


def _plan_sql() -> str:
    rows = ", ".join(f"({b}, {r})" for b, r in _plan_layouts())
    theta_i = int(_PLAN_THETA * _PLAN_GRID)
    return f"""
    WITH layouts(b, r) AS (VALUES {rows}),
    grid AS (
      SELECT b, r, (unnest(range({_PLAN_GRID})) + 0.5) / {_PLAN_GRID}.0 AS s
      FROM layouts
    ),
    p AS (
      SELECT b, r, s,
             CAST(floor((1.0 - POW(1.0 - POW(s, CAST(r AS DOUBLE)),
                                   CAST(b AS DOUBLE))) * 1000000 + 0.5)
                  AS BIGINT) AS p_ppm
      FROM grid
    )
    SELECT CAST(b AS BIGINT) AS n_bands,
           CAST(r AS BIGINT) AS rows_per_band,
           floor(POW(1.0 / b, 1.0 / r) * 1000000 + 0.5) / 1000000 AS s_star,
           CAST(SUM(CASE WHEN s < {_PLAN_THETA} THEN p_ppm ELSE 0 END)
                // {_PLAN_GRID} AS BIGINT) AS fp_area_ppm,
           CAST(SUM(CASE WHEN s >= {_PLAN_THETA} THEN 1000000 - p_ppm ELSE 0 END)
                // {_PLAN_GRID} AS BIGINT) AS fn_area_ppm,
           CAST(MAX(CASE WHEN s = ({theta_i} + 0.5) / {_PLAN_GRID}.0
                         THEN p_ppm END) AS BIGINT) AS catch_at_theta_ppm
    FROM p GROUP BY b, r
    """


@query("dedup_lsh_parameter_planner", oracle=_plan_sql())
def dedup_lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding DESIGN TABLE — the calculation run before choosing
    the (bands × rows) layout the MinHash family ships with: for every
    factorization of the {n}-hash budget, the S-curve threshold
    s* = (1/b)^(1/r) and three figures of merit against the verify
    threshold θ = 0.4 — expected false-positive mass below θ (wasted
    exact-verify work per uniform non-dup pair), false-negative mass
    above θ (true dups the bands never surface — the unrecoverable
    error), and the catch rate at the first grid midpoint ≥ θ
    (s = 0.4005 on the {g}-point grid). The committed 8×4 layout
    is the measured trade this table justifies; `dedup_minhash_
    scurve_audit` then certifies the chosen curve against observed
    collisions.

    Float discipline: the curve masses are sums over a fixed
    {g}-midpoint grid where each term is floored to integer ppm
    FIRST — the summation is exact int64, immune to accumulation
    order on either engine (the repo's integer-units rule); s* and
    the per-point curve use the same POW forms the certified S-curve
    audit already pins cross-engine. Pure computation — reads no
    table, ships no data; at any scale this is a driver-side design
    artifact the planner emits before a corpus-sized job runs.
    """
    layouts = spark.createDataFrame(_plan_layouts(), "b int, r int")
    grid = layouts.select(
        "b",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(_PLAN_GRID - 1))).alias("i"),
    ).select(
        "b", "r", ((F.col("i") + 0.5) / float(_PLAN_GRID)).alias("s")
    )
    p_ppm = F.floor(
        (
            1.0
            - F.pow(
                1.0 - F.pow(F.col("s"), F.col("r").cast("double")),
                F.col("b").cast("double"),
            )
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    theta_mid = (int(_PLAN_THETA * _PLAN_GRID) + 0.5) / float(_PLAN_GRID)
    p = grid.select("b", "r", "s", p_ppm.alias("p_ppm"))
    agg = p.groupBy(
        F.col("b").cast("long").alias("n_bands"),
        F.col("r").cast("long").alias("rows_per_band"),
    ).agg(
        F.expr(
            f"CAST(sum(CASE WHEN s < {_PLAN_THETA} THEN p_ppm ELSE 0 END) "
            f"div {_PLAN_GRID} AS BIGINT)"
        ).alias("fp_area_ppm"),
        F.expr(
            f"CAST(sum(CASE WHEN s >= {_PLAN_THETA} THEN 1000000 - p_ppm "
            f"ELSE 0 END) div {_PLAN_GRID} AS BIGINT)"
        ).alias("fn_area_ppm"),
        F.max(
            F.when(F.col("s") == theta_mid, F.col("p_ppm"))
        ).cast("long").alias("catch_at_theta_ppm"),
    )
    return agg.select(
        "n_bands",
        "rows_per_band",
        half_up(
            F.pow(1.0 / F.col("n_bands"), 1.0 / F.col("rows_per_band")), 6
        ).alias("s_star"),
        "fp_area_ppm",
        "fn_area_ppm",
        "catch_at_theta_ppm",
    )


dedup_lsh_parameter_planner.__doc__ = dedup_lsh_parameter_planner.__doc__.format(
    n=_N_SEEDS, g=_PLAN_GRID
)


# --- Bloom-filter ingest prefilter ----------------------------------------
# 4096 bits packed into 128 32-bit words (bit index <= 31 keeps every
# shift exact-int64 on both engines — DuckDB raises on 1::BIGINT << 63),
# 3 hash functions from disjoint md5 slices.
_BLOOM_BITS = 4096
_BLOOM_WORD = 32
_BLOOM_K = 3


def _bloom_pos_sql(j: int) -> str:
    return f"({sql_hex_long('md5(text)', 8, 1 + 8 * j)} % {_BLOOM_BITS})"


@query(
    "dedup_bloom_prefilter_audit",
    oracle=f"""
    WITH corpus AS (
      SELECT text FROM documents WHERE doc_id % 10 <> 9
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9
    ),
    cpos AS (
      {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(j)} AS p FROM corpus" for j in range(_BLOOM_K))}
    ),
    words AS (
      SELECT p // {_BLOOM_WORD} AS w,
             CAST(bit_or(1::BIGINT << (p % {_BLOOM_WORD})) AS BIGINT) AS word
      FROM cpos GROUP BY p // {_BLOOM_WORD}
    ),
    bpos AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS j, {_bloom_pos_sql(j)} AS p FROM batch" for j in range(_BLOOM_K))}
    ),
    probed AS (
      SELECT b.doc_id,
             CASE WHEN (COALESCE(words.word, 0)
                        & (1::BIGINT << (b.p % {_BLOOM_WORD}))) <> 0
                  THEN 1 ELSE 0 END AS hit
      FROM bpos b LEFT JOIN words ON words.w = b.p // {_BLOOM_WORD}
    ),
    verdict AS (
      SELECT doc_id, CASE WHEN SUM(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS maybe
      FROM probed GROUP BY doc_id
    ),
    exact AS (
      SELECT b.doc_id,
             CASE WHEN EXISTS (SELECT 1 FROM corpus c
                               WHERE md5(c.text) = md5(b.text))
                  THEN 1 ELSE 0 END AS is_dup
      FROM batch b
    )
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_batch,
           CAST(SUM(v.maybe) AS BIGINT)                     AS n_maybe,
           CAST(SUM(e.is_dup) AS BIGINT)                    AS n_exact_dups,
           CAST(SUM(CASE WHEN e.is_dup = 1 AND v.maybe = 0
                         THEN 1 ELSE 0 END) AS BIGINT)      AS n_missed,
           CAST(SUM(CASE WHEN e.is_dup = 0 AND v.maybe = 1
                         THEN 1 ELSE 0 END) AS BIGINT)      AS n_false_pos,
           CASE WHEN SUM(1 - e.is_dup) = 0 THEN 0
                ELSE CAST((1000000 * SUM(CASE WHEN e.is_dup = 0
                                              AND v.maybe = 1
                                              THEN 1 ELSE 0 END))
                          // SUM(1 - e.is_dup) AS BIGINT)
           END                                              AS fp_ppm
    FROM verdict v JOIN exact e USING (doc_id)
    """,
)
def dedup_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest prefilter, built and audited ENTIRELY in
    the engine: the corpus's {k}-hash/{m}-bit filter materializes as a
    128-row (word, bits) table via a bit_or aggregate — mergeable,
    broadcastable, engine-portable (positions come from disjoint md5
    slices, the repo's one-digest-n-hashes device) — and the nightly
    batch (doc_id % 10 = 9) probes it BEFORE any corpus-sized join.
    The audit certifies the two numbers that justify deploying a
    prefilter: n_missed (exact duplicates the filter failed to flag)
    which must be 0 — the no-false-negative identity a Bloom filter
    guarantees BY CONSTRUCTION, so a nonzero value is a broken kernel,
    not bad luck — and the measured false-positive rate among true
    non-duplicates (the wasted exact-verify work, the quantity the
    m/k sizing trades against memory; measured {fpp}% at this
    fixture's ~0.3 load factor, matching (1-e^(-kn/m))^k).

    Scale shape: the filter build is ONE map-side-combinable bit_or
    into ≤ 128 words (kilobytes at ANY corpus size — this is the
    point); the probe joins the batch's 3k position rows against the
    128-word table (broadcast); only the exact-membership audit arm
    touches the corpus again, by 16-byte digest equi-join. At 100 TB
    the filter is built once, shipped everywhere, and the audit runs
    on a sampled batch — same plan.

    Reference basis: none; contract dedup/ingest family (SURVEY
    §2.10), the constant-memory rung below `dedup_minhash_incremental`
    and `pipeline_semantic_ingest`'s banded indexes."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 9).select("text")
    batch = d.filter(F.col("doc_id") % 10 == 9).select("doc_id", "text")

    def pos(j: int):
        return hex_prefix_long(F.md5("text"), 8, 1 + 8 * j) % _BLOOM_BITS

    cpos = None
    for j in range(_BLOOM_K):
        part = corpus.select(pos(j).alias("p"))
        cpos = part if cpos is None else cpos.unionAll(part)
    words = (
        cpos.select(
            F.expr(f"p div {_BLOOM_WORD}").alias("w"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), p % {_BLOOM_WORD})").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.expr("CAST(bit_or(b) AS BIGINT)").alias("word"))
    )
    bpos = None
    for j in range(_BLOOM_K):
        part = batch.select("doc_id", F.lit(j).alias("j"), pos(j).alias("p"))
        bpos = part if bpos is None else bpos.unionAll(part)
    probed = (
        bpos.withColumn("w", F.expr(f"p div {_BLOOM_WORD}"))
        .join(F.broadcast(words), "w", "left")
        .select(
            "doc_id",
            F.when(
                F.expr(
                    f"(COALESCE(word, CAST(0 AS BIGINT))"
                    f" & shiftleft(CAST(1 AS BIGINT), p % {_BLOOM_WORD})) != 0"
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    verdict = probed.groupBy("doc_id").agg(
        F.when(F.sum("hit") == _BLOOM_K, 1).otherwise(0).alias("maybe")
    )
    chash = corpus.select(F.md5("text").alias("h")).distinct()
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(chash.withColumn("found", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            F.coalesce("found", F.lit(0)).alias("is_dup"),
        )
    )
    joined = verdict.join(exact, "doc_id")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("maybe").cast("long").alias("n_maybe"),
        F.sum("is_dup").cast("long").alias("n_exact_dups"),
        F.sum(
            F.when((F.col("is_dup") == 1) & (F.col("maybe") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_missed"),
        F.sum(
            F.when((F.col("is_dup") == 0) & (F.col("maybe") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.when(F.sum(1 - F.col("is_dup")) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((1000000 * sum(CASE WHEN is_dup = 0 AND maybe = 1"
                " THEN 1 ELSE 0 END)) div sum(1 - is_dup) AS BIGINT)"
            )
        )
        .alias("fp_ppm"),
    )


dedup_bloom_prefilter_audit.__doc__ = dedup_bloom_prefilter_audit.__doc__.format(
    k=_BLOOM_K, m=_BLOOM_BITS, fpp="~2"
)


@query(
    "dedup_near_dup_conflicting_metadata",
    oracle=f"""
    WITH {_MINHASH_CTES},
    dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
    meta AS (
      SELECT d.doc_a, d.doc_b,
             da.lang AS lang_a, db.lang AS lang_b,
             da.source AS src_a, db.source AS src_b
      FROM dup d
      JOIN documents da ON da.doc_id = d.doc_a
      JOIN documents db ON db.doc_id = d.doc_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_near_dup_pairs,
           CAST(COALESCE(SUM(CASE WHEN lang_a <> lang_b THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS pairs_lang_conflict,
           CAST(COALESCE(SUM(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS pairs_source_conflict,
           CAST(COALESCE(SUM(CASE WHEN lang_a <> lang_b
                                   AND src_a <> src_b THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS pairs_both_conflict
    FROM meta
    """,
)
def dedup_near_dup_conflicting_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-duplicate pairs whose metadata disagrees — the fuzzy
    extension of `quality_dup_conflicting_metadata` (which only sees
    byte-identical copies): a translated-then-lightly-edited or
    cross-posted document pair survives exact dedup, lands in the
    SAME near-dup pair under the certified MinHash banding
    (Jaccard ≥ 0.5, the canonical-survivor threshold used by
    `dedup_minhash_canonical`), and if the pair disagrees on lang or
    source the survivor rule is about to pick one label silently —
    the label-noise channel near-dedup opens that exact dedup's
    conflict report cannot see. One summary row: pair count and the
    three conflict masses.

    Scale shape: the pairs side is the SHARED banded-LSH pairs
    artifact (`_minhash_pairs`, built once per session — never
    all-pairs); metadata arrives by two id-equi-joins against the
    narrow (doc_id, lang, source) projection, then one summary agg.
    The 0.5 threshold compares a ratio of exact integers against a
    binary-exact constant — no float hazard.

    Reference basis: none; contract dedup/curation family (SURVEY
    §2.10 F-rows), completing the conflict-report pair
    (exact: `quality_dup_conflicting_metadata`, fuzzy: this)."""
    pairs = _minhash_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    meta = (
        pairs.select("doc_a", "doc_b")
        .join(
            d.select(
                F.col("doc_id").alias("doc_a"),
                F.col("lang").alias("lang_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("lang_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
    )
    return meta.agg(
        F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("lang_a") != F.col("lang_b"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_lang_conflict"),
        F.coalesce(
            F.sum(F.when(F.col("src_a") != F.col("src_b"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_source_conflict"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_a") != F.col("lang_b"))
                    & (F.col("src_a") != F.col("src_b")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_both_conflict"),
    )


_SPLIT_CASE_SQL = (
    "CASE WHEN (" + sql_hex_long("md5(CAST({col} AS VARCHAR))", 14, 1)
    + " % 100) < 80 THEN 'train' WHEN ("
    + sql_hex_long("md5(CAST({col} AS VARCHAR))", 14, 1)
    + " % 100) < 90 THEN 'val' ELSE 'test' END"
)


@query(
    "quality_split_leakage_near_dup",
    oracle=f"""
    WITH {_MINHASH_CTES},
    dup AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
    tagged AS (
      SELECT d.doc_a, d.doc_b,
             {_SPLIT_CASE_SQL.format(col="d.doc_a")} AS split_a,
             {_SPLIT_CASE_SQL.format(col="d.doc_b")} AS split_b
      FROM dup d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_near_dup_pairs,
           CAST(COALESCE(SUM(CASE WHEN split_a <> split_b
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS pairs_cross_split,
           CAST(COALESCE(SUM(CASE WHEN (split_a = 'train')
                                   <> (split_b = 'train')
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS pairs_train_eval,
           CAST(COUNT(DISTINCT CASE
                  WHEN split_a = 'train' AND split_b <> 'train' THEN doc_a
                  WHEN split_b = 'train' AND split_a <> 'train' THEN doc_b
                END) AS BIGINT) AS n_train_docs_leaked
    FROM tagged
    """,
)
def quality_split_leakage_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-duplicate leakage ACROSS the train/val/test boundary — the
    third and fuzziest tier of the split-hygiene family:
    `quality_split_leakage_audit` counts template-level leaks,
    `pipeline_train_decontamination` scrubs exact {8}-gram overlaps,
    and THIS audit counts whole-document near-duplicates (certified
    MinHash banding, Jaccard ≥ 0.5) that straddle splits — the
    lightly-paraphrased eval document whose training twin survives
    both earlier tiers and quietly inflates benchmark numbers.
    `n_train_docs_leaked` is the actionable output: the training
    documents a release would drop (or re-split) before reporting
    eval metrics.

    Scale shape: the pairs side is the SHARED banded-LSH artifact
    (`_minhash_pairs`, one session build — never all-pairs); split
    tags are the same md5-bucket rule every split op certifies,
    computed inline from the pair ids (no documents re-scan); one
    summary agg. At 100 TB this reads the materialized pairs table
    and costs one pass over |near-dup pairs|.

    Reference basis: none; contract training-data-pipeline family
    (SURVEY §2.10)."""
    from .sampling import hash_bucket

    pairs = _minhash_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)

    def split_of(col):
        b = hash_bucket(F.col(col), 100)
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise(F.lit("test"))
        )

    tagged = pairs.select(
        "doc_a",
        "doc_b",
        split_of("doc_a").alias("split_a"),
        split_of("doc_b").alias("split_b"),
    )
    leaked_doc = F.when(
        (F.col("split_a") == "train") & (F.col("split_b") != "train"),
        F.col("doc_a"),
    ).when(
        (F.col("split_b") == "train") & (F.col("split_a") != "train"),
        F.col("doc_b"),
    )
    return tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"),
        F.coalesce(
            F.sum(
                F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_cross_split"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("split_a") == "train")
                    != (F.col("split_b") == "train"),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pairs_train_eval"),
        F.count_distinct(leaked_doc).cast("long").alias("n_train_docs_leaked"),
    )


from .quality import _DECON_GRAM_SQL as _REL_GRAM_SQL  # noqa: E402
from .quality import DECON_K as _REL_DECON_K  # noqa: E402

_RELEASE_GUARD = "corpus release is empty: nothing survived the scrub"

_RELEASE_ORACLE = f"""
    WITH {_MINHASH_CTES},
    nd AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
    tagged AS (
      SELECT doc_id, source, text,
             {_SPLIT_CASE_SQL.format(col="doc_id")} AS split
      FROM documents
    ),
    eval_g AS (
      SELECT DISTINCT md5(unnest({_REL_GRAM_SQL})) AS gh
      FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tagged WHERE split <> 'train') x
    ),
    train_g AS (
      SELECT DISTINCT doc_id, md5(unnest({_REL_GRAM_SQL})) AS gh
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tagged WHERE split = 'train') x
    ),
    dirty AS (
      SELECT DISTINCT t.doc_id FROM train_g t JOIN eval_g e USING (gh)
    ),
    surv0 AS (
      SELECT doc_id, source, text FROM tagged
      WHERE split = 'train'
        AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    ndu AS (SELECT doc_a AS d, doc_b AS o FROM nd
            UNION ALL SELECT doc_b AS d, doc_a AS o FROM nd),
    leak AS (
      SELECT DISTINCT s.doc_id FROM surv0 s JOIN ndu ON ndu.d = s.doc_id
      WHERE {_SPLIT_CASE_SQL.format(col="ndu.o")} <> 'train'
    ),
    within AS (
      SELECT DISTINCT nd.doc_b AS doc_id
      FROM nd JOIN surv0 a ON a.doc_id = nd.doc_a
              JOIN surv0 b ON b.doc_id = nd.doc_b
    ),
    drops AS (SELECT doc_id FROM leak UNION SELECT doc_id FROM within),
    final AS (
      SELECT * FROM surv0
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    ),
    raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train_raw
            FROM tagged WHERE split = 'train' GROUP BY 1),
    s0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_surv0
           FROM surv0 GROUP BY 1),
    fin AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final
            FROM final GROUP BY 1),
    ftok AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt,
             len(list_distinct(list_filter(string_split(text, ' '),
                                           t -> t <> ''))) AS ndt
      FROM final
    ),
    g AS (
      SELECT source,
             CAST(SUM(CASE WHEN nt BETWEEN 20 AND 80
                            AND CAST(ndt AS DOUBLE) / nt > 0.25
                           THEN nt ELSE 0 END) AS BIGINT) AS passing_tokens
      FROM ftok GROUP BY 1
    ),
    m AS (
      SELECT raw.source, raw.n_train_raw,
             raw.n_train_raw - COALESCE(s0.n_surv0, 0) AS n_dropped_decon,
             COALESCE(s0.n_surv0, 0) - COALESCE(fin.n_final, 0)
               AS n_dropped_neardup,
             COALESCE(fin.n_final, 0) AS n_train_final,
             COALESCE(g.passing_tokens, 0) AS passing_tokens
      FROM raw LEFT JOIN s0 USING (source) LEFT JOIN fin USING (source)
               LEFT JOIN g USING (source)
    ),
    t AS (SELECT CAST(SUM(n_train_raw) AS BIGINT) AS total_raw,
                 CAST(SUM(n_train_final) AS BIGINT) AS total_final,
                 CAST(SUM(passing_tokens) AS BIGINT) AS total_passing
          FROM m),
    b AS (
      SELECT m.*,
             (1000000 * m.n_train_raw) // t.total_raw AS share_before_ppm,
             CASE WHEN t.total_final = 0
                  THEN CAST(error('{_RELEASE_GUARD}') AS BIGINT)
                  ELSE (1000000 * m.n_train_final) // t.total_final
              END AS share_after_ppm,
             CASE WHEN t.total_passing = 0
                  THEN CAST(error('{_RELEASE_GUARD}') AS BIGINT)
                  ELSE (1000000 * m.passing_tokens) // t.total_passing
              END AS fshare,
             CASE WHEN t.total_passing = 0 THEN 0
                  ELSE (1000000 * m.passing_tokens) % t.total_passing
              END AS rem
      FROM m, t
    ),
    lo AS (SELECT 1000000 - CAST(SUM(fshare) AS BIGINT) AS leftover FROM b),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) - 1 AS sb
      FROM b
    )
    SELECT source,
           CAST(n_train_raw AS BIGINT) AS n_train_raw,
           CAST(n_dropped_decon AS BIGINT) AS n_dropped_decon,
           CAST(n_dropped_neardup AS BIGINT) AS n_dropped_neardup,
           CAST(n_train_final AS BIGINT) AS n_train_final,
           CAST(share_before_ppm AS BIGINT) AS share_before_ppm,
           CAST(share_after_ppm AS BIGINT) AS share_after_ppm,
           CAST(passing_tokens AS BIGINT) AS passing_tokens,
           CAST(fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM r, lo
    ORDER BY source
    """


def _decon_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination survivors (doc_id, source) — the release
    family's stage-1 artifact, shared + localCheckpointed once per
    session: a |train-survivors|-row two-column table behind the
    decon gram join (the release pipeline's heaviest leg).
    `_release_manifest` references the survivors five times per
    manifest and the release-diff builds two manifests — without
    materialization one diff action replays the gram join ~10×. The
    100 TB equivalent is the decontaminated-train manifest a release
    job writes once and every downstream stage reads."""
    from .quality import pipeline_train_decontamination

    return shared_df(
        "decon_survivors",
        sf_dir,
        spark,
        lambda: pipeline_train_decontamination(spark, sf_dir).select(
            "doc_id", "source"
        ),
        materialize=True,
    )


def _neardup_pairs_05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs at the release threshold (Jaccard ≥
    0.5), shared + localCheckpointed once per session: a handful of
    id-pair rows behind the banded-LSH verification pipeline —
    exactly the `shared_df(materialize=True)` case. `_minhash_pairs`
    itself is persisted (lazy), but each manifest still references
    the thresholded selection four times (leak probe ×2 via the
    symmetric union, within-scrub ×2); the checkpoint makes every
    reference a scan of ≤|near-dup|-row blocks."""
    return shared_df(
        "neardup_pairs_05",
        sf_dir,
        spark,
        lambda: _minhash_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b"),
        materialize=True,
    )


def _survivor_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document (doc_id, nt, ndt) token stats over the decon
    survivors, shared + localCheckpointed once per session (guide
    §2.4 — repeated scans of a shared artifact): the budget stage of
    `_release_manifest` re-tokenized every final document's full text
    (string split + array_distinct) on EVERY manifest build, and the
    release family builds up to six manifests per session (capstone,
    gate, pin, admission gate, diff ×2). nt/ndt are row-local, so one
    |survivors|-row 3-column table serves every build: final sets are
    always subsets of the full survivor set (prior-release survivors
    are a filter of it), and the budget's nt/ndt values don't depend
    on which release the document survives into. The 100 TB
    equivalent is the per-doc stats column a release job writes next
    to the decontaminated manifest and every downstream stage reads."""

    def build() -> DataFrame:
        from ..functions.texttools import tokens

        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        toks = tokens("text")
        return (
            _decon_survivors(spark, sf_dir)
            .select("doc_id")
            .join(d, "doc_id")
            .select(
                "doc_id",
                F.size(toks).alias("nt"),
                F.size(F.array_distinct(toks)).alias("ndt"),
            )
        )

    # persist (not localCheckpoint): an InMemoryRelation exposes real
    # row/size statistics once materialized, so each manifest's
    # final⋈stats join can still become a broadcast join at fixture
    # scale — a LogicalRDD checkpoint reports unknown stats and forced
    # a sort-merge join of both sides per manifest (measured ~2× the
    # whole query).
    return shared_df(
        "survivor_token_stats", sf_dir, spark, build, materialize=False
    )


@query("pipeline_corpus_release", oracle=_RELEASE_ORACLE)
def pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus RELEASE manifest (round-9 verdict item
    #7b) — the sign-off artifact a training-data release ships,
    composing four individually-certified stages into ONE lineage
    whose hash certifies the composition:

    1. **Decontamination** — the registered
       `pipeline_train_decontamination` callable itself (GPT-3-style
       {_REL_DECON_K}-gram scrub of the md5-bucketed 80/10/10 train
       split against val/test).
    2. **Near-dup scrub** over the decon survivors, on the shared
       banded-LSH pairs artifact (`_minhash_pairs`, Jaccard ≥ 0.5):
       drop every survivor near-duplicate of ANY eval-split document
       (`quality_split_leakage_near_dup`'s actionable list), and the
       GREATER doc_id of every survivor-survivor pair (deterministic
       keep-first canonicalization — no transitive closure needed for
       a pairwise-defined scrub).
    3. **Balance audit** — per-source corpus share in exact floor-ppm
       BEFORE vs AFTER the scrub, so a scrub that silently skews the
       source mix is visible in the manifest itself.
    4. **Budget** — the certified quality-weighted largest-remainder
       allocation (`sample_quality_weighted_budget`'s rule: 20-80
       token band, distinct-ratio > 0.25, Σ alloc == 1e6 EXACTLY)
       re-run over the RELEASED corpus, ties by source name.

    The released corpus then ships through the 2PC `sheetdir` sink —
    `tests/test_round11_pending.py` drives this manifest through the
    staged-write/atomic-manifest-commit path and re-reads it through
    the DataSource, completing the export leg (a side-effecting write
    cannot live inside the certified query itself).

    An empty release (total_final or total_passing = 0) raises
    LOUDLY on both engines (`raise_error` ↔ `error()`): a release
    manifest full of NULL shares is how an empty corpus ships
    unnoticed (DuckDB integer division by zero is silent NULL —
    round-8 ADVICE class).

    Scale shape: the decon stage's gram join and the pairs artifact
    are the two heavy legs, both individually certified and sized in
    SCALING.md; everything downstream is |survivors|-row joins
    collapsing to |sources| rows, and the remainder rank is the
    module's broadcast triangular self-join (no single-partition
    WindowExec). At 100 TB the eval gram set and the pairs table are
    the materialized artifacts every release job reuses.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10) — the capstone above `pipeline_training_export`,
    which packs sequences for a TRAINING RUN, where this signs off a
    CORPUS RELEASE."""
    return release_manifest(spark, sf_dir)


def release_manifest(
    spark: SparkSession, sf_dir: str, drop_mods: tuple[int, ...] = ()
) -> DataFrame:
    """The certified corpus-release manifest (`pipeline_corpus_release`'s
    rows) over the session-shared artifacts: documents, decon
    survivors, near-dup pairs (Jaccard >= 0.5) and survivor token
    stats. ``drop_mods`` leaves out a train-only ingest slice, which is
    how a PRIOR release is re-derived: survivors with doc_id % 7 in
    ``drop_mods`` go, and so do the train-split documents with it
    (`_slice_pred` is the oracle's form of the same rule). The slice is
    train-only, so the eval splits, the decon gram set and the pairs
    are the same with or without it, and no artifact is rebuilt."""
    from .sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    surv0 = _decon_survivors(spark, sf_dir)
    if drop_mods:
        sliced = (F.col("doc_id") % 7).isin(*drop_mods)
        d = d.filter(~(sliced & (hash_bucket(F.col("doc_id"), 100) < 80)))
        surv0 = surv0.filter(~sliced)
    nd = _neardup_pairs_05(spark, sf_dir)
    return _release_manifest(
        d, surv0, nd, tok_stats=_survivor_token_stats(spark, sf_dir)
    )


def _manifest_row():
    """A manifest row's canonical rendering: source and the eight
    integer columns verbatim, '|'-joined — the bytes a pin certificate
    hashes."""
    return F.concat_ws(
        "|",
        "source",
        *(
            F.col(c).cast("string")
            for c in (
                "n_train_raw",
                "n_dropped_decon",
                "n_dropped_neardup",
                "n_train_final",
                "share_before_ppm",
                "share_after_ppm",
                "passing_tokens",
                "alloc_tokens",
            )
        ),
    )


def _manifest_digest():
    """Aggregate: md5 over the canonical rows in column ``r``, sorted
    ascending and newline-joined — a pin certificate's manifest_md5."""
    return F.md5(
        F.concat_ws("\n", F.array_sort(F.collect_list("r"))).cast("binary")
    )


def _release_manifest(
    d: DataFrame,
    surv0: DataFrame,
    nd: DataFrame,
    tok_stats: DataFrame | None = None,
):
    """Stages 2-4 of the corpus-release pipeline over EXPLICIT inputs
    (documents table, decontamination survivors, near-dup pairs) —
    factored out of `pipeline_corpus_release` so a release built over
    a different document set (the release-diff family's PRIOR release:
    the same corpus minus a train-only ingest slice) runs the
    identical certified lineage with filtered inputs. Near-dup pairs
    of a document subset are exactly the full corpus's pairs
    restricted to subset x subset (banded LSH candidacy is pairwise),
    so the shared `_minhash_pairs` artifact filters instead of
    rebuilding.

    ``tok_stats`` (optional): a per-doc (doc_id, nt, ndt) table
    covering every possible final document (`_survivor_token_stats` —
    final sets are subsets of the full decon survivors). When given,
    the budget stage joins it instead of re-tokenizing the final
    documents' text — same rows, same values, one tokenization pass
    per session instead of one per manifest build (guide §2.4)."""
    from .sampling import hash_bucket

    ndu = nd.select(
        F.col("doc_a").alias("dd"), F.col("doc_b").alias("o")
    ).unionAll(nd.select(F.col("doc_b").alias("dd"), F.col("doc_a").alias("o")))
    leak = (
        surv0.select("doc_id")
        .join(ndu, F.col("doc_id") == F.col("dd"))
        .filter(hash_bucket(F.col("o"), 100) >= 80)
        .select("doc_id")
        .distinct()
    )
    within = (
        nd.join(surv0.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(surv0.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    drops = leak.unionAll(within).distinct()
    # localCheckpoint the two reused manifest intermediates (guide §3.3
    # / §5: materialize to truncate plan replay). Without it the
    # composed manifest plan re-executes `final`'s join lineage for
    # both of its consumers (fin agg + budget join) and `m`'s whole
    # upstream for every one of its 4-6 references (t, b, lo, rr) —
    # the release-diff plan carried 163 Exchanges and re-ran the
    # tokenize/join leg ~8× (measured 5.5-6.0 s; 3.2-3.3 s after).
    # Both tables are tiny (|survivors| × 2 cols; |sources| rows), so
    # the checkpoint is pennies and every consumer reads a scan. Per
    # _shared's shared_df note, AQE materializes the upstream stages
    # at construction — still inside the query's own timed window.
    final = surv0.join(drops, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    train_raw = d.filter(hash_bucket(F.col("doc_id"), 100) < 80)
    raw = train_raw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_raw")
    )
    s0 = surv0.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_surv0")
    )
    fin = final.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_final")
    )

    if tok_stats is not None:
        ft = final.join(tok_stats, "doc_id").select("source", "nt", "ndt")
    else:
        toks = tokens("text")
        ft = final.join(d.select("doc_id", "text"), "doc_id").select(
            "source",
            F.size(toks).alias("nt"),
            F.size(F.array_distinct(toks)).alias("ndt"),
        )
    passing = (
        F.col("nt").between(20, 80)
        & (F.col("ndt").cast("double") / F.col("nt") > 0.25)
    )
    g = ft.groupBy("source").agg(
        F.sum(F.when(passing, F.col("nt")).otherwise(0))
        .cast("long")
        .alias("passing_tokens")
    )

    m = (
        raw.join(s0, "source", "left")
        .join(fin, "source", "left")
        .join(g, "source", "left")
        .select(
            "source",
            "n_train_raw",
            (F.col("n_train_raw") - F.coalesce(F.col("n_surv0"), F.lit(0)))
            .cast("long")
            .alias("n_dropped_decon"),
            (
                F.coalesce(F.col("n_surv0"), F.lit(0))
                - F.coalesce(F.col("n_final"), F.lit(0))
            )
            .cast("long")
            .alias("n_dropped_neardup"),
            F.coalesce(F.col("n_final"), F.lit(0))
            .cast("long")
            .alias("n_train_final"),
            F.coalesce(F.col("passing_tokens"), F.lit(0))
            .cast("long")
            .alias("passing_tokens"),
        )
    )
    m = m.localCheckpoint(eager=False)
    t = m.agg(
        F.sum("n_train_raw").cast("long").alias("total_raw"),
        F.sum("n_train_final").cast("long").alias("total_final"),
        F.sum("passing_tokens").cast("long").alias("total_passing"),
    )
    b = m.crossJoin(F.broadcast(t)).select(
        "source",
        "n_train_raw",
        "n_dropped_decon",
        "n_dropped_neardup",
        "n_train_final",
        "passing_tokens",
        F.expr("(1000000 * n_train_raw) div total_raw").alias(
            "share_before_ppm"
        ),
        F.when(
            F.col("total_final") > 0,
            F.expr("(1000000 * n_train_final) div total_final"),
        )
        .otherwise(F.expr(f"raise_error('{_RELEASE_GUARD}')"))
        .cast("long")
        .alias("share_after_ppm"),
        F.when(
            F.col("total_passing") > 0,
            F.expr("(1000000 * passing_tokens) div total_passing"),
        )
        .otherwise(F.expr(f"raise_error('{_RELEASE_GUARD}')"))
        .cast("long")
        .alias("fshare"),
        F.when(
            F.col("total_passing") > 0,
            (1000000 * F.col("passing_tokens")) % F.col("total_passing"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rem"),
    )
    lo = b.agg((1000000 - F.sum("fshare")).cast("long").alias("leftover"))
    other = b.select(
        F.col("source").alias("source2"), F.col("rem").alias("rem2")
    )
    keep = [
        "source",
        "n_train_raw",
        "n_dropped_decon",
        "n_dropped_neardup",
        "n_train_final",
        "share_before_ppm",
        "share_after_ppm",
        "passing_tokens",
        "fshare",
    ]
    sb_ = (
        b.join(
            F.broadcast(other),
            (F.col("rem2") > F.col("rem"))
            | (
                (F.col("rem2") == F.col("rem"))
                & (F.col("source2") < F.col("source"))
            ),
            "left",
        )
        .groupBy(*keep)
        .agg(F.count("source2").alias("sbr"))
    )
    return (
        sb_.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_train_raw",
            "n_dropped_decon",
            "n_dropped_neardup",
            "n_train_final",
            "share_before_ppm",
            "share_after_ppm",
            "passing_tokens",
            (
                F.col("fshare")
                + F.when(F.col("sbr") < F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .orderBy("source")
    )


WINNOW_K = 16  # char k-gram length (MOSS used 5-char tokens over code;
# 16 chars ~ 2-3 words keeps the guarantee threshold t = K + W - 1 = 23
# chars: any shared substring of >= 23 chars is ALWAYS detected)
WINNOW_W = 8  # winnowing window (fingerprint density ~ 2/(W+1))
WINNOW_T = 2  # pairs must share >= T distinct fingerprints
WINNOW_DF_CAP = 64  # stop-fingerprint cap: a k-gram in > CAP docs is
# boilerplate, not evidence of copying (the stop-shingle device)

# the oracle's per-doc window minima (doc_id, i, fp) every winnowing
# oracle starts from
_WINNOW_WMIN_CTES = f"""docs AS (
      SELECT doc_id, text, len(text) - {WINNOW_K} + 1 AS ng
      FROM documents WHERE len(text) >= {WINNOW_K}
    ),
    grams AS (
      SELECT doc_id, ng, UNNEST(range(ng)) AS i FROM docs
    ),
    hashed AS (
      SELECT g.doc_id, g.ng, g.i,
             {sql_hex_long(
                 f"md5(substring(d.text, g.i + 1, {WINNOW_K}))", 14, 1
             )} AS h
      FROM grams g JOIN docs d USING (doc_id)
    ),
    wmin AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM hashed
      QUALIFY i <= ng - {WINNOW_W}
    )"""
oracle_prefix("winnow_wmin", f"WITH {_WINNOW_WMIN_CTES}")


def _winnow_live_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped winnowing fingerprint index (doc_id, fp) — one
    narrow char-position pass, per-doc window minima, DISTINCT, then
    the stop-fingerprint cap. Shared + localCheckpointed once per
    session (`shared_df(materialize=True)`): a narrow (doc_id, fp)
    table behind the expensive per-char MD5 + window-minima pipeline,
    read by the pairs report (2 plan references), the containment
    report (3) and the cluster rollup's containment replay — without
    materialization one cluster-rollup action replays the char pass
    up to 9×. The 100 TB equivalent is the persisted fingerprint
    index every release job probes instead of rebuilding."""
    return shared_df(
        "winnow_live_index",
        sf_dir,
        spark,
        lambda: _winnow_live_index_build(spark, sf_dir),
        materialize=True,
    )


def _winnow_live_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _df_capped(
        _winnow_windows(spark, sf_dir).select("doc_id", "fp").distinct()
    )


def _winnow_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, fp): the minimum of the WINNOW_W k-gram hashes
    (56-bit md5 slices of WINNOW_K-char k-grams) in the full window
    starting at char i — one narrow char-position pass, then a per-doc
    window. Docs shorter than WINNOW_K chars have no k-gram."""
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", (F.length("text") - WINNOW_K + 1).alias("ng"))
        .filter(F.col("ng") >= 1)
    )
    hashed = (
        fan_out(d, spark)
        .select(
            "doc_id",
            "ng",
            "text",
            F.posexplode(F.expr("sequence(0, ng - 1)")).alias("_p", "i"),
        )
        .select(
            "doc_id",
            "ng",
            "i",
            hex_prefix_long(
                F.md5(F.expr(f"substring(text, i + 1, {WINNOW_K})")), 14, 1
            ).alias("h"),
        )
    )
    return (
        hashed.withColumn(
            "fp",
            F.min("h").over(
                Window.partitionBy("doc_id")
                .orderBy("i")
                .rowsBetween(0, WINNOW_W - 1)
            ),
        )
        .filter(F.col("i") <= F.col("ng") - WINNOW_W)
        .select("doc_id", "i", "fp")
    )


def _df_capped(idx: DataFrame) -> DataFrame:
    """The stop-fingerprint cap: keep the rows of a one-row-per-(doc,
    fingerprint) index whose fingerprint occurs in at most
    WINNOW_DF_CAP documents."""
    live = (
        idx.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("fp")
    )
    return idx.join(live, "fp")


def _winnow_shared_pairs(idx: DataFrame) -> DataFrame:
    """(doc_a < doc_b, n_shared_fp): the inverted-index self-join over
    the (doc_id, fp) index, keeping pairs that share at least
    WINNOW_T fingerprints."""
    return (
        idx.select("fp", F.col("doc_id").alias("doc_a"))
        .join(idx.select("fp", F.col("doc_id").alias("doc_b")), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_T)
    )


@query(
    "dedup_winnowing_fingerprint_pairs",
    oracle=f"""
    WITH {_WINNOW_WMIN_CTES},
    fp AS (SELECT DISTINCT doc_id, fp FROM wmin),
    live AS (
      SELECT fp FROM fp GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fp
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      JOIN live l ON l.fp = a.fp
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WINNOW_T}
    )
    SELECT doc_a, doc_b, n_shared_fp FROM pairs
    """,
)
def dedup_winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WINNOWING document fingerprinting (Schleimer-Wilkerson-Aiken,
    the MOSS algorithm) — the CHARACTER-level partial-overlap detector
    the token-shingle family can't replace: MinHash/SimHash estimate
    WHOLE-document similarity and the containment tier needs token
    boundaries, but a copied paragraph inside an otherwise-different
    document moves every whole-doc score toward noise. Winnowing
    guarantees any shared substring of >= K + W - 1 = {WINNOW_K
    + WINNOW_W - 1} characters produces at least one SHARED
    fingerprint, while storing only ~2/(W+1) of the k-gram hashes:
    per doc, hash every {WINNOW_K}-char k-gram (56-bit md5 slice) and
    keep the MINIMUM of each {WINNOW_W}-hash window (full windows
    only); docs sharing >= {WINNOW_T} distinct fingerprints pair with
    their shared-fingerprint count — the plagiarism/quote-reuse
    report beside the whole-doc near-dup families.

    Fingerprints occurring in > {WINNOW_DF_CAP} documents are dropped
    as boilerplate (the stop-shingle device): a universal header is
    evidence of a template, not of copying — and the cap is what
    bounds the pair join's Σ df² at corpus scale. Docs shorter than
    K + W - 1 chars produce no full window and exit (exact dedup owns
    short docs).

    Scale shape: one narrow pass explodes char positions (O(chars)
    rows — same order as the shingle builders), the window minimum
    partitions BY DOC (per-key groups, never a global sort), DISTINCT
    collapses to the ~2/(W+1)-density fingerprint set, and the pair
    join runs on the df-capped inverted index exactly like the banded
    LSH join. At 100 TB the fingerprint set is the materialized
    artifact; the guarantee threshold (23 chars) and density are the
    published winnowing trade-off.

    Reference basis: none; contract dedup family (SURVEY §2.10 F8/F9
    extension) — the char-level rung under the token-level ladder."""
    return _winnow_shared_pairs(_winnow_live_index(spark, sf_dir))


@query(
    "dedup_winnowing_containment",
    oracle=f"""
    WITH {_WINNOW_WMIN_CTES},
    fp AS (SELECT DISTINCT doc_id, fp FROM wmin),
    live AS (
      SELECT fp FROM fp GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ),
    idx AS (SELECT f.doc_id, f.fp FROM fp f JOIN live l ON l.fp = f.fp),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM idx GROUP BY 1
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fp
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WINNOW_T}
    ),
    ct AS (
      SELECT p.doc_a, p.doc_b, p.n_shared_fp,
             sa.nf AS na, sb.nf AS nb
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT CASE WHEN na < nb THEN doc_a
                WHEN nb < na THEN doc_b
                ELSE GREATEST(doc_a, doc_b) END AS doc_contained,
           CASE WHEN na < nb THEN doc_b
                WHEN nb < na THEN doc_a
                ELSE LEAST(doc_a, doc_b) END AS doc_container,
           n_shared_fp,
           LEAST(na, nb) AS n_fp_contained,
           CAST((1000000 * n_shared_fp) // LEAST(na, nb) AS BIGINT)
             AS containment_ppm
    FROM ct
    WHERE 2 * n_shared_fp >= LEAST(na, nb)
    """,
)
def dedup_winnowing_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTAINMENT over the winnowing fingerprint index — the
    actionable drop list on top of `dedup_winnowing_fingerprint_pairs`
    (which reports raw shared-fingerprint pairs): for each pair, score
    shared / |smaller fingerprint set| — the char-level analogue of
    the token containment tier — and report pairs where at least HALF
    of the smaller document's fingerprints appear in the larger one
    (integer inequality 2·shared ≥ min, no division until the final
    floor-ppm read-out). ``doc_contained`` is the smaller-set member
    (ties → the greater doc_id), i.e. the quote-within-an-article /
    excerpt-reuse drop candidate that whole-document Jaccard scores
    miss entirely (the containing document dilutes the union).

    Sizes count LIVE (df-capped) fingerprints — the index a release
    job actually holds — so boilerplate fingerprints neither inflate
    the denominator nor manufacture containment. Both endpoints of
    any reported pair carry ≥ {WINNOW_T} live fingerprints by the
    pair threshold, so the denominator is never zero.

    Scale shape: one shared `_winnow_live_index` build (the same
    artifact the pairs report reads), a |docs|-row size agg, and the
    df-capped inverted self-join — identical join budget to the pairs
    op, plus two broadcast-sized joins to sizes.

    Reference basis: none; contract dedup family (SURVEY §2.10 F8/F9
    extension) — the decision tier of the winnowing rung."""
    idx = _winnow_live_index(spark, sf_dir)
    sizes = idx.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nf")
    )
    pairs = _winnow_shared_pairs(idx)
    ct = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
    )
    mn = F.least(F.col("na"), F.col("nb"))
    contained = (
        F.when(F.col("na") < F.col("nb"), F.col("doc_a"))
        .when(F.col("nb") < F.col("na"), F.col("doc_b"))
        .otherwise(F.greatest(F.col("doc_a"), F.col("doc_b")))
    )
    container = (
        F.when(F.col("na") < F.col("nb"), F.col("doc_b"))
        .when(F.col("nb") < F.col("na"), F.col("doc_a"))
        .otherwise(F.least(F.col("doc_a"), F.col("doc_b")))
    )
    return ct.filter(2 * F.col("n_shared_fp") >= mn).select(
        contained.cast("long").alias("doc_contained"),
        container.cast("long").alias("doc_container"),
        "n_shared_fp",
        mn.cast("long").alias("n_fp_contained"),
        F.expr("CAST((1000000 * n_shared_fp) div least(na, nb) AS BIGINT)")
        .alias("containment_ppm"),
    )


_WINNOW_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_WINNOW_WMIN_CTES},
    fp AS (SELECT DISTINCT doc_id, fp FROM wmin),
    live AS (
      SELECT fp FROM fp GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ),
    idx AS (SELECT f.doc_id, f.fp FROM fp f JOIN live l ON l.fp = f.fp),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM idx GROUP BY 1
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fp
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WINNOW_T}
    ),
    ct AS (
      SELECT p.doc_a, p.doc_b, p.n_shared_fp,
             sa.nf AS na, sb.nf AS nb
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    ),
    cpairs AS (
      SELECT doc_a, doc_b FROM ct
      WHERE 2 * n_shared_fp >= LEAST(na, nb)
    ),
    verts AS (
      SELECT DISTINCT doc_a AS id FROM cpairs
      UNION
      SELECT DISTINCT doc_b AS id FROM cpairs
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM cpairs
      UNION ALL
      SELECT doc_b, doc_a FROM cpairs
    ),
    walk AS (
      SELECT id AS d, id AS lab FROM verts
      UNION
      SELECT e.t AS d, w.lab FROM walk w JOIN edges e ON e.s = w.d
    ),
    cl AS (SELECT d, CAST(MIN(lab) AS BIGINT) AS component
           FROM walk GROUP BY d),
    ndc AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM cl GROUP BY 1),
    npc AS (
      SELECT cl.component, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM cpairs p JOIN cl ON cl.d = p.doc_a GROUP BY 1
    )
    SELECT component AS cluster_id, n_docs, n_pairs
    FROM ndc JOIN npc USING (component)
    """


@query("dedup_winnowing_clusters", oracle=_WINNOW_CLUSTERS_ORACLE)
def dedup_winnowing_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER rollup of the winnowing containment graph — the action
    tier above the pairwise drop list: transitive closure over the
    containment pairs (2 * shared >= min live fingerprints) groups
    every chain of partial-overlap reuse — A quotes B quotes C — into
    ONE cluster with its min-doc_id label, the unit a curator actually
    reviews or drops. Pairwise keep-first canonicalization would keep
    both endpoints of an A-C pair that only connects through B; the
    closure catches it. Per cluster: the min-id representative, member
    count, and containment-pair count (pair density separates a
    boilerplate hub from a two-doc quote). Documents in no containment
    pair are NOT rows here — singletons are the corpus default, and
    the cluster report is the exception list.

    Scale shape: rides the shared `_winnow_live_index` artifact and
    the containment pairs (df-capped inverted index, never all-pairs);
    the closure is `propagate_min_labels` — union-find on the driver
    while the VERIFIED pair list fits the collect budget (near-dup
    edge lists are orders of magnitude smaller than the corpus), else
    the star-augmented O(log diameter) distributed loop; the rollup
    is two |clusters|-row aggs. Same machinery as the certified
    simhash `dedup_connected_components`.

    Reference basis: none; contract F8-F9/F13 dedup family — the
    winnowing arm's closure tier (SURVEY F75 rung above
    `dedup_winnowing_containment`)."""
    # containment edge list, localCheckpointed once: a ≤|near-dup|-row
    # pair table behind the inverted-index self-join, referenced three
    # times in this plan (vertex set, label propagation, pair rollup)
    cp = shared_df(
        "winnow_containment_pairs",
        sf_dir,
        spark,
        lambda: dedup_winnowing_containment(spark, sf_dir).select(
            F.col("doc_contained").alias("a"), F.col("doc_container").alias("b")
        ),
        materialize=True,
    )
    verts = (
        cp.select(F.col("a").alias("id"))
        .unionByName(cp.select(F.col("b").alias("id")))
        .distinct()
    )
    labels = propagate_min_labels(verts, cp)
    ndc = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    npc = (
        cp.join(labels, cp["a"] == labels["id"])
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return ndc.join(npc, "component").select(
        F.col("component").cast("long").alias("cluster_id"),
        "n_docs",
        "n_pairs",
    )


def _manifest_chain_sql(s: str, pred: str) -> str:
    """One full corpus-release manifest CTE chain (the certified
    `_RELEASE_ORACLE` lineage), suffixed ``{s}`` and restricted to
    the documents satisfying ``pred`` over the shared ``tagged`` CTE
    — ends in man{s}(source, n_train_raw, n_dropped_decon,
    n_dropped_neardup, n_train_final, share_before_ppm,
    share_after_ppm, passing_tokens, alloc_tokens). Shares ``pairs``
    (banded LSH), ``ndj``/``ndu`` (verified near-dup pairs), and
    ``eval_g`` (eval gram set) with every other chain: a release
    built over a document subset needs no pair or gram rebuild when
    the excluded slice is train-only (eval sets frozen)."""
    return f"""
    tag{s} AS (SELECT * FROM tagged WHERE {pred}),
    train_g{s} AS (
      SELECT DISTINCT doc_id, md5(unnest({_REL_GRAM_SQL})) AS gh
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tag{s} WHERE split = 'train') x
    ),
    dirty{s} AS (
      SELECT DISTINCT t.doc_id FROM train_g{s} t JOIN eval_g e USING (gh)
    ),
    surv0{s} AS (
      SELECT doc_id, source, text FROM tag{s}
      WHERE split = 'train'
        AND doc_id NOT IN (SELECT doc_id FROM dirty{s})
    ),
    leak{s} AS (
      SELECT DISTINCT sv.doc_id FROM surv0{s} sv JOIN ndu ON ndu.d = sv.doc_id
      WHERE {_SPLIT_CASE_SQL.format(col="ndu.o")} <> 'train'
    ),
    within{s} AS (
      SELECT DISTINCT ndj.doc_b AS doc_id
      FROM ndj JOIN surv0{s} a ON a.doc_id = ndj.doc_a
               JOIN surv0{s} b ON b.doc_id = ndj.doc_b
    ),
    drops{s} AS (SELECT doc_id FROM leak{s}
                 UNION SELECT doc_id FROM within{s}),
    final{s} AS (
      SELECT * FROM surv0{s}
      WHERE doc_id NOT IN (SELECT doc_id FROM drops{s})
    ),
    raw{s} AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train_raw
               FROM tag{s} WHERE split = 'train' GROUP BY 1),
    sv{s} AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_surv0
              FROM surv0{s} GROUP BY 1),
    fn{s} AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final
              FROM final{s} GROUP BY 1),
    ftok{s} AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt,
             len(list_distinct(list_filter(string_split(text, ' '),
                                           t -> t <> ''))) AS ndt
      FROM final{s}
    ),
    gq{s} AS (
      SELECT source,
             CAST(SUM(CASE WHEN nt BETWEEN 20 AND 80
                            AND CAST(ndt AS DOUBLE) / nt > 0.25
                           THEN nt ELSE 0 END) AS BIGINT) AS passing_tokens
      FROM ftok{s} GROUP BY 1
    ),
    m{s} AS (
      SELECT raw{s}.source, raw{s}.n_train_raw,
             raw{s}.n_train_raw - COALESCE(sv{s}.n_surv0, 0)
               AS n_dropped_decon,
             COALESCE(sv{s}.n_surv0, 0) - COALESCE(fn{s}.n_final, 0)
               AS n_dropped_neardup,
             COALESCE(fn{s}.n_final, 0) AS n_train_final,
             COALESCE(gq{s}.passing_tokens, 0) AS passing_tokens
      FROM raw{s} LEFT JOIN sv{s} USING (source)
                  LEFT JOIN fn{s} USING (source)
                  LEFT JOIN gq{s} USING (source)
    ),
    tt{s} AS (SELECT CAST(SUM(n_train_raw) AS BIGINT) AS total_raw,
                     CAST(SUM(n_train_final) AS BIGINT) AS total_final,
                     CAST(SUM(passing_tokens) AS BIGINT) AS total_passing
              FROM m{s}),
    bb{s} AS (
      SELECT m{s}.*,
             (1000000 * m{s}.n_train_raw) // tt{s}.total_raw
               AS share_before_ppm,
             CASE WHEN tt{s}.total_final = 0
                  THEN CAST(error('{_RELEASE_GUARD}') AS BIGINT)
                  ELSE (1000000 * m{s}.n_train_final) // tt{s}.total_final
              END AS share_after_ppm,
             CASE WHEN tt{s}.total_passing = 0
                  THEN CAST(error('{_RELEASE_GUARD}') AS BIGINT)
                  ELSE (1000000 * m{s}.passing_tokens) // tt{s}.total_passing
              END AS fshare,
             CASE WHEN tt{s}.total_passing = 0 THEN 0
                  ELSE (1000000 * m{s}.passing_tokens) % tt{s}.total_passing
              END AS rem
      FROM m{s}, tt{s}
    ),
    lo{s} AS (SELECT 1000000 - CAST(SUM(fshare) AS BIGINT) AS leftover
              FROM bb{s}),
    rr{s} AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) - 1 AS sb
      FROM bb{s}
    ),
    man{s} AS (
      SELECT source,
             CAST(n_train_raw AS BIGINT) AS n_train_raw,
             CAST(n_dropped_decon AS BIGINT) AS n_dropped_decon,
             CAST(n_dropped_neardup AS BIGINT) AS n_dropped_neardup,
             CAST(n_train_final AS BIGINT) AS n_train_final,
             CAST(share_before_ppm AS BIGINT) AS share_before_ppm,
             CAST(share_after_ppm AS BIGINT) AS share_after_ppm,
             CAST(passing_tokens AS BIGINT) AS passing_tokens,
             CAST(fshare + CASE WHEN sb < leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS alloc_tokens
      FROM rr{s}, lo{s}
    )"""


def _slice_pred(drop_mods: tuple[int, ...]) -> str:
    """The oracle's form of `release_manifest`'s train-only slice rule
    over the ``tagged`` CTE: documents with doc_id % 7 in
    ``drop_mods`` leave the train split."""
    if not drop_mods:
        return "TRUE"
    hit = f"= {drop_mods[0]}" if len(drop_mods) == 1 else f"IN {drop_mods}"
    return f"NOT (doc_id % 7 {hit} AND split = 'train')"


# the diff family's simulated prior release: the doc_id % 7 == 3 slice
_DIFF_SLICE_MODS = (3,)
_DIFF_SLICE_PRED = _slice_pred(_DIFF_SLICE_MODS)

# The byte-exact shared head of every release-family oracle, registered
# as an oracle-prefix artifact below so check_oracle can materialize
# pairs/ndj/ndu/tagged/eval_g once per local session instead of
# replaying the LSH build per query; only the local verification
# protocol reads the registration.
_RELEASE_HEAD_CTES = f"""{_MINHASH_CTES},
    ndj AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
    ndu AS (SELECT doc_a AS d, doc_b AS o FROM ndj
            UNION ALL SELECT doc_b AS d, doc_a AS o FROM ndj),
    tagged AS (
      SELECT doc_id, source, text,
             {_SPLIT_CASE_SQL.format(col="doc_id")} AS split
      FROM documents
    ),
    eval_g AS (
      SELECT DISTINCT md5(unnest({_REL_GRAM_SQL})) AS gh
      FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM tagged WHERE split <> 'train') x
    )"""

# longest-match wins in check_oracle: release-family oracles match the
# full head; the plain minhash-family oracles match just the pairs build
oracle_prefix("minhash", f"WITH {_MINHASH_CTES}")
oracle_prefix("release_head", f"WITH {_RELEASE_HEAD_CTES}")

_RELEASE_DIFF_ORACLE = f"""
    WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("a", _DIFF_SLICE_PRED)},
    {_manifest_chain_sql("b", "TRUE")}
    SELECT COALESCE(a.source, b.source) AS source,
           COALESCE(a.n_train_raw, 0) AS n_raw_prev,
           COALESCE(b.n_train_raw, 0) AS n_raw_curr,
           COALESCE(a.n_train_final, 0) AS n_final_prev,
           COALESCE(b.n_train_final, 0) AS n_final_curr,
           COALESCE(b.n_train_final, 0) - COALESCE(a.n_train_final, 0)
             AS d_final_docs,
           COALESCE(a.share_after_ppm, 0) AS share_after_prev_ppm,
           COALESCE(b.share_after_ppm, 0) AS share_after_curr_ppm,
           COALESCE(b.share_after_ppm, 0) - COALESCE(a.share_after_ppm, 0)
             AS share_drift_ppm,
           COALESCE(a.alloc_tokens, 0) AS alloc_prev,
           COALESCE(b.alloc_tokens, 0) AS alloc_curr,
           COALESCE(b.alloc_tokens, 0) - COALESCE(a.alloc_tokens, 0)
             AS alloc_drift,
           CAST(CASE WHEN abs(COALESCE(b.share_after_ppm, 0)
                              - COALESCE(a.share_after_ppm, 0)) > 20000
                     THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
    FROM mana a FULL JOIN manb b USING (source)
    ORDER BY source
    """


@query("pipeline_release_diff", oracle=_RELEASE_DIFF_ORACLE)
def pipeline_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-vs-MANIFEST drift between two corpus releases — the
    nightly monitoring read of the release capstone (round-10 verdict
    item #6b): the CURRENT release (`pipeline_corpus_release`'s exact
    lineage) against the SIMULATED PRIOR release built over the same
    corpus minus a train-only ingest slice (doc_id % 7 == 3 within
    the train split — "what arrived since last night"). Per source:
    raw/final doc deltas, after-scrub share drift in exact ppm,
    budget-allocation drift, and a drift flag (|share drift| > 2%).

    The prior release is EXACT, not approximate: because the slice is
    train-only, the eval splits — and therefore the decontamination
    gram set — are frozen between releases, so the prior manifest is
    the identical certified pipeline (`_release_manifest`) over
    filtered inputs: prior decon survivors = current survivors minus
    the slice, and the near-dup scrub needs no pair rebuild (pair
    candidacy is pairwise; the survivor joins restrict endpoints).
    Each side keeps the capstone's empty-release loud guard.

    Scale shape: the two heavy legs (gram join, pairs artifact) run
    ONCE and are shared — the second manifest adds only
    |survivors|-row joins collapsing to |sources| rows, exactly what
    a production nightly diff costs against materialized artifacts.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10) — the monitoring rung above
    `pipeline_corpus_release`."""
    man_b = release_manifest(spark, sf_dir)
    man_a = release_manifest(spark, sf_dir, _DIFF_SLICE_MODS)
    a = man_a.select(
        "source",
        F.col("n_train_raw").alias("raw_a"),
        F.col("n_train_final").alias("fin_a"),
        F.col("share_after_ppm").alias("sh_a"),
        F.col("alloc_tokens").alias("al_a"),
    )
    b = man_b.select(
        "source",
        F.col("n_train_raw").alias("raw_b"),
        F.col("n_train_final").alias("fin_b"),
        F.col("share_after_ppm").alias("sh_b"),
        F.col("alloc_tokens").alias("al_b"),
    )
    z = F.lit(0)
    return (
        a.join(b, "source", "full")
        .select(
            "source",
            F.coalesce("raw_a", z).cast("long").alias("n_raw_prev"),
            F.coalesce("raw_b", z).cast("long").alias("n_raw_curr"),
            F.coalesce("fin_a", z).cast("long").alias("n_final_prev"),
            F.coalesce("fin_b", z).cast("long").alias("n_final_curr"),
            (F.coalesce("fin_b", z) - F.coalesce("fin_a", z))
            .cast("long")
            .alias("d_final_docs"),
            F.coalesce("sh_a", z).cast("long").alias("share_after_prev_ppm"),
            F.coalesce("sh_b", z).cast("long").alias("share_after_curr_ppm"),
            (F.coalesce("sh_b", z) - F.coalesce("sh_a", z))
            .cast("long")
            .alias("share_drift_ppm"),
            F.coalesce("al_a", z).cast("long").alias("alloc_prev"),
            F.coalesce("al_b", z).cast("long").alias("alloc_curr"),
            (F.coalesce("al_b", z) - F.coalesce("al_a", z))
            .cast("long")
            .alias("alloc_drift"),
            F.when(
                F.abs(F.coalesce("sh_b", z) - F.coalesce("sh_a", z)) > 20000,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("drift_flag"),
        )
        .orderBy("source")
    )


_RELEASE_GATE_ORACLE = f"""
    WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("b", "TRUE")}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(n_train_final) AS BIGINT) AS total_final,
           CAST(MIN(n_train_final) AS BIGINT) AS min_source_final,
           CAST(MAX(abs(share_after_ppm - share_before_ppm)) AS BIGINT)
             AS max_share_drift_ppm,
           CAST(SUM(alloc_tokens) AS BIGINT) AS alloc_total,
           CAST(CASE WHEN MIN(n_train_final) >= 1
                      AND MAX(abs(share_after_ppm - share_before_ppm))
                          <= 50000
                      AND SUM(alloc_tokens) = 1000000
                     THEN 1 ELSE 0 END AS BIGINT) AS gate_pass
    FROM manb
    """


@query("quality_release_gate", oracle=_RELEASE_GATE_ORACLE)
def quality_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIP/NO-SHIP verdict over the corpus-release manifest — the
    decision tier above `pipeline_corpus_release` (a manifest is a
    report; a release job needs ONE row the scheduler can branch on):
    gate_pass = 1 iff (a) every source survives the scrub with at
    least one final document (a zeroed source means the scrub or the
    upstream feed broke), (b) the worst per-source share drift
    |after - before| stays within 5% (50000 ppm — a scrub that skews
    the mix that hard needs human sign-off), and (c) the
    largest-remainder allocation sums to exactly 1e6 (the budget
    identity, asserted in-band instead of assumed). The supporting
    reads (source count, totals, worst drift) ride in the same row so
    a failed gate is diagnosable from the verdict alone. The capstone's
    empty-release guard still raises below this gate.

    Scale shape: the manifest's own lineage (shared gram join + pairs
    artifact) plus ONE |sources|-row aggregate. Nothing new scales.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10) — the decision rung above the capstone, beside the
    release-diff monitor."""
    man = release_manifest(spark, sf_dir)
    drift = F.abs(F.col("share_after_ppm") - F.col("share_before_ppm"))
    return man.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n_train_final").cast("long").alias("total_final"),
        F.min("n_train_final").cast("long").alias("min_source_final"),
        F.max(drift).cast("long").alias("max_share_drift_ppm"),
        F.sum("alloc_tokens").cast("long").alias("alloc_total"),
        F.when(
            (F.min("n_train_final") >= 1)
            & (F.max(drift) <= 50000)
            & (F.sum("alloc_tokens") == 1000000),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("gate_pass"),
    )


# ---------------------------------------------------------------------------
# Training-data release family: release PIN / REPRODUCE (the audit rung above
# the release diff).
# ---------------------------------------------------------------------------

# the recorded release's symbolic id + its slice over the tagged corpus
# (the diff family's simulated prior release — a train-only ingest slice)
_PIN_RELEASE_ID = "rel-prior-train-docid-mod7-ne-3"

_RELEASE_PIN_ORACLE = f"""
    WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("p", _DIFF_SLICE_PRED)},
    canon AS (
      SELECT concat_ws('|', source,
                       CAST(n_train_raw AS VARCHAR),
                       CAST(n_dropped_decon AS VARCHAR),
                       CAST(n_dropped_neardup AS VARCHAR),
                       CAST(n_train_final AS VARCHAR),
                       CAST(share_before_ppm AS VARCHAR),
                       CAST(share_after_ppm AS VARCHAR),
                       CAST(passing_tokens AS VARCHAR),
                       CAST(alloc_tokens AS VARCHAR)) AS r,
             n_train_final, alloc_tokens
      FROM manp
    )
    SELECT '{_PIN_RELEASE_ID}' AS release_id,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(n_train_final) AS BIGINT) AS total_final,
           CAST(SUM(alloc_tokens) AS BIGINT) AS total_alloc,
           md5(string_agg(r, chr(10) ORDER BY r)) AS manifest_md5
    FROM canon
    """


@query("pipeline_release_pin", oracle=_RELEASE_PIN_ORACLE)
def pipeline_release_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIN a recorded corpus release and certify it REPRODUCES — the
    audit rung above `pipeline_release_diff` (round-11 verdict item
    #6b): re-derive the prior release's manifest from its RECORDED
    slice predicate (the diff family's train-only ingest slice,
    release id `rel-prior-train-docid-mod7-ne-3`) and emit a
    content-addressed certificate: md5 over the canonicalized
    manifest rows (every integer column rendered verbatim,
    '|'-joined, rows newline-joined in byte order). The certificate
    is what a release registry stores beside the predicate; equality
    of the hash IS byte-equality of the full manifest.

    The reproduce claim is certified cross-engine: the DuckDB oracle
    re-derives the identical manifest from the identical recorded
    predicate through a completely independent execution path
    (`_manifest_chain_sql` over the shared release head), so a driver
    green row means an independent engine, months later, re-derives
    the release bit-for-bit from the pin record — the training-data
    provenance guarantee ("which exact corpus trained this model")
    that count-level diffs can't give.

    Scale shape: the manifest's own lineage (shared gram join + pairs
    artifact, both session-materialized) plus ONE |sources|-row
    string aggregate — pinning costs nothing beyond the release
    build itself.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10)."""
    return _pin(release_manifest(spark, sf_dir, _DIFF_SLICE_MODS)).select(
        F.lit(_PIN_RELEASE_ID).alias("release_id"),
        "n_sources",
        "total_final",
        "total_alloc",
        "manifest_md5",
    )


def _pin(man: DataFrame) -> DataFrame:
    """A manifest's one-row pin certificate: n_sources, total_final,
    total_alloc and manifest_md5 over its canonical rows."""
    return man.select(
        _manifest_row().alias("r"), "n_train_final", "alloc_tokens"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n_train_final").cast("long").alias("total_final"),
        F.sum("alloc_tokens").cast("long").alias("total_alloc"),
        _manifest_digest().alias("manifest_md5"),
    )


# ---------------------------------------------------------------------------
# Winnowing family: cross-source CONTAINMENT MATRIX.
# ---------------------------------------------------------------------------

_WINNOW_MATRIX_ORACLE = f"""
    WITH docs AS MATERIALIZED (
      SELECT doc_id, text, len(text) - {WINNOW_K} + 1 AS ng
      FROM documents WHERE len(text) >= {WINNOW_K}
    ),
    grams AS (
      SELECT doc_id, ng, UNNEST(range(ng)) AS i FROM docs
    ),
    hashed AS (
      SELECT g.doc_id, g.ng, g.i,
             {sql_hex_long(
                 f"md5(substring(d.text, g.i + 1, {WINNOW_K}))", 14, 1
             )} AS h
      FROM grams g JOIN docs d USING (doc_id)
    ),
    wmin AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM hashed
      QUALIFY i <= ng - {WINNOW_W}
    ),
    fp AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM wmin),
    live AS (
      SELECT fp FROM fp GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ),
    idx AS MATERIALIZED (
      SELECT f.doc_id, f.fp FROM fp f JOIN live l ON l.fp = f.fp
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM idx GROUP BY 1
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_fp
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {WINNOW_T}
    ),
    ct AS MATERIALIZED (
      SELECT CASE WHEN sa.nf < sb.nf THEN p.doc_a
                  WHEN sb.nf < sa.nf THEN p.doc_b
                  ELSE GREATEST(p.doc_a, p.doc_b) END AS doc_contained,
             CASE WHEN sa.nf < sb.nf THEN p.doc_b
                  WHEN sb.nf < sa.nf THEN p.doc_a
                  ELSE LEAST(p.doc_a, p.doc_b) END AS doc_container,
             p.n_shared_fp,
             LEAST(sa.nf, sb.nf) AS n_fp_contained
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE 2 * p.n_shared_fp >= LEAST(sa.nf, sb.nf)
    )
    SELECT da.source AS source_contained,
           db.source AS source_container,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT ct.doc_contained) AS BIGINT)
             AS n_docs_contained,
           CAST((1000000 * SUM(ct.n_shared_fp))
                // SUM(ct.n_fp_contained) AS BIGINT)
             AS agg_containment_ppm
    FROM ct
    JOIN documents da ON da.doc_id = ct.doc_contained
    JOIN documents db ON db.doc_id = ct.doc_container
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query("dedup_winnowing_source_matrix", oracle=_WINNOW_MATRIX_ORACLE)
def dedup_winnowing_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE x SOURCE rollup of the winnowing containment graph —
    boilerplate provenance at a glance (round-11 verdict item #6c):
    for every directional source pair, how many containment
    relationships (`dedup_winnowing_containment`'s certified pair
    semantics: 2·shared >= min live fingerprints, contained = the
    smaller-set member) point FROM a contained doc in
    `source_contained` INTO a container doc in `source_container`,
    how many distinct docs that drops, and the aggregate containment
    strength in exact floor-ppm ((1e6 · Σ shared) div Σ min-fp — one
    division after two exact integer sums, so mirror-heavy source
    pairs read near 1e6 and incidental k-gram collisions read low).
    The diagonal (source contained in itself) is the within-source
    boilerplate load; off-diagonal asymmetry is the provenance read
    ("s2 quotes s1, not the reverse").

    Scale shape: the shared session-materialized `_winnow_live_index`
    artifact plus the same df-capped (<= {WINNOW_DF_CAP}) inverted
    self-join budget as the pairs/containment/cluster ops — the
    rollup itself is a |pairs|-row join to the documents table's
    source column collapsing to |sources|² rows. Nothing new scales.

    Reference basis: none; contract dedup family (SURVEY §2.10 F8/F9
    extension) — the provenance rollup above
    `dedup_winnowing_containment`."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ct = dedup_winnowing_containment(spark, sf_dir)
    return (
        ct.join(
            src.select(
                F.col("doc_id").alias("doc_contained"),
                F.col("source").alias("source_contained"),
            ),
            "doc_contained",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_container"),
                F.col("source").alias("source_container"),
            ),
            "doc_container",
        )
        .groupBy("source_contained", "source_container")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("doc_contained")
            .cast("long")
            .alias("n_docs_contained"),
            F.expr(
                "CAST((1000000 * SUM(n_shared_fp)) div SUM(n_fp_contained)"
                " AS BIGINT)"
            ).alias("agg_containment_ppm"),
        )
        .orderBy("source_contained", "source_container")
    )


# ---------------------------------------------------------------------------
# Training-data release family: release RETENTION LEDGER (the provenance rung
# above the pin certificate).
# ---------------------------------------------------------------------------

# (seq, release id, train-only slice left out of that release)
_RETENTION_RELEASES = [
    (1, "rel-hist-train-docid-mod7-ne-3-5", (3, 5)),
    (2, "rel-prior-train-docid-mod7-ne-3", (3,)),
    (3, "rel-current-full", ()),
]

_RETENTION_DRIFT_PPM = 20000  # the diff family's alert threshold

_RETENTION_CANON = """
    canon{s} AS (
      SELECT concat_ws('|', source,
                       CAST(n_train_raw AS VARCHAR),
                       CAST(n_dropped_decon AS VARCHAR),
                       CAST(n_dropped_neardup AS VARCHAR),
                       CAST(n_train_final AS VARCHAR),
                       CAST(share_before_ppm AS VARCHAR),
                       CAST(share_after_ppm AS VARCHAR),
                       CAST(passing_tokens AS VARCHAR),
                       CAST(alloc_tokens AS VARCHAR)) AS r,
             n_train_final, alloc_tokens
      FROM man{s}
    ),
    pin{s} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(n_train_final) AS BIGINT) AS total_final,
             CAST(SUM(alloc_tokens) AS BIGINT) AS total_alloc,
             md5(string_agg(r, chr(10) ORDER BY r)) AS manifest_md5
      FROM canon{s}
    )"""

# The three manifest lineages below are the retention ledger's entire
# oracle cost (DuckDB re-inlines CTE chains per reference — the r12
# release-family lesson); registering them as ONE byte-exact prefix
# lets check_oracle materialize head + chains once per session. The
# oracle string itself is reconstructed byte-identically, so the
# driver still runs a fully self-contained query.
_RETENTION_CHAINS_PREFIX = f"""WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("x", _slice_pred(_RETENTION_RELEASES[0][2]))},
    {_manifest_chain_sql("p", _slice_pred(_RETENTION_RELEASES[1][2]))},
    {_manifest_chain_sql("c", _slice_pred(_RETENTION_RELEASES[2][2]))}"""

_RETENTION_ORACLE = (
    "\n    "
    + _RETENTION_CHAINS_PREFIX
    + ",\n    "
    + ",".join(_RETENTION_CANON.format(s=s) for s in ("x", "p", "c"))
    + f""",
    dhp AS (
      SELECT CAST(COALESCE(MAX(abs(COALESCE(a.share_after_ppm, 0)
                                   - COALESCE(b.share_after_ppm, 0))), 0)
                  AS BIGINT) AS drift
      FROM manx a FULL JOIN manp b USING (source)
    ),
    dpc AS (
      SELECT CAST(COALESCE(MAX(abs(COALESCE(a.share_after_ppm, 0)
                                   - COALESCE(b.share_after_ppm, 0))), 0)
                  AS BIGINT) AS drift
      FROM manp a FULL JOIN manc b USING (source)
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS seq,
             '{_RETENTION_RELEASES[0][1]}' AS release_id,
             n_sources, total_final, total_alloc, manifest_md5,
             (SELECT drift FROM dhp) AS drift_vs_next_ppm,
             CAST(CASE WHEN (SELECT drift FROM dhp)
                            > {_RETENTION_DRIFT_PPM}
                       THEN 1 ELSE 0 END AS BIGINT) AS retained,
             CASE WHEN (SELECT drift FROM dhp) > {_RETENTION_DRIFT_PPM}
                  THEN 'milestone-drift' ELSE 'expired-no-drift'
             END AS reason
      FROM pinx
      UNION ALL
      SELECT CAST(2 AS BIGINT), '{_RETENTION_RELEASES[1][1]}',
             n_sources, total_final, total_alloc, manifest_md5,
             (SELECT drift FROM dpc),
             CAST(1 AS BIGINT), 'rollback-window'
      FROM pinp
      UNION ALL
      SELECT CAST(3 AS BIGINT), '{_RETENTION_RELEASES[2][1]}',
             n_sources, total_final, total_alloc, manifest_md5,
             CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'head'
      FROM pinc
    ) ORDER BY seq
    """
)


oracle_prefix("retention_chains", _RETENTION_CHAINS_PREFIX)


@query("pipeline_release_retention", oracle=_RETENTION_ORACLE)
def pipeline_release_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The release RETENTION LEDGER — chains pin certificates across
    the release HISTORY (three simulated releases: two nested
    train-only ingest slices and the current full corpus, each
    re-derived through the identical certified manifest lineage) and
    certifies the retention verdict a provenance registry applies
    (round-12 verdict item #8): the HEAD release and its rollback
    predecessor are always retained; an older release is retained only
    as a MILESTONE — its max per-source share_after drift vs its
    successor exceeds the diff family's {_RETENTION_DRIFT_PPM} ppm
    alert threshold (a release whose mix its successor reproduces
    within tolerance adds no provenance value and expires).

    Each row is a full pin certificate (content-addressed
    manifest_md5 over the canonicalized manifest, byte-identical to
    `pipeline_release_pin`'s rendering — seq 2 IS that op's
    certificate, cross-pinned by the crafted suite), so a green row
    set means every RETAINED release remains bit-for-bit reproducible
    from its recorded predicate months later — the "which exact
    corpus trained which model" ledger, time-depth included.

    Scale shape: the heavy legs (gram join, pairs) are the SHARED
    session-materialized artifacts — three manifest lineages over
    filtered inputs reuse them (near-dup pairs of a subset are the
    full corpus's pairs restricted; eval gram sets are frozen), and
    everything per-release collapses to |sources|-row aggregates. At
    100 TB the ledger costs three |sources|-row scans over manifests
    the release jobs already wrote.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10)."""
    mans = [
        release_manifest(spark, sf_dir, mods)
        for _, _, mods in _RETENTION_RELEASES
    ]

    def drift(ma, mb):
        a = ma.select("source", F.col("share_after_ppm").alias("sa"))
        b = mb.select("source", F.col("share_after_ppm").alias("sb"))
        z = F.lit(0)
        return (
            a.join(b, "source", "full")
            .agg(
                F.coalesce(
                    F.max(
                        F.abs(F.coalesce("sa", z) - F.coalesce("sb", z))
                    ),
                    z,
                )
                .cast("long")
                .alias("drift")
            )
        )

    d12, d23 = drift(mans[0], mans[1]), drift(mans[1], mans[2])
    rows = []
    for i, (seq, rid, _mods) in enumerate(_RETENTION_RELEASES):
        p = _pin(mans[i]).select(
            F.lit(seq).cast("long").alias("seq"),
            F.lit(rid).alias("release_id"),
            "n_sources",
            "total_final",
            "total_alloc",
            "manifest_md5",
        )
        if seq == 1:
            milestone = F.col("drift") > _RETENTION_DRIFT_PPM
            p = p.crossJoin(F.broadcast(d12)).select(
                "seq", "release_id", "n_sources", "total_final",
                "total_alloc", "manifest_md5",
                F.col("drift").alias("drift_vs_next_ppm"),
                F.when(milestone, 1).otherwise(0)
                .cast("long")
                .alias("retained"),
                F.when(milestone, "milestone-drift")
                .otherwise("expired-no-drift")
                .alias("reason"),
            )
        elif seq == 2:
            p = p.crossJoin(F.broadcast(d23)).select(
                "seq", "release_id", "n_sources", "total_final",
                "total_alloc", "manifest_md5",
                F.col("drift").alias("drift_vs_next_ppm"),
                F.lit(1).cast("long").alias("retained"),
                F.lit("rollback-window").alias("reason"),
            )
        else:
            p = p.select(
                "seq", "release_id", "n_sources", "total_final",
                "total_alloc", "manifest_md5",
                F.lit(0).cast("long").alias("drift_vs_next_ppm"),
                F.lit(1).cast("long").alias("retained"),
                F.lit("head").alias("reason"),
            )
        rows.append(p)
    out = rows[0]
    for p in rows[1:]:
        out = out.unionByName(p)
    return out.orderBy("seq")


# ---------------------------------------------------------------------------
# Training-data release family: DEDUP SOURCE-BIAS AUDIT (does the scrub fall
# evenly? — the selection-bias read of the release manifest).
# ---------------------------------------------------------------------------

_BIAS_ALERT_PPM = 100000  # flag a source deviating >10 points from global

_DEDUP_BIAS_ORACLE = f"""
    WITH {_RELEASE_HEAD_CTES},
    {_manifest_chain_sql("b", "TRUE")},
    g AS (
      SELECT CAST(SUM(n_train_raw) AS BIGINT) AS traw,
             CAST(SUM(n_dropped_decon) AS BIGINT) AS tdec,
             CAST(SUM(n_dropped_neardup) AS BIGINT) AS tnd
      FROM manb
    )
    SELECT m.source,
           CAST(m.n_train_raw AS BIGINT) AS n_train_raw,
           CAST((1000000 * m.n_dropped_decon) // m.n_train_raw AS BIGINT)
             AS drop_decon_ppm,
           CAST((1000000 * m.n_dropped_neardup) // m.n_train_raw AS BIGINT)
             AS drop_neardup_ppm,
           CAST((1000000 * g.tdec) // g.traw AS BIGINT)
             AS global_decon_ppm,
           CAST((1000000 * g.tnd) // g.traw AS BIGINT)
             AS global_neardup_ppm,
           CAST(CASE WHEN abs((1000000 * m.n_dropped_decon)
                              // m.n_train_raw
                              - (1000000 * g.tdec) // g.traw)
                          > {_BIAS_ALERT_PPM}
                       OR abs((1000000 * m.n_dropped_neardup)
                              // m.n_train_raw
                              - (1000000 * g.tnd) // g.traw)
                          > {_BIAS_ALERT_PPM}
                     THEN 1 ELSE 0 END AS BIGINT) AS bias_flag
    FROM manb m, g
    ORDER BY m.source
    """


@query("quality_dedup_source_bias", oracle=_DEDUP_BIAS_ORACLE)
def quality_dedup_source_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEDUP SOURCE-BIAS AUDIT — does the scrub fall evenly across
    sources? Deduplication and decontamination are corpus-level
    filters, but their drop mass is rarely uniform: a source whose
    decon drop rate towers over the global rate is an eval-overlap
    factory (benchmark-adjacent scrape), and one whose near-dup rate
    does is a mirror/boilerplate farm — either way the release's mix
    shifted for a REASON the share-drift monitor alone can't name.
    Per source: exact-ppm decon and near-dup drop rates off the
    certified release manifest, the global rates beside them, and an
    alert flag when either leg deviates more than
    {_BIAS_ALERT_PPM / 10000:.0f} points — the selection-bias read a
    data-governance review asks for (documented caveat: a flag is a
    SIGNAL of disparate impact, not proof — small sources have noisy
    rates, and the crafted suite pins a 1-doc source's flag
    semantics).

    A source in the manifest has n_train_raw >= 1 by construction
    (manifest rows group the raw train slice), so the rate divisors
    need no degenerate guard; the empty-release guards upstream in
    the manifest still fire loudly.

    Scale shape: |sources|-row arithmetic over the session-shared
    manifest lineage (gram join + pairs artifacts reused) plus one
    1-row global aggregate — free beside the release build it audits.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10) — the governance rung beside `quality_release_gate`
    and `pipeline_release_diff`."""
    man = release_manifest(spark, sf_dir)
    g = man.agg(
        F.sum("n_train_raw").cast("long").alias("traw"),
        F.sum("n_dropped_decon").cast("long").alias("tdec"),
        F.sum("n_dropped_neardup").cast("long").alias("tnd"),
    )
    m = man.crossJoin(F.broadcast(g)).select(
        "source",
        "n_train_raw",
        F.expr("(1000000 * n_dropped_decon) div n_train_raw")
        .cast("long")
        .alias("drop_decon_ppm"),
        F.expr("(1000000 * n_dropped_neardup) div n_train_raw")
        .cast("long")
        .alias("drop_neardup_ppm"),
        F.expr("(1000000 * tdec) div traw")
        .cast("long")
        .alias("global_decon_ppm"),
        F.expr("(1000000 * tnd) div traw")
        .cast("long")
        .alias("global_neardup_ppm"),
    )
    dev = (
        F.abs(F.col("drop_decon_ppm") - F.col("global_decon_ppm"))
        > _BIAS_ALERT_PPM
    ) | (
        F.abs(F.col("drop_neardup_ppm") - F.col("global_neardup_ppm"))
        > _BIAS_ALERT_PPM
    )
    return m.select(
        "source",
        "n_train_raw",
        "drop_decon_ppm",
        "drop_neardup_ppm",
        "global_decon_ppm",
        "global_neardup_ppm",
        F.when(dev, 1).otherwise(0).cast("long").alias("bias_flag"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Similarity-graph family: PAGERANK over the similarity graph (the
# iterative-algorithm rung beside the one-shot graph audits — degree
# histogram, triangles, connected components).
# ---------------------------------------------------------------------------

_PR_ITERS = 3  # fixed, certified iteration count (a production run
# iterates to a residual; the certified op pins the plan per round)
_PR_E9 = 1_000_000_000  # rank mass carried in integer ppb


def _pagerank_iter_sql() -> str:
    """Unrolled integer-ppb PageRank oracle: r0 + _PR_ITERS
    contribution/update CTE pairs, byte-generated so the SQL and the
    Spark loop share one iteration count."""
    cte = [
        # MATERIALIZED: `e` is referenced by deg + every unrolled
        # contribution CTE — without the hint DuckDB re-inlines the
        # all-pairs cosine join per reference (73 s -> ~20 s at sf0.1).
        f"pairs AS MATERIALIZED ({_COS_PAIR_SQL})",
        """e AS MATERIALIZED (
      SELECT vec_a AS s, vec_b AS d FROM pairs
      UNION ALL
      SELECT vec_b AS s, vec_a AS d FROM pairs
    )""",
        """deg AS (
      SELECT s AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1
    )""",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)",
        f"r0 AS (SELECT v, {_PR_E9} // nn.n AS r FROM deg, nn)",
    ]
    for i in range(_PR_ITERS):
        cte.append(
            f"""c{i} AS (
      SELECT e.d AS v, CAST(SUM(r{i}.r // deg.deg) AS BIGINT) AS s
      FROM e JOIN r{i} ON r{i}.v = e.s JOIN deg ON deg.v = e.s
      GROUP BY 1
    )"""
        )
        cte.append(
            f"""r{i + 1} AS (
      SELECT c{i}.v,
             {15 * _PR_E9} // (100 * nn.n) + (85 * c{i}.s) // 100 AS r
      FROM c{i}, nn
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(cte)
        + f"""
    SELECT f.v AS vec_id, deg.deg AS degree,
           CAST(f.r AS BIGINT) AS rank_ppb
    FROM r{_PR_ITERS} f JOIN deg ON deg.v = f.v
    ORDER BY f.r DESC, f.v LIMIT 10
    """
    )


@query("sim_graph_pagerank_iter", oracle=_pagerank_iter_sql())
def sim_graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK over the cosine >= 0.4 similarity graph — {iters}
    damped power iterations (d = 0.85, the published constant)
    reporting the top-10 HUB DOCUMENTS by stationary mass: the graph
    family's centrality rung, and the near-dup triage tool the degree
    histogram motivates — a high-PageRank vector is boilerplate GLUE
    (connected to well-connected neighborhoods, chaining clusters the
    CC pass would merge), which a plain degree count cannot separate
    from a locally-dense but isolated clique.

    Exactness device: rank mass travels as INTEGER PPB. Each node
    starts at 1e9 // N; each iteration sends r(u) // deg(u) along
    every edge and updates to (15·1e9) // (100·N) + (85·Σ) // 100 —
    floor division at every step, so both engines walk bit-identical
    integer states and NO float ever accumulates across an iteration
    boundary (the classic cross-engine failure of float PageRank: sum
    order changes the 15th decimal, three iterations amplify it). The
    deterministic mass leak of floor division is the documented trade
    — ranking, not probability, is the contract. The graph is
    symmetric and degree >= 1 by construction, so the dangling-node
    term is structurally absent.

    Scale shape: the edge set is the SHARED materialized artifact
    behind every graph audit (`_cos_pair_edges` — pairs << docs);
    each iteration is one shuffle-join of ranks onto edges plus one
    map-side-combinable SUM on the destination key — the textbook
    distributed PageRank plan, with the iteration count FIXED so the
    certified plan is {iters} joins, not a driver-side convergence
    loop. Top-10 lands via TakeOrdered, never a global sort.

    Reference basis: none; contract F10/F14 similarity-graph family
    (SURVEY §2.10).
    """
    edges = _cos_pair_edges(spark, sf_dir)
    e = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("s"), F.col("vec_b").alias("d")
                ),
                F.struct(
                    F.col("vec_b").alias("s"), F.col("vec_a").alias("d")
                ),
            )
        ).alias("x")
    ).select("x.s", "x.d")
    deg = e.groupBy(F.col("s").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    n = deg.select(F.count(F.lit(1)).cast("long").alias("n"))
    r = deg.crossJoin(F.broadcast(n)).select(
        "v", F.expr(f"{_PR_E9}L div n").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = r.join(deg, "v").select(
            "v", F.expr("r div deg").alias("c")
        )
        s = (
            e.join(contrib, e.s == contrib.v)
            .groupBy(F.col("d").alias("v"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        r = s.crossJoin(F.broadcast(n)).select(
            "v",
            F.expr(
                f"(15L * {_PR_E9}L) div (100L * n) + (85L * s) div 100L"
            ).alias("r"),
        )
    return (
        r.join(deg, "v")
        .select(
            F.col("v").alias("vec_id"),
            F.col("deg").alias("degree"),
            F.col("r").cast("long").alias("rank_ppb"),
        )
        .orderBy(F.col("rank_ppb").desc(), "vec_id")
        .limit(10)
    )


sim_graph_pagerank_iter.__doc__ = sim_graph_pagerank_iter.__doc__.format(
    iters=_PR_ITERS
)


# ---------------------------------------------------------------------------
# Winnowing family: REPEATED-SPAN AUDIT (substring-level dedup — WHERE the
# copied text sits, the localization rung under the winnowing
# pair/containment/cluster reports).
# ---------------------------------------------------------------------------

_SPAN_GAP = WINNOW_K + WINNOW_W  # stitch tolerance: consecutive
# winnowing minima inside one contiguous shared span are <= W apart;
# K + W also rides out a single boilerplate-capped fingerprint hole
_SPAN_MIN_FPS = 2  # a 1-fingerprint diagonal is collision noise
_SPAN_TOP = 15

_SPAN_ORACLE = f"""
    WITH {_WINNOW_WMIN_CTES},
    pos AS (
      SELECT doc_id, fp, CAST(MIN(i) AS BIGINT) AS i
      FROM wmin GROUP BY 1, 2
    ),
    live AS (
      SELECT fp FROM pos GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ),
    idx AS (SELECT p.doc_id, p.fp, p.i FROM pos p JOIN live l ON l.fp = p.fp),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.i - b.i AS delta, a.i AS ia
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    flag AS (
      SELECT doc_a, doc_b, delta, ia,
             CASE WHEN ia - LAG(ia) OVER (PARTITION BY doc_a, doc_b, delta
                                          ORDER BY ia) > {_SPAN_GAP}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_a, doc_b, delta, ia,
             SUM(brk) OVER (PARTITION BY doc_a, doc_b, delta ORDER BY ia
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flag
    ),
    runs AS (
      SELECT doc_a, doc_b, delta,
             CAST(COUNT(*) AS BIGINT) AS n_fps,
             CAST(MIN(ia) AS BIGINT) AS start_a,
             CAST(MAX(ia) - MIN(ia) + {WINNOW_K + WINNOW_W - 1}
                  AS BIGINT) AS span_chars
      FROM isl GROUP BY doc_a, doc_b, delta, run_id
      HAVING COUNT(*) >= {_SPAN_MIN_FPS}
    )
    SELECT doc_a, doc_b, delta, n_fps, start_a, span_chars
    FROM runs
    ORDER BY span_chars DESC, doc_a, doc_b, delta, start_a
    LIMIT {_SPAN_TOP}
    """


def _winnow_position_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped winnowing index with positions: (fp, doc_id, i),
    i the FIRST window per (doc, fingerprint). Its (doc_id, fp) set is
    `_winnow_live_index`'s."""
    pos = _winnow_windows(spark, sf_dir).groupBy("doc_id", "fp").agg(
        F.min("i").cast("long").alias("i")
    )
    return _df_capped(pos)


@query("dedup_repeated_span_audit", oracle=_SPAN_ORACLE)
def dedup_repeated_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEATED-SPAN LOCALIZATION — the substring-level rung the
    whole-document dedup ladder stops short of (the published lesson:
    long VERBATIM SPANS repeated across documents — licenses, quoted
    passages, templated sections — survive document-level dedup and
    are exactly what a span-removal pass must find): for every
    document pair sharing position-aware winnowing fingerprints, a
    shared contiguous span puts every shared fingerprint on one
    DIAGONAL (ia − ib constant), so gaps-islands along each diagonal
    (new run when the position gap exceeds {_SPAN_GAP} chars)
    reconstructs the span — its start in doc_a, its fingerprint
    support, and a guaranteed-coverage length estimate
    max−min+{WINNOW_K + WINNOW_W - 1} (the winnowing window
    guarantee applied at both ends). Top {_SPAN_TOP} spans by length,
    fully tie-broken.

    Positions are FIRST OCCURRENCE per (doc, fingerprint) — a span
    repeated within one document is localized at its first site, and
    a fingerprint recurring elsewhere simply falls off the diagonal
    (the audit under-, never over-states). Diagonal matching is what
    separates a real span from coincidental shared k-grams: scattered
    matches land on scattered deltas and die under the
    >= {_SPAN_MIN_FPS}-fingerprint run filter.

    Scale shape: same narrow char pass + per-doc window minima as the
    certified winnowing family, the SAME df-cap ({WINNOW_DF_CAP})
    bounding the inverted-index pair join's Σdf², then per-(pair,
    diagonal) windows — per-key groups, never a global sort — and a
    TakeOrdered top-{_SPAN_TOP}. At 100 TB the position index is the
    same persisted artifact as the fingerprint index with one extra
    int column.

    Reference basis: none; contract F8/F9 dedup family (SURVEY §2.10)
    — the span-localization rung under
    `dedup_winnowing_fingerprint_pairs`."""
    from pyspark.sql import Window

    idx = _winnow_position_index(spark, sf_dir)
    a = idx.select(
        "fp", F.col("doc_id").alias("doc_a"), F.col("i").alias("ia")
    )
    b = idx.select(
        "fp", F.col("doc_id").alias("doc_b"), F.col("i").alias("ib")
    )
    hits = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", (F.col("ia") - F.col("ib")).alias("delta"), "ia"
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("ia")
    isl = hits.select(
        "doc_a",
        "doc_b",
        "delta",
        "ia",
        F.sum(
            F.when(
                F.col("ia") - F.lag("ia").over(w) > _SPAN_GAP, 1
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    runs = (
        isl.groupBy("doc_a", "doc_b", "delta", "run_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.min("ia").cast("long").alias("start_a"),
            (
                F.max("ia") - F.min("ia") + (WINNOW_K + WINNOW_W - 1)
            )
            .cast("long")
            .alias("span_chars"),
        )
        .filter(F.col("n_fps") >= _SPAN_MIN_FPS)
    )
    return (
        runs.select(
            "doc_a", "doc_b", "delta", "n_fps", "start_a", "span_chars"
        )
        .orderBy(
            F.col("span_chars").desc(), "doc_a", "doc_b", "delta", "start_a"
        )
        .limit(_SPAN_TOP)
    )


# ---------------------------------------------------------------------------
# Training-data release family: CROSS-RELEASE RETENTION GC — apply the
# retention verdict to a PERSISTED manifest store: delete expired
# releases' artifacts and certify the survivors still reproduce their
# pin certificates from the stored bytes. Not registered (it writes);
# tests/test_round15_pending.py drives it.
# ---------------------------------------------------------------------------


def pipeline_release_gc(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> DataFrame:
    """Retention GC over a persisted release-manifest store: each of
    the three ledger releases first lands its CANONICALIZED manifest
    rows in the 2PC ``sheetdir`` store (the artifact a release job
    writes), the retention verdict (`pipeline_release_retention`)
    decides who survives, the GC REWRITES the store keeping only
    retained releases (the expired release's artifact is gone, not
    flagged), and the post-GC store is re-opened and certified: a
    surviving release VERIFIES iff the digest re-derived from its
    stored rows — md5 over the ascending newline-joined canonical
    rendering, the identical bytes `pipeline_release_pin` certifies —
    equals the verdict's `manifest_md5`, and an expired release
    verifies iff ZERO of its rows remain.

    Scale shape: manifests are |sources|-row artifacts; the GC is one
    filtered rewrite through the 2PC sink plus a |sources|-row digest
    agg per surviving release. At 100 TB the stored manifests are the
    registry the release jobs already maintain — this leg is the
    delete-and-reproduce audit a provenance registry runs after GC.

    Reference basis: none; contract training-data pipeline family
    (SURVEY §2.10) — the storage rung under the retention ledger."""
    from ..sources.pydatasource import SheetDirDataSource

    spark.dataSource.register(SheetDirDataSource)
    verdict = pipeline_release_retention(spark, sf_dir)

    exports = None
    for _seq, rid, mods in _RETENTION_RELEASES:
        rows = release_manifest(spark, sf_dir, mods).select(
            F.lit(rid).alias("release_id"), _manifest_row().alias("r")
        )
        exports = rows if exports is None else exports.unionByName(rows)
    exports.write.format("sheetdir").mode("overwrite").save(store_dir)

    keep = verdict.filter(F.col("retained") == 1).select(
        F.col("release_id").alias("k_rid")
    )
    pre = spark.read.format("sheetdir").load(store_dir).select(
        "release_id", "r"
    )
    survivors = (
        pre.join(F.broadcast(keep), F.col("release_id") == F.col("k_rid"))
        .select("release_id", "r")
        # materialize BEFORE the overwrite: the GC rewrite reads the
        # same store directory it replaces (|releases|x|sources| rows)
        .localCheckpoint()
    )
    survivors.write.format("sheetdir").mode("overwrite").save(store_dir)

    post = spark.read.format("sheetdir").load(store_dir).select(
        F.col("release_id").alias("s_rid"), "r"
    )
    dig = post.groupBy("s_rid").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_store"),
        _manifest_digest().alias("store_md5"),
    )
    ok = (
        (F.col("retained") == 1)
        & (F.col("store_md5") == F.col("manifest_md5"))
    ) | ((F.col("retained") == 0) & F.col("store_md5").isNull())
    return (
        verdict.join(dig, verdict.release_id == dig.s_rid, "left")
        .select(
            "seq",
            "release_id",
            "retained",
            "reason",
            F.coalesce("n_rows_store", F.lit(0))
            .cast("long")
            .alias("n_rows_store"),
            "manifest_md5",
            "store_md5",
            F.when(ok, 1).otherwise(0).cast("long").alias("verified"),
        )
        .orderBy("seq")
    )
