"""Oracle CTE-prefix materialization (tools/check_oracle.py).

Round-11 verdict item #4: the local verification protocol replays the
release family's banded-LSH ``pairs`` build per oracle (431.8 s for
``pipeline_release_diff`` alone at sf0.1 in PENDING_CHECK_r11.txt)
while the Spark side materializes shared artifacts once per session.
check_oracle now materializes registered WITH-prefixes as temp tables
and rewrites matching oracles to read them. These tests pin the two
properties the mechanism's safety rests on: the prefix parser splits
real CTE stacks correctly, and the rewritten query returns the exact
rows of the verbatim oracle (the driver always runs the verbatim
string — the rewrite exists only locally)."""

from __future__ import annotations

import duckdb

import __spark_entry__ as entry  # noqa: F401 — registers prefixes
from tools.check_oracle import _apply_prefix_artifacts, _split_with_ctes

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_split_with_ctes_synthetic():
    """Nested parens, quoted commas, a VALUES CTE with a declared
    column list, and WITH RECURSIVE all split correctly."""
    prefix = """WITH a AS (SELECT 1 AS x, ',' AS s FROM (SELECT 2) t),
      seeds (s, sa, sb) AS (VALUES (0, 1, 2), (1, 3, 4)),
      b AS (SELECT x FROM a WHERE s <> '(')"""
    ctes = _split_with_ctes(prefix)
    assert [n for n, _ in ctes] == ["a", "seeds", "b"]
    con = duckdb.connect()
    for name, body in ctes:
        con.execute(f"CREATE TEMP TABLE {name} AS {body}")
    assert con.execute("SELECT COUNT(*) FROM seeds").fetchone()[0] == 2
    assert con.execute(
        "SELECT sa FROM seeds WHERE s = 1"
    ).fetchone()[0] == 3
    assert _split_with_ctes("WITH RECURSIVE a AS (SELECT 1 AS x)") == [
        ("a", "SELECT 1 AS x")
    ]


def test_registered_prefixes_parse_and_match():
    """Both registered prefixes parse into creatable CTE lists, and
    every release-family oracle embeds one byte-exact."""
    from catme_etl_spark.operators.registry import (
        ORACLE,
        ORACLE_CTE_PREFIXES,
    )

    assert set(ORACLE_CTE_PREFIXES) >= {"minhash", "release_head"}
    for label, prefix in ORACLE_CTE_PREFIXES.items():
        names = [n for n, _ in _split_with_ctes(prefix)]
        assert len(names) == len(set(names)), label
        assert not (set(names) & set(TABLES)), label
    assert ORACLE_CTE_PREFIXES["release_head"] in ORACLE["pipeline_release_diff"]
    assert ORACLE_CTE_PREFIXES["release_head"] in ORACLE["quality_release_gate"]
    assert ORACLE_CTE_PREFIXES["minhash"] in ORACLE["pipeline_corpus_release"]


def test_rewrite_equivalence_release_gate():
    """The materialized rewrite returns the EXACT rows of the verbatim
    oracle on real sf0.001 data — for one release-family oracle (full
    head) and one minhash-family oracle (pairs prefix only)."""
    from catme_etl_spark.operators.registry import ORACLE

    for name in ("quality_release_gate", "dedup_minhash_lsh_pairs"):
        sql = ORACLE[name]
        con = _con()
        raw = con.execute(sql).fetchall()
        done: dict = {}
        rewritten = _apply_prefix_artifacts(con, sql, done)
        assert rewritten != sql, name  # a prefix actually matched
        assert done, name
        got = con.execute(rewritten).fetchall()
        assert sorted(map(tuple, got)) == sorted(map(tuple, raw)), name
        con.close()


def test_no_rewrite_without_match():
    """An oracle embedding no registered prefix runs verbatim and
    materializes nothing."""
    con = duckdb.connect()
    done: dict = {}
    sql = "SELECT 1 AS x"
    assert _apply_prefix_artifacts(con, sql, done) == sql
    assert done == {}


_WINNOW_ORACLES = (
    "dedup_winnowing_fingerprint_pairs",
    "dedup_winnowing_containment",
    "dedup_winnowing_clusters",
    "dedup_repeated_span_audit",
)


def test_winnow_prefix_matches_all_winnowing_oracles():
    """The window-minima prefix is byte-identical in all four
    winnowing oracles, and the rewrite matches each of them — the
    clusters oracle under its ``WITH RECURSIVE`` head."""
    from catme_etl_spark.operators.registry import (
        ORACLE,
        ORACLE_CTE_PREFIXES,
    )

    prefix = ORACLE_CTE_PREFIXES["winnow_wmin"]
    assert [n for n, _ in _split_with_ctes(prefix)] == [
        "docs", "grams", "hashed", "wmin"
    ]
    ctes = prefix[len("WITH "):]
    for name in _WINNOW_ORACLES:
        assert ctes in ORACLE[name], name
    assert "WITH RECURSIVE " + ctes in ORACLE["dedup_winnowing_clusters"]


def test_rewrite_keeps_recursive_winnowing_clusters():
    """On a crafted ``documents`` table (a three-document copy chain, a
    copied pair, an unrelated document and one too short to winnow),
    the rewritten clusters oracle keeps ``WITH RECURSIVE`` — its
    ``walk`` CTE recurses — and returns the verbatim oracle's rows."""
    from catme_etl_spark.operators.registry import ORACLE

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun"
    )
    other = (
        "a completely different passage about rivers mountains and "
        "the long road that winds through the quiet valley below"
    )
    docs = [
        (1, base),
        (2, base + " and then wakes up hungry for dinner"),
        (3, "and then wakes up hungry for dinner " + base[:60]),
        (4, "zebra crossing at midnight under neon lights " * 3),
        (5, other),
        (6, other + " at dusk"),
        (7, "tiny"),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in docs)
        + ") t(doc_id, text)"
    )
    sql = ORACLE["dedup_winnowing_clusters"]
    raw = sorted(con.execute(sql).fetchall())
    done: dict = {}
    rewritten = _apply_prefix_artifacts(con, sql, done)
    assert "winnow_wmin" in done
    assert rewritten.lstrip().startswith("WITH RECURSIVE docs AS (SELECT")
    assert sorted(con.execute(rewritten).fetchall()) == raw
    assert len(raw) >= 2  # the chain and the pair both cluster
    con.close()
