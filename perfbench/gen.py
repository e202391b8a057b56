"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical files and yields the same request sequence. Nothing here
imports Spark or the program under test.

- ``write_tables``: the star-schema + LLM-pipeline tables the query
  functions read (the names, types and value shapes of the fixture
  tables described in TESTDATA.md), one parquet file per table.
- ``write_csv``: one converter input file with ints, two-decimal
  prices, dates, quoted strings containing commas, and nulls. Returns
  the checksum the converter's output must reproduce.
- ``request_sequence``: whole blocks, each a seeded permutation of the
  workload's weighted request multiset, so every seed runs the same mix.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Table sizes at scale factor 1; the benchmark runs at sf 0.1.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "red", "new", "hot", "small", "cold", "blue", "old"]
_PART_NOUN = ["ring", "bolt", "anvil", "plate", "rod", "gear", "nut", "wire"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_ORDER_START = np.datetime64("1995-01-01")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02")
_SHIP_DAYS = 2498  # through 2001-11-04
_EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table or a
    column never shifts the values of another."""
    key = [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64([seed, *key]))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng, start, span, n) -> np.ndarray:
    return (start + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 30)


def _text_column(rng: np.random.Generator, n: int) -> list[str]:
    """Docs of 10-100 vocabulary words; 5% are an earlier doc + " dup"
    (the near-duplicates the dedup operators look for)."""
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(_WORDS), int(lengths.sum()))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    texts: list[str] = []
    pos = 0
    for i in range(n):
        k = int(lengths[i])
        if dup[i] and i > 0:
            texts.append(texts[int(src[i])] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in word_ids[pos : pos + k]))
        pos += k
    return texts


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in _BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    r = _rng(seed, "customer")
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(r.integers(0, 25, c), i32),
            "c_acctbal": _money(r, -999.99, 9999.99, c),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, c)],
        }
    )

    r = _rng(seed, "supplier")
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(r.integers(0, 25, s), i32),
            "s_acctbal": _money(r, -999.99, 9999.99, s),
        }
    )

    r = _rng(seed, "part")
    p = n["part"]
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": names[r.integers(0, len(names), p)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                r.integers(0, 25, p)
            ],
            "p_type": np.array(_PART_TYPES)[r.integers(0, len(_PART_TYPES), p)],
            "p_size": pa.array(r.integers(1, 51, p), i32),
            "p_retailprice": 900.0 + r.integers(0, 1000, p) / 10.0,
        }
    )

    r = _rng(seed, "orders")
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(r.integers(0, c, o), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
            "o_totalprice": _money(r, 1000.0, 500000.0, o),
            "o_orderdate": _days(r, _ORDER_START, _ORDER_DAYS, o),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, o)],
        }
    )

    r = _rng(seed, "lineitem")
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, o, li), i64),
            "l_partkey": pa.array(r.integers(0, p, li), i64),
            "l_suppkey": pa.array(r.integers(0, s, li), i64),
            "l_linenumber": pa.array(r.integers(1, 8, li), i32),
            "l_quantity": r.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, li),
            "l_discount": r.integers(0, 11, li) / 100.0,
            "l_tax": r.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)],
            "l_shipdate": _days(r, _SHIP_START, _SHIP_DAYS, li),
        }
    )

    r = _rng(seed, "events")
    e = n["events"]
    offsets = np.sort(r.integers(0, _EVENT_SPAN_US, e))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": _EVENT_START + offsets.astype("timedelta64[us]"),
            "user_id": pa.array(r.integers(0, n["users"], e), i64),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, e)],
            "value": np.round(r.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
        }
    )

    r = _rng(seed, "documents")
    d = n["documents"]
    texts = _text_column(r, d)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), i64),
            "text": texts,
            "lang": np.array(_LANGS)[r.choice(len(_LANGS), d, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    vecs = r.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, m), i32),
        }
    )

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Converter input
# ---------------------------------------------------------------------------

_LAST = ["Smith", "Garcia", "Chen", "Okafor", "Novak", "Silva", "Kim", "Rossi"]
_FIRST = ["Ana", "Ben", "Chloe", "Dev", "Eli", "Farah", "Gus", "Hana"]
_CITIES = ["Lyon, FR", "Austin, TX", "Pune, IN", "Osaka, JP", "Leeds, UK"]
_CATEGORIES = ["tools", "garden", "office", "kitchen", "toys", "books"]


def write_csv(path: str, seed: int, rows: int) -> dict[str, int]:
    """Write one converter input; return its checksum.

    The checksum is what a correct conversion preserves: ``rows``,
    ``price_cents`` (sum of the two-decimal ``price`` column in cents,
    nulls excluded) and ``nulls`` (null cells over ``qty``, ``price``
    and ``note``).
    """
    r = _rng(seed, f"csv:{os.path.basename(path)}")
    qty = r.integers(1, 1000, rows)
    qty_null = r.random(rows) < 0.05
    cents = r.integers(1, 1_000_000, rows)
    price_null = r.random(rows) < 0.03
    note_null = r.random(rows) < 0.10
    names = np.array([f"{a}, {b}" for a in _LAST for b in _FIRST])
    table = pa.table(
        {
            "id": pa.array(np.arange(rows) + 1_000_000, pa.int64()),
            "qty": pa.array(qty, pa.int64(), mask=qty_null),
            "price": pa.array(cents / 100.0, pa.float64(), mask=price_null),
            "ship_date": pa.array(
                _days(r, np.datetime64("2020-01-01"), 1500, rows).astype(
                    "datetime64[D]"
                )
            ),
            "customer": names[r.integers(0, len(names), rows)],
            "city": np.array(_CITIES)[r.integers(0, len(_CITIES), rows)],
            "category": np.array(_CATEGORIES)[r.integers(0, len(_CATEGORIES), rows)],
            "note": pa.array(
                np.array(["fragile, handle with care", "gift", "backorder, partial"])[
                    r.integers(0, 3, rows)
                ],
                pa.string(),
                mask=note_null,
            ),
        }
    )
    pacsv.write_csv(table, path)
    return {
        "rows": rows,
        "price_cents": int(cents[~price_null].sum()),
        "nulls": int(qty_null.sum() + price_null.sum() + note_null.sum()),
    }


def request_sequence(
    weights: dict[str, int], blocks: int, seed: int
) -> list[str]:
    """``blocks`` seeded permutations of the weighted multiset, joined.

    Every block holds each request ``weights[name]`` times, so the mix
    is the same for every seed and only the order changes.
    """
    bag = [name for name in sorted(weights) for _ in range(weights[name])]
    r = _rng(seed, "sequence")
    return [bag[i] for _ in range(blocks) for i in r.permutation(len(bag))]
