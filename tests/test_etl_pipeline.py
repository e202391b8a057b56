"""Reference-parity tests: 4-stage pipeline contracts, CSV/Excel
sources, JSON sinks, convert job, checksums (SURVEY §5 strategy)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from conftest import job_ids
from pyspark.sql import functions as F

from catme_etl_spark.convert import convert
from catme_etl_spark.operators.pipeline import (
    ContractError,
    check_rows,
    finalize,
    prepare,
    run_pipeline,
    transform,
    validate,
)
from catme_etl_spark.sinks.json_sink import (
    merged_json_array,
    optimize_json,
    write_json,
)
from catme_etl_spark.sources.files import (
    csv_metadata,
    df_checksum,
    discover_input,
    file_md5,
    read_auto,
    read_csv,
    validate_csv,
)


@pytest.fixture()
def sample_csv(tmp_path):
    p = tmp_path / "input.csv"
    p.write_text("id,name,score\n1,alice,3.5\n2,bob,1.25\n3,carol,9.0\n")
    return str(p)


# ---------------------------------------------------------------------------
# Pipeline stages (P1–P4)
# ---------------------------------------------------------------------------


def test_pipeline_adds_flags_and_preserves_rows(spark):
    df = spark.range(5).withColumnRenamed("id", "value")
    out = run_pipeline(df)
    rows = out.collect()
    assert len(rows) == 5
    for r in rows:
        assert r.prepared is True and r.transformed is True and r.finalized is True
    # id backfilled as typed NULL (unified_code.py:267-268 parity)
    assert dict(out.dtypes)["id"] == "bigint"
    assert all(r.id is None for r in rows)


def test_validate_requires_prepared(spark):
    with pytest.raises(ContractError):
        validate(spark.range(1))


def test_validate_keeps_existing_id(spark):
    df = prepare(spark.range(3))  # has column `id`
    out = validate(df)
    assert [r.id for r in out.orderBy("id").collect()] == [0, 1, 2]


def test_finalize_requires_both_flags(spark):
    with pytest.raises(ContractError):
        finalize(prepare(spark.range(1)))
    with pytest.raises(ContractError):
        finalize(transform(spark.range(1)))


def test_check_rows_quarantine_and_strict(spark):
    df = spark.range(10).withColumn("v", F.col("id") - 5)
    good, bad = check_rows(df, F.col("v") >= 0, mode="quarantine")
    assert good.count() == 5 and bad.count() == 5
    checked, none = check_rows(df, F.col("v") > -99, mode="strict")
    assert none is None and checked.count() == 10  # passes: no violation
    failing, _ = check_rows(df, F.col("v") >= 0, mode="strict")
    with pytest.raises(Exception):
        failing.collect()


# ---------------------------------------------------------------------------
# Sources (S1–S8)
# ---------------------------------------------------------------------------


def test_csv_read_schema_and_metadata(spark, sample_csv):
    df = read_csv(spark, sample_csv, schema="id long, name string, score double")
    assert df.count() == 3
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    meta = csv_metadata(spark, sample_csv)
    assert meta["default"]["rows"] == 3
    assert meta["default"]["columns"] == ["id", "name", "score"]


def test_validate_csv_ok_and_missing(spark, sample_csv, tmp_path):
    assert validate_csv(spark, sample_csv)
    with pytest.raises(ValueError):
        validate_csv(spark, str(tmp_path / "nope.csv"))


def test_discover_input_prefers_excel_then_csv(tmp_path, sample_csv):
    assert discover_input(os.path.dirname(sample_csv)).endswith("input.csv")
    with pytest.raises(FileNotFoundError):
        discover_input(str(tmp_path / "empty"))


def test_read_auto_dispatch_unknown(spark, tmp_path):
    p = tmp_path / "x.xyz"
    p.write_text("")
    with pytest.raises(ValueError):
        read_auto(spark, str(p))


def test_orc_and_json_roundtrip(spark, sf_dir, tmp_path):
    from catme_etl_spark.sources.files import read_auto
    from catme_etl_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "nation")
    orc_dir = str(tmp_path / "nation_orc")
    n.write.orc(orc_dir)
    back = read_auto(spark, orc_dir + "/*.orc")
    assert back.count() == n.count()
    assert dict(back.dtypes) == dict(n.dtypes)

    json_dir = str(tmp_path / "nation_json")
    n.write.json(json_dir)
    jback = read_auto(spark, json_dir + "/*.json", schema=n.schema)
    assert jback.count() == n.count()


def test_excel_roundtrip(spark, tmp_path):
    """S3 executes in-container: the fixture writer emits a real xlsx
    (zip+XML); read_auto dispatches to read_excel, which uses the
    pandas engine when present and the stdlib fallback otherwise."""
    from tests.xlsx_fixture import write_xlsx

    p = write_xlsx(
        str(tmp_path / "wb.xlsx"), {"Sheet1": [["a", "b"], [1, "x"], [2, "y"]]}
    )
    df = read_auto(spark, p)
    assert sorted(r.a for r in df.collect()) == [1, 2]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]


def test_corrupt_rows_are_isolated_not_fatal(spark, tmp_path):
    """Reference parity I10 (`unified_code.py:469-470`): one bad record
    must not abort the job. PERMISSIVE mode nulls unparseable fields
    and captures the raw line in a corrupt-record column — the row-
    level quarantine analog of the reference's per-chunk error skip."""
    p = tmp_path / "bad.csv"
    p.write_text("id,score\n1,2.5\nnot_a_number,oops\n3,7.0\n")
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("id long, score double, _corrupt string")
        .csv(str(p))
    ).cache()
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "not_a_number" in bad.first()._corrupt


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """Round 5: the sketch query is hash-certified via the
    within-bounds pattern — every per-group bound must hold so the
    driver's value hash (booleans included) is stable."""
    import __spark_entry__ as e

    rows = e.queries()["agg_approx_count_distinct"](spark, sf_dir).collect()
    assert rows and all(r.within_bounds for r in rows)
    assert all(r.exact_parts > 0 for r in rows)


# ---------------------------------------------------------------------------
# Sinks (S9–S11)
# ---------------------------------------------------------------------------


def test_write_json_chunks_and_merge(spark, tmp_path):
    df = spark.range(100).withColumn("sq", F.col("id") * F.col("id"))
    chunks_dir = str(tmp_path / "chunks")
    write_json(df, chunks_dir, mode="chunks")
    parts = glob.glob(os.path.join(chunks_dir, "part-*"))
    assert len(parts) >= 1

    merge_dir = str(tmp_path / "merged")
    write_json(df, merge_dir, mode="merge", order_by=["id"])
    parts = glob.glob(os.path.join(merge_dir, "part-*"))
    assert len(parts) == 1
    lines = [json.loads(line) for line in open(parts[0])]
    assert [r["id"] for r in lines] == list(range(100))  # explicit order


def test_merged_json_array_format_parity(spark, tmp_path):
    df = spark.range(12).withColumn("name", F.concat(F.lit("row"), F.col("id")))
    out = str(tmp_path / "out.json")
    stats = merged_json_array(df, out, order_by=["id"])
    data = json.load(open(out))
    assert isinstance(data, list) and len(data) == 12
    # numeric merge order fixes the reference's lexicographic bug
    # (chunk_10 < chunk_2, unified_code.py:357)
    assert [r["id"] for r in data] == list(range(12))
    assert stats["rows"] == 12


def test_optimize_json_stats(tmp_path):
    src = tmp_path / "pretty.json"
    src.write_text(json.dumps([{"a": 1}, {"a": 2}], indent=4))
    out = tmp_path / "compact.json"
    stats = optimize_json(str(src), str(out))
    assert stats["reduction_percent"] > 0
    assert json.load(open(out)) == [{"a": 1}, {"a": 2}]


# ---------------------------------------------------------------------------
# Convert job end-to-end (§3.2/§3.3)
# ---------------------------------------------------------------------------


def test_convert_end_to_end(spark, sample_csv, tmp_path):
    out = str(tmp_path / "out")
    res = convert(
        spark,
        sample_csv,
        out,
        schema="id long, name string, score double",
        output_mode="merge",
        order_by=["id"],
        array_parity=True,
    )
    assert res.rows == 3
    arr = json.load(open(out + ".array.json"))
    assert [r["name"] for r in arr] == ["alice", "bob", "carol"]
    assert all(r["prepared"] and r["transformed"] and r["finalized"] for r in arr)


def test_convert_test_mode_limits_rows(spark, tmp_path):
    p = tmp_path / "big.csv"
    p.write_text("id\n" + "\n".join(str(i) for i in range(5000)))
    out = str(tmp_path / "out2")
    res = convert(spark, str(p), out, schema="id long", test_mode=True, chunk_size=500)
    assert res.rows == 1500  # 3 chunks × 500 (unified_code.py:441-442)


# ---------------------------------------------------------------------------
# Inferred CSV schema memo (one inference per unchanged file and session)
# ---------------------------------------------------------------------------


def _inferred(spark, path, sep=","):
    """The schema a fresh (unmemoized) inference gives."""
    return (
        spark.read.option("sep", sep).option("header", True)
        .option("mode", "PERMISSIVE").option("inferSchema", True)
        .csv(path).schema
    )


def _part_bytes(out):
    return [open(f, "rb").read() for f in sorted(glob.glob(os.path.join(out, "part-*")))]


def test_repeat_convert_of_unchanged_csv_skips_inference(spark, tmp_path):
    """A cold conversion of an inferred-schema CSV runs 3 jobs (header,
    inference pass, write); a repeat of the unchanged file runs only the
    write and produces the same bytes; clear_shared() makes it cold."""
    from catme_etl_spark.operators._shared import clear_shared

    p = tmp_path / "orders.csv"
    p.write_text(
        "id,amount,day,ts,flag,note,empty\n"
        + "".join(
            f'{i},{i * 1.5},2024-01-{i % 28 + 1:02d},2024-01-02 03:04:{i % 60:02d},'
            f'{"true" if i % 2 else "false"},"a,{i}",\n'
            for i in range(500)
        )
    )
    outs = [str(tmp_path / f"out{i}") for i in range(3)]
    counts = [
        len(job_ids(spark, f"schema-memo-{i}", lambda o=o: convert(spark, str(p), o)))
        for i, o in enumerate(outs[:2])
    ]
    assert counts == [3, 1]
    assert _part_bytes(outs[0]) and _part_bytes(outs[1]) == _part_bytes(outs[0])
    clear_shared()
    assert len(job_ids(spark, "schema-memo-2", lambda: convert(spark, str(p), outs[2]))) == 3
    assert _part_bytes(outs[2]) == _part_bytes(outs[0])


def test_schema_memo_reinfers_same_size_rewrite_with_mtime_restored(spark, tmp_path):
    p = tmp_path / "drift.csv"
    p.write_text("id,v\n1,10\n2,20\n")
    assert dict(read_csv(spark, str(p)).dtypes)["v"] == "int"
    before = os.stat(p)
    p.write_text("id,v\n1,1x\n2,20\n")  # same size, v now a string column
    os.utime(p, ns=(before.st_atime_ns, before.st_mtime_ns))
    assert os.stat(p).st_size == before.st_size
    assert os.stat(p).st_mtime_ns == before.st_mtime_ns
    df = read_csv(spark, str(p))
    assert df.schema == _inferred(spark, str(p))
    assert dict(df.dtypes)["v"] == "string"


def test_schema_memo_keys_separator_and_inference_confs(spark, tmp_path):
    from catme_etl_spark.operators import _shared

    p = tmp_path / "semi.csv"
    p.write_text("a;ts\n1;2024-01-02 03:04:05\n")
    comma = read_csv(spark, str(p))
    semi = read_csv(spark, str(p), sep=";")
    assert comma.columns == ["a;ts"] and semi.columns == ["a", "ts"]
    assert semi.schema == _inferred(spark, str(p), sep=";")
    assert sum(str(p) in str(k) for k in _shared._SCHEMA_CACHE) == 2

    key = "spark.sql.timestampType"
    prev = spark.conf.get(key)
    try:
        for value in ("TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "TIMESTAMP_NTZ"):
            spark.conf.set(key, value)
            got = read_csv(spark, str(p), sep=";").schema
            assert got == _inferred(spark, str(p), sep=";")
            assert dict((f.name, f.dataType.simpleString()) for f in got)["ts"] == (
                "timestamp_ntz" if value == "TIMESTAMP_NTZ" else "timestamp"
            )
    finally:
        spark.conf.set(key, prev)


def test_schema_memo_size_stays_at_cap(spark):
    from pyspark.sql.types import StructType

    from catme_etl_spark.operators import _shared

    _shared.clear_shared()
    cap = _shared.SCHEMA_CACHE_MAX
    for i in range(cap + 1):
        _shared.shared_schema("cap-test", (i,), spark, StructType)
    assert len(_shared._SCHEMA_CACHE) == cap
    names = [k[1] for k in _shared._SCHEMA_CACHE]
    assert (0,) not in names and (cap,) in names  # the oldest went


# ---------------------------------------------------------------------------
# Checksums (I7)
# ---------------------------------------------------------------------------


def test_file_md5_matches_hashlib(sample_csv):
    import hashlib

    assert file_md5(sample_csv) == hashlib.md5(open(sample_csv, "rb").read()).hexdigest()


def test_df_checksum_order_insensitive_and_sensitive_to_change(spark):
    a = spark.range(100)
    b = spark.range(100).repartition(7)  # same content, different layout
    assert df_checksum(a) == df_checksum(b)
    assert df_checksum(a) != df_checksum(spark.range(101))


def test_parquet_schema_evolution_merges_and_normalizes(spark, tmp_path):
    """Era-1 files lack a column and use a narrower int; the evolved
    scan unions schemas and the canonical projection pins one stable
    contract (missing column -> typed nulls, widened ints)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from catme_etl_spark.sources.files import read_parquet_evolved

    d = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(
        d + "/era=1"
    )
    spark.createDataFrame(
        [(2, "b", 9000000000)], "id long, name string, score long"
    ).write.parquet(d + "/era=2")

    canonical = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", LongType()),
        ]
    )
    out = read_parquet_evolved(spark, d, canonical)
    assert [f.dataType for f in out.schema.fields] == [
        LongType(), StringType(), LongType(),
    ]
    rows = {(r.id, r.name, r.score) for r in out.collect()}
    assert rows == {(1, "a", None), (2, "b", 9000000000)}


def test_write_auto_roundtrips_every_format(spark, tmp_path):
    """Sink-side format dispatch: each format writes and reads back the
    same rows through the matching source reader."""
    from catme_etl_spark.sinks.export import write_auto
    from catme_etl_spark.sources.files import read_auto

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    expected = {(1, "a"), (2, "b")}
    for fmt in ("parquet", "orc", "csv", "json", "xml"):
        out = str(tmp_path / f"out_{fmt}.{fmt}")
        write_auto(df, out)
        back = read_auto(spark, out)
        got = {(r.id, r.name) for r in back.select("id", "name").collect()}
        assert got == expected, fmt
