"""Self-tests of the benchmark's generators, checks and registration.

    python3 -m pytest perfbench/tests -q

No Spark session: these run in seconds.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import subprocess
import sys

import pyarrow.csv as pacsv
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _two_paths(tmp_path, name="x.csv"):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    return tmp_path / "a" / name, tmp_path / "b" / name


def test_csv_same_seed_is_byte_identical(tmp_path):
    a, b = _two_paths(tmp_path)
    assert gen.write_csv(str(a), 7, 3000) == gen.write_csv(str(b), 7, 3000)
    assert a.read_bytes() == b.read_bytes()


def test_csv_other_seed_differs(tmp_path):
    a, b = _two_paths(tmp_path)
    gen.write_csv(str(a), 7, 3000)
    gen.write_csv(str(b), 8, 3000)
    assert a.read_bytes() != b.read_bytes()


def _read_csv(path):
    """Read the way Spark does: an unquoted empty field is null."""
    opts = pacsv.ConvertOptions(strings_can_be_null=True)
    return pacsv.read_csv(str(path), convert_options=opts)


def test_csv_checksum_matches_content(tmp_path):
    path = tmp_path / "x.csv"
    want = gen.write_csv(str(path), 3, 5000)
    t = _read_csv(path).to_pydict()
    assert len(t["id"]) == want["rows"] == 5000
    assert sum(round(p * 100) for p in t["price"] if p is not None) == want["price_cents"]
    assert sum(v is None for c in ("qty", "price", "note") for v in t[c]) == want["nulls"]
    # quoted strings with commas survive the round trip
    assert all("," in c for c in t["customer"])


def test_tables_same_seed_are_byte_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, sf=0.002)
    gen.write_tables(str(tmp_path / "b"), 5, sf=0.002)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_tables_other_seed_differ(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, sf=0.002)
    gen.write_tables(str(tmp_path / "b"), 6, sf=0.002)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert a["lineitem.parquet"] != b["lineitem.parquet"]


def test_sequence_same_seed_same_order_and_fixed_mix():
    wl = workloads.WORKLOADS["query_mix"]
    a = gen.request_sequence(wl.weights, 3, 11)
    assert a == gen.request_sequence(wl.weights, 3, 11)
    assert a != gen.request_sequence(wl.weights, 3, 12)
    block = sum(wl.weights.values())
    for i in range(3):
        assert collections.Counter(a[i * block:(i + 1) * block]) == wl.weights


def _untracked(root: str) -> list[str]:
    """Files git would add: untracked and not ignored."""
    out = subprocess.run(
        ["git", "-C", root, "status", "--porcelain", "--untracked-files=all"],
        capture_output=True, text=True, check=True,
    )
    return sorted(line for line in out.stdout.splitlines() if line.startswith("??"))


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, ".git")), reason="needs git")
def test_generated_files_stay_out_of_the_repo():
    """A run writes its inputs and outputs in its workspace: git ignores
    it, and it is gone when the run ends."""
    before = _untracked(ROOT)
    with run.workspace(ROOT) as work:
        assert os.path.commonpath([work, ROOT]) == ROOT
        os.makedirs(os.path.join(work, "data"))
        gen.write_csv(os.path.join(work, "data", "x.csv"), 1, 100)
        gen.write_tables(os.path.join(work, "data", "t"), 1, sf=0.001)
        assert _untracked(ROOT) == before
    assert not os.path.exists(work)


def test_stream_stage_matches_the_program():
    """The run deletes what the program staged for its input path."""
    with open(os.path.join(ROOT, "catme_etl_spark", "streaming", "jobs.py")) as f:
        src = f.read()
    assert f'"{run.STREAM_STAGE}", sf_dir.strip("/").replace("/", "_")' in src
    assert run.stream_stage_dir("/a/b/sf0.02") == f"{run.STREAM_STAGE}/a_b_sf0.02"


def test_convert_checksum_reads_spark_style_json(tmp_path):
    """Spark's JSON writer omits null fields; the checker must count
    them as nulls and recover the prices exactly."""
    csv = tmp_path / "in.csv"
    want = gen.write_csv(str(csv), 9, 2000)
    rows = _read_csv(csv).to_pylist()
    out = tmp_path / "out"
    out.mkdir()
    with open(out / "part-00000.json", "w") as f:
        for r in rows:
            f.write(json.dumps({k: v for k, v in r.items() if v is not None}, default=str) + "\n")
    assert workloads.convert_checksum(str(out)) == want


def test_latency_tail_is_p90():
    lat = [float(i) for i in range(1, 41)]
    s = run.latency_stats(lat)
    assert s["n"] == 40 and s["tail"] == 36.0
    assert s["tail_pct"] == 90.0 and s["beyond_tail"] == 4
    assert run.latency_stats(lat[:9])["tail"] == 9.0


def test_last_place_diffs_lets_only_a_rounding_tie_through():
    cols, floats = ["nation", "o_year", "revenue"], ["revenue"]
    want = [["N3", "1996", "38826169.920000"], ["N4", "1996", "10.250000"]]
    tie = [["N3", "1996", "38826169.930000"], ["N4", "1996", "10.250000"]]
    assert run.last_place_diffs(want, want, cols, floats) == 0
    assert run.last_place_diffs(tie, want, cols, floats) == 1
    two_units = [["N3", "1996", "38826169.940000"], ["N4", "1996", "10.250000"]]
    assert run.last_place_diffs(two_units, want, cols, floats) is None
    other_col = [["N3", "1997", "38826169.920000"], ["N4", "1996", "10.250000"]]
    assert run.last_place_diffs(other_col, want, cols, floats) is None
    null = [["N3", "1996", "NULL"], ["N4", "1996", "10.250000"]]
    assert run.last_place_diffs(null, want, cols, floats) is None


def test_registration_matches_layer_map():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)["per_layer"]
    assert [m["name"] for m in bench["per_layer"]] == list(layers)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    for spec in layers.values():
        assert set(spec["on"]) | set(spec["zero_on"]) <= set(workloads.WORKLOADS)
        assert set(spec["moves"]) <= {m["name"] for m in bench["end_to_end"]} | {
            "peak_rss_mb"}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_sequence_sized_for_a_p90_tail(name):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    wl = workloads.WORKLOADS[name]
    n = len(gen.request_sequence(wl.weights, wl.blocks(seconds), 1))
    lat = [float(i) for i in range(n)]
    assert run.latency_stats(lat)["tail_pct"] >= 90
    assert run.latency_stats(lat)["beyond_tail"] >= 1
