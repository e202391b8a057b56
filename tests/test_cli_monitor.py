"""CLI and monitor parity tests."""

from __future__ import annotations

import glob
import json

from conftest import job_ids

from catme_etl_spark.cli import main as cli_main
from catme_etl_spark.monitor import check_resources, resource_snapshot, spark_job_snapshot


def test_cli_converts_csv(tmp_path, capsys, spark):
    src = tmp_path / "in.csv"
    src.write_text("id;name\n1;a\n2;b\n")
    out = str(tmp_path / "out")
    rc = cli_main(
        ["--input", str(src), "--output", out, "--csv-separator", ";",
         "--output-mode", "merge", "--order-by", "id", "--array-parity"]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows"] == 2
    arr = json.load(open(out + ".array.json"))
    assert [r["name"] for r in arr] == ["a", "b"]
    assert all(r["finalized"] for r in arr)


def test_cli_test_then_full_infers_schema_once(tmp_path, capsys, spark):
    """The default converter path (inferred schema): typed JSON values,
    and the header and inference jobs run once across the test run and
    the full run of the same file."""
    src = tmp_path / "typed.csv"
    src.write_text(
        "id,day,qty,note\n1,2024-01-02,3,x\n2,2024-02-03,,y\n3,2024-03-04,5,\n"
    )
    out = str(tmp_path / "out")
    ids = job_ids(spark, "cli-test-then-full", lambda: cli_main(
        ["--input", str(src), "--output", out, "--test-then-full", "--order-by", "id"]
    ))
    tracker = spark.sparkContext.statusTracker()
    csv_jobs = [
        j for j in ids
        if any(tracker.getStageInfo(s).name.startswith("csv at")
               for s in tracker.getJobInfo(j).stageIds)
    ]
    assert len(csv_jobs) == 2  # header + inference, once for both runs
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[0])["phase"] == "test"
    assert json.loads(lines[-1])["rows"] == 3
    for path in (out + ".test", out):
        (part,) = glob.glob(path + "/part-*")
        rows = [json.loads(line) for line in open(part)]
        assert [(r["id"], r["day"], r.get("qty"), r.get("note")) for r in rows] == [
            (1, "2024-01-02", 3, "x"), (2, "2024-02-03", None, "y"),
            (3, "2024-03-04", 5, None),
        ]
        assert "qty" not in rows[1] and "note" not in rows[2]  # NULLs omitted


def test_monitor_snapshot_and_thresholds():
    snap = resource_snapshot()
    assert 0 <= snap["cpu_percent"] <= 100
    assert 0 <= snap["memory_percent"] <= 100
    assert len(check_resources(-1.0, -1.0)) == 2  # thresholds below any reading
    assert check_resources(100.0, 100.0) == []


def test_spark_job_snapshot(spark):
    s = spark_job_snapshot(spark)
    assert s["default_parallelism"] >= 1


def test_run_with_progress_samples_tasks(spark):
    from catme_etl_spark.monitor import run_with_progress

    seen = []
    # A job slow enough (many partitions + sleep) for the poller to
    # observe at least one in-flight sample.
    def action():
        import time as _time

        return (
            spark.range(0, 64, 1, 64)
            .rdd.map(lambda x: (_time.sleep(0.02), x)[1])
            .count()
        )

    result, samples = run_with_progress(spark, action, on_progress=lambda d, t: seen.append((d, t)))
    assert result == 64
    assert samples, "poller never observed the running job"
    assert samples == seen
    dones = [d for d, _ in samples]
    assert dones == sorted(dones), "completed-task counts must be monotone"
    assert all(d <= t for d, t in samples)


def test_run_with_progress_propagates_errors(spark):
    import pytest as _pytest

    from catme_etl_spark.monitor import run_with_progress

    def boom():
        raise RuntimeError("action failed")

    with _pytest.raises(RuntimeError, match="action failed"):
        run_with_progress(spark, boom)


def test_observe_counts_single_pass_metrics(spark, sf_dir):
    """Observation metrics arrive with the action itself — the
    reference's per-chunk row accounting without a second scan."""
    from pyspark.sql import functions as F

    from catme_etl_spark.monitor import observe_counts
    from catme_etl_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    observed, obs = observe_counts(
        d,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars").alias("chars"),
        F.count(F.when(F.col("text").isNull(), 1)).alias("null_texts"),
    )
    out = observed.filter(F.col("n_chars") >= 0)
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows"] == d.count()
    assert got["chars"] > 0 and got["null_texts"] == 0
