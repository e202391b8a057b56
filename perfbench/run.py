"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Client model: one client in a closed loop, each request sent only after
the previous one finished, on one Spark session on ``local[nproc]``
(``SPARK_GRAFT_CPUS = nproc``). A run is:

1. ``prep.py`` in a child process writes the seeded inputs and the
   outputs they must produce (not timed, not in ``setup_s``).
2. Session start, then every distinct request once untimed; each
   output is checked here, outside the timed window. Then
   ``clear_shared()`` so session artifacts start cold.
3. The timed sequence: whole seeded blocks of the workload's weighted
   mix, sized from ``--seconds`` (``workloads.Workload.blocks``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
sequence twice, once untraced and once traced (spans, Spark event log
and a streaming query listener), interleaved by halves
(``traced_passes``), and prints the per-layer metrics and the tracing
overhead.

Inputs, outputs and Spark's scratch go to ``.perfbench/work-*`` in the
checkout (git-ignored, deleted when the run ends); span dumps of traced
runs stay in ``.perfbench/traces``. The program itself stages its file
streams under ``/tmp/catme_etl_stream_src_v2/<key of the input path>``;
the input path is unique to the run, and the run deletes what was
staged for it.

Every line before the last is one JSON report record stamped with the
environment; the last line is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

PROGRAM_FILES = ("__spark_entry__.py", "catme_etl_spark/session.py", "tools/check_oracle.py")


# The session's JVM heap (the program's default is 8g): inputs are
# small, and the host running the benchmark may be shared.
DRIVER_MEM = "3g"

# Where ``streaming.jobs._stream_events`` stages a file stream's input,
# keyed by the input directory's path.
STREAM_STAGE = "/tmp/catme_etl_stream_src_v2"


class NoTracer:
    """Tracing off: the same call sites, no spans."""

    def span(self, name, phase=None):
        return contextlib.nullcontext()

    def request(self, rid):
        return contextlib.nullcontext()


@dataclasses.dataclass
class Pass:
    """One pass over the timed sequence."""

    lat: list[float] = dataclasses.field(default_factory=list)
    by_request: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    failed: int = 0
    rows: int = 0  # rows converted
    wall: float = 0.0

    @property
    def rps(self) -> float:
        return len(self.lat) / self.wall

    @classmethod
    def join(cls, passes: list["Pass"]) -> "Pass":
        p = cls()
        for q in passes:
            p.lat += q.lat
            for request, values in q.by_request.items():
                p.by_request.setdefault(request, []).extend(values)
            p.failed += q.failed
            p.rows += q.rows
            p.wall += q.wall
        return p


@contextlib.contextmanager
def workspace(root: str):
    """A run's own directory under ``<root>/.perfbench`` (git-ignored),
    unique to the run, deleted when the run ends."""
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_stage_dir(sf_dir: str) -> str:
    return os.path.join(STREAM_STAGE, sf_dir.strip("/").replace("/", "_"))


def last_place_diffs(got: list[list[str]], want: list[list[str]],
                     columns: list[str], float_cols: list[str]) -> int | None:
    """Count the cells where the program's canonical rows differ from the
    oracle's by exactly one unit in the last decimal place of the oracle
    column's rounding (the most decimals any of its values shows).
    Return None if any other cell differs.

    Oracle SQL that rounds a binary double (``ROUND(CAST(x AS DOUBLE) /
    10000, 2)``) rounds an exact half down when the double lies just
    below it, while the program's integer-cents arithmetic rounds it
    half up; this is the only difference this lets through."""
    from decimal import Decimal

    unit = {}
    for j, c in enumerate(columns):
        if c in float_cols:
            places = max((len(r[j].rstrip("0").partition(".")[2])
                          for r in want if r[j] != "NULL"), default=6)
            unit[j] = Decimal(10) ** -places
    n = 0
    for g, w in zip(got, want):
        for j, (a, b) in enumerate(zip(g, w)):
            if a == b:
                continue
            if j not in unit or "NULL" in (a, b) or abs(Decimal(a) - Decimal(b)) != unit[j]:
                return None
            n += 1
    return n


class Run:
    def __init__(self, args, work: str, env: dict) -> None:
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.env = env
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.sf_dir = os.path.join(self.data, workloads.SF_DIR)
        self.excluded_s = 0.0  # benchmark's own work inside the setup window
        self.bad: dict[str, str] = {}  # request -> why its output check failed
        self.spark = None

    # -- report --------------------------------------------------------
    def emit(self, kind: str, **fields) -> None:
        rec = {"perfbench": kind, "workload": self.wl.name, "seed": self.args.seed,
               **fields, "env": self.env}
        print(json.dumps(rec), flush=True)

    # -- requests ------------------------------------------------------
    def start(self, tracer_conf: dict) -> None:
        from catme_etl_spark import session

        conf = {"spark.ui.showConsoleProgress": "false", **tracer_conf}
        t = time.perf_counter()
        self.spark = session.get_spark("perfbench", extra_conf=conf)
        self.session_span = (t, time.perf_counter())
        self.sc = self.spark.sparkContext
        self.env["java"] = self.sc._jvm.System.getProperty("java.version")
        self.cores = self.sc.defaultParallelism
        if self.wl.name == "etl_convert":
            from catme_etl_spark import convert

            self.convert = convert
        else:
            import __spark_entry__

            self.queries = __spark_entry__.queries()

    def csv_path(self, stem: str) -> str:
        return os.path.join(self.data, f"{stem}.csv")

    def out_dir(self, request: str) -> str:
        return os.path.join(self.out, request.replace(":", "-"))

    def execute(self, request: str, tracer) -> int:
        """One request as the client sends it; returns rows converted."""
        if self.wl.name == "etl_convert":
            stem, mode = workloads.split_convert_request(request)
            res = self.convert.convert(
                self.spark, self.csv_path(stem), self.out_dir(request), output_mode=mode
            )
            return res.rows
        with tracer.span("operators.build", "build"):
            df = self.queries[request](self.spark, self.sf_dir)
        with tracer.span("sinks.action", "sink"):
            df.write.format("noop").mode("overwrite").save()
        return 0

    def warm_and_check(self, expected: dict) -> float:
        """Every distinct request once, untimed; check each output.
        Returns the seconds spent in requests."""
        spent = 0.0
        self.out_bytes = self.in_bytes = 0
        for request in sorted(self.wl.weights):
            t = time.perf_counter()
            try:
                result = self._warm_one(request)
            except Exception as exc:  # a failing request is a result, not a crash
                traceback.print_exc()
                self.bad[request] = f"raised {type(exc).__name__}: {exc}"
                spent += time.perf_counter() - t
                continue
            spent += time.perf_counter() - t
            c = time.perf_counter()
            ok, detail = self._check(request, result, expected)
            self.excluded_s += time.perf_counter() - c
            if not ok:
                self.bad[request] = detail
            self.emit("check", request=request, ok=ok, detail=detail,
                      warmup_s=round(c - t, 3))
        return spent

    def _warm_one(self, request: str):
        if self.wl.name == "etl_convert":
            stem, mode = workloads.split_convert_request(request)
            return self.convert.convert(
                self.spark, self.csv_path(stem), self.out_dir(request), output_mode=mode
            )
        return self.queries[request](self.spark, self.sf_dir).toPandas()

    def _check(self, request: str, result, expected: dict) -> tuple[bool, str]:
        if self.wl.name == "etl_convert":
            stem, _ = workloads.split_convert_request(request)
            want = {k: expected[stem][k] for k in ("rows", "price_cents", "nulls")}
            if result.rows != want["rows"]:
                return False, f"convert reported {result.rows} rows, generated {want['rows']}"
            got = workloads.convert_checksum(self.out_dir(request))
            self.out_bytes += workloads.output_bytes(self.out_dir(request))
            self.in_bytes += expected[stem]["bytes"]
            return (True, "ok") if got == want else (False, f"checksum {got} != generated {want}")
        from tools.check_oracle import _canon, _hash

        want = expected[request]
        canon = _canon(result)
        if list(canon.columns) != want["columns"]:
            return False, f"columns {list(canon.columns)} != oracle {want['columns']}"
        if len(canon) != want["rows"]:
            return False, f"{len(canon)} rows != oracle {want['rows']}"
        got = _hash(canon)
        if got == want["hash"]:
            return True, "ok"
        with open(os.path.join(self.data, "oracle", f"{request}.json")) as f:
            oracle = json.load(f)
        n = last_place_diffs(canon.values.tolist(), oracle["rows"], want["columns"],
                             oracle["float_cols"])
        if n is None:
            return False, f"hash {got} != oracle {want['hash']}"
        return True, (f"ok: {n} float cell(s) one unit off in the last rounded place "
                      "(the oracle rounds a binary double)")

    def reset_cold(self) -> None:
        from catme_etl_spark.operators._shared import clear_shared

        clear_shared()
        self.spark.catalog.clearCache()

    def timed(self, sequence: list[str], tracer, first: int = 0) -> "Pass":
        """Run the sequence once, in order, one request at a time;
        request ids count from ``first``."""
        p = Pass()
        begin = time.perf_counter()
        for i, request in enumerate(sequence, first):
            t = time.perf_counter()
            try:
                with tracer.request(f"r{i}"):
                    p.rows += self.execute(request, tracer)
            except Exception:
                traceback.print_exc()
                p.failed += 1
                continue
            p.lat.append(time.perf_counter() - t)
            p.by_request.setdefault(request, []).append(p.lat[-1])
            if request in self.bad:
                p.failed += 1
        p.wall = time.perf_counter() - begin
        return p

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def latency_stats(lat: list[float]) -> dict:
    """Median, and the nearest-rank ``TAIL_PCT`` percentile with the
    number of samples beyond it."""
    ordered = sorted(lat)
    n = len(ordered)
    if n == 0:
        return {"n": 0}
    k = -(-workloads.TAIL_PCT * n // 100) - 1  # ceil(pct * n / 100) - 1
    return {
        "n": n,
        "p50": statistics.median(ordered),
        "tail": ordered[k],
        "tail_pct": round(100.0 * (k + 1) / n, 1),
        "beyond_tail": n - k - 1,
    }


def units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def run(args, work: str, env: dict, proc_start: float) -> int:
    r = Run(args, work, env)
    wl = r.wl
    trace = args.trace == 1

    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prep.py"), "--workload", wl.name,
         "--seed", str(args.seed), "--out", r.data],
        check=True, timeout=170,
    )
    prep_s = time.perf_counter() - t
    r.excluded_s += prep_s
    with open(os.path.join(r.data, "expected.json")) as f:
        expected = json.load(f)
    sequence = gen.request_sequence(wl.weights, wl.blocks(args.seconds), args.seed)

    event_dir = os.path.join(work, "eventlog")
    tracer_conf = {}
    if trace:
        os.makedirs(event_dir)
        tracer_conf = tracing.event_log_conf(event_dir)

    try:
        with host.RssSampler() as rss:
            r.start(tracer_conf)
            warm_s = r.warm_and_check(expected)
            c = time.perf_counter()
            r.reset_cold()
            r.excluded_s += time.perf_counter() - c
            setup_s = time.perf_counter() - proc_start - r.excluded_s
            if not trace:
                base = r.timed(sequence, NoTracer())
            else:
                base, tracer, traced = traced_passes(r, sequence)
    finally:
        shutil.rmtree(stream_stage_dir(r.sf_dir), ignore_errors=True)
    peak_rss = rss.peak
    attempted, failed = len(sequence), base.failed

    if not trace:
        stats = latency_stats(base.lat)
        metrics = {
            "setup_s": (setup_s, 1),
            "latency_p50_s": (stats.get("p50"), stats["n"]),
            "latency_tail_s": (stats.get("tail"), stats["n"]),
            "throughput_rps": (base.rps, len(base.lat)),
        }
        extra = {
            "error_rate": (failed / attempted, "ratio", attempted),
            "peak_rss_mb": (peak_rss / 2**20, "MB", 1),
        }
        if wl.name == "etl_convert":
            extra["rows_per_s"] = (base.rows / base.wall, "1/s", len(base.lat))
            extra["out_bytes_per_in_byte"] = (
                r.out_bytes / r.in_bytes, "ratio", len(wl.weights))
        unit = units("end_to_end")
        for name, (value, n) in metrics.items():
            fields = {"name": name, "value": value, "unit": unit[name], "samples": n}
            if name == "latency_tail_s":
                fields.update(percentile=stats.get("tail_pct"), beyond=stats.get("beyond_tail"))
            if name == "setup_s":
                fields.update(warmup_requests=len(wl.weights), warmup_s=warm_s,
                              session_s=r.session_span[1] - r.session_span[0],
                              excluded_prep_s=prep_s, excluded_total_s=r.excluded_s)
            r.emit("metric", **fields)
        for name, (value, unit_name, n) in extra.items():
            r.emit("metric", name=name, value=value, unit=unit_name, samples=n)
        for request, values in sorted(base.by_request.items()):
            r.emit("request", request=request, latency_p50_s=statistics.median(values),
                   samples=len(values))
        r.stop()
        result_metrics = {k: {"value": v, "unit": unit[k]} for k, (v, _) in metrics.items()}
    else:
        out_files = out_bytes = 0
        if wl.name == "etl_convert":
            for request in set(sequence):
                copies = sequence.count(request)
                out_files += len(workloads.part_files(r.out_dir(request))) * copies
                out_bytes += workloads.output_bytes(r.out_dir(request)) * copies
        r.stop()
        per_phase = tracing.read_event_log(event_dir, tracer.run_ids())
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                 f"{wl.name}-seed{args.seed}.spans.jsonl"))
        layer_metrics = per_layer(tracer, per_phase, r, out_files, out_bytes,
                                  untraced=base, traced=traced)
        failed = base.failed + traced.failed
        attempted *= 2
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["per_layer"]
        unit = units("per_layer")
        for name, c in sorted(per_phase.items()):
            r.emit("phase", phase=name, jobs=c["jobs"], stages=c["stages"], tasks=c["tasks"],
                   task_busy_s=c["busy_ms"] / 1e3)
        for name, value in layer_metrics.items():
            r.emit("layer", layer=layers[name]["layer"], name=name, value=value,
                   unit=unit[name])
        for name, spec in layers.items():
            if wl.name in spec["zero_on"]:
                # report-only: a design expectation, not an output check
                r.emit("prediction", name=name, expect="zero", value=layer_metrics[name],
                       ok=layer_metrics[name] == 0, gates=False)
        result_metrics = {k: {"value": v, "unit": unit[k]} for k, v in layer_metrics.items()}

    for request, why in sorted(r.bad.items()):
        print(f"perfbench: output check failed for {request}: {why}", file=sys.stderr)
    correct = not r.bad and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}), flush=True)
    return 0 if correct else 1


def traced_passes(r: Run, sequence: list[str]) -> tuple[Pass, "tracing.Tracer", Pass]:
    """The sequence once untraced and once traced, in the order
    untraced first half, traced first half, traced second half,
    untraced second half, so a steady speed-up (or slow-down) over the
    run weighs on both the same. Each segment starts cold."""
    half = len(sequence) // 2
    segments = [(False, 0, sequence[:half]), (True, 0, sequence[:half]),
                (True, half, sequence[half:]), (False, half, sequence[half:])]
    tracer = tracing.Tracer(r.sc)
    tracer.add("session.get_spark", *r.session_span)
    untraced, traced = [], []
    for on, offset, seg in segments:
        r.reset_cold()
        if not on:
            untraced.append(r.timed(seg, NoTracer(), offset))
            continue
        tracer.install()
        tracer.listen(r.spark)
        try:
            traced.append(r.timed(seg, tracer, offset))
        finally:
            tracer.uninstall()
            tracer.unlisten(r.spark)
    return Pass.join(untraced), tracer, Pass.join(traced)


def per_layer(tracer, per_phase, r: Run, out_files: int, out_bytes: int,
              untraced: Pass, traced: Pass) -> dict[str, float]:
    import collections

    tot = collections.defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    tot.update(tracer.totals())
    ev = collections.Counter()
    for c in per_phase.values():
        peak = max(ev["peak_exec_mem"], c["peak_exec_mem"])
        ev.update(c)
        ev["peak_exec_mem"] = peak
    phase = collections.defaultdict(collections.Counter, per_phase)
    st = tracer.stream_totals()
    request_s = tot["request"]["s"]
    hits, misses = tracer.counts["shared.hits"], tracer.counts["shared.misses"]
    self_by_layer = collections.Counter()
    for name, t in tot.items():
        self_by_layer[tracing.SPAN_LAYER[name]] += t["self_s"]
    u_p50 = statistics.median(untraced.lat)
    m = {
        "session.get_spark_s": tot["session.get_spark"]["s"],
        "sources.read_auto.calls": tot["sources.read_auto"]["calls"],
        "sources.read_auto_s": tot["sources.read_auto"]["s"],
        "sources.input_bytes": ev["input_bytes"],
        "sources.input_rows": ev["input_rows"],
        "sources.load_table.calls": tot["sources.load_table"]["calls"],
        "sources.load_table_s": tot["sources.load_table"]["s"],
        "sources.scan_s": ev["scan_ms"] / 1e3,
        "operators.build.calls": tot["operators.build"]["calls"],
        "operators.build_s": tot["operators.build"]["s"],
        "operators.build_jobs": phase["build"]["jobs"],
        "operators.stages": ev["stages"],
        "operators.tasks": ev["tasks"],
        "operators.task_busy_s": ev["busy_ms"] / 1e3,
        "operators.task_cpu_s": ev["cpu_ns"] / 1e9,
        "operators.slot_util": ev["busy_ms"] / 1e3 / (request_s * r.cores) if request_s else 0.0,
        "operators.gc_s": ev["gc_ms"] / 1e3,
        "operators.shuffle_write_bytes": ev["shuffle_write"],
        "operators.shuffle_read_bytes": ev["shuffle_read"],
        "operators.fetch_wait_s": ev["fetch_wait_ms"] / 1e3,
        "operators.spill_bytes": ev["spill"],
        "operators.peak_exec_mem_bytes": ev["peak_exec_mem"],
        "shared.hits": hits,
        "shared.misses": misses,
        "shared.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "shared.build_s": tot["shared.build"]["self_s"],
        "functions.python_run_s": ev["py_run"] / 1e3,
        "functions.python_start_s": (ev["py_start"] + ev["py_init"]) / 1e3,
        "functions.bytes_to_python": ev["py_sent"],
        "functions.bytes_from_python": ev["py_recv"],
        "sinks.write_json.calls": tot["sinks.write_json"]["calls"],
        "sinks.write_json_s": tot["sinks.write_json"]["s"],
        "sinks.write_tasks": phase["sink"]["tasks"] if r.wl.name == "etl_convert" else 0,
        "sinks.output_files": out_files,
        "sinks.output_bytes": out_bytes,
        "sinks.action_s": tot["sinks.action"]["s"],
        "convert.convert_s": tot["convert.convert"]["s"],
        "convert.rows": traced.rows,
        "streaming.job_s": tot["streaming.job"]["s"],
        "streaming.batches": st["batches"],
        "streaming.input_rows": st["input_rows"],
        "streaming.add_batch_s": st["add_batch_ms"] / 1e3,
        "streaming.planning_s": st["planning_ms"] / 1e3,
        "streaming.wal_commit_s": st["wal_commit_ms"] / 1e3,
        "streaming.commit_offsets_s": st["commit_offsets_ms"] / 1e3,
        "streaming.state_rows": st["state_rows"],
        "streaming.state_mem_bytes": st["state_mem_bytes"],
        "streaming.state_commit_s": st["state_commit_ms"] / 1e3,
    }
    for layer in ("request", "session", "sources", "operators", "shared", "sinks", "convert",
                  "streaming"):
        m[f"self.{layer}_s"] = self_by_layer[layer]
    m["trace.spans"] = len(tracer.spans)
    m["trace.latency_p50_s"] = statistics.median(traced.lat)
    m["trace.untraced_latency_p50_s"] = u_p50
    m["trace.p50_overhead"] = m["trace.latency_p50_s"] / u_p50 - 1
    m["trace.throughput_overhead"] = untraced.rps / traced.rps - 1
    return m


def main(argv: list[str] | None = None) -> int:
    proc_start = time.perf_counter() - host.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found in {ROOT}: missing {missing}", file=sys.stderr)
        return 2

    cpus = str(len(os.sched_getaffinity(0)))
    with workspace(ROOT) as work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ.update(
            SPARK_GRAFT_CPUS=cpus,
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            SPARK_GRAFT_STREAM_SCRATCH=os.path.join(work, "stream-checkpoints"),
            TMPDIR=tmp,
            PYSPARK_PYTHON=sys.executable,
            JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp}".strip(),
        )
        tempfile.tempdir = None
        sys.path.insert(0, ROOT)
        try:
            return run(args, work, host.env_stamp(ROOT, cpus), proc_start)
        finally:
            host.stop_descendants()


if __name__ == "__main__":
    raise SystemExit(main())
