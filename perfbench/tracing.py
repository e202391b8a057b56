"""Traced runs: Python-side spans around the program's layer entry points
and Spark-side counts from the event log.

Spans are recorded from outside the program: ``Tracer.install`` swaps
wrappers into every ``catme_etl_spark.*`` module namespace that holds a
layer function, and ``uninstall`` swaps the originals back. Each span
records name, start, end, parent and request id; spans stay in memory
until ``dump``.

Spark jobs are attributed to requests through the job group: every
request and every phase inside it (``build``, ``read``, ``sink``,
``other``) sets ``spark.jobGroup.id`` to ``<request id>:<phase>``, and
``read_event_log`` folds the task metrics and SQL metrics of each job
into its group. A streaming query runs its micro-batch jobs under its
own group, the query's run id; the tracer learns the run ids from its
``StreamingQueryListener`` and folds those jobs into phase ``stream``.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import sys
import time

GROUP = "spark.jobGroup.id"

# (module, function, span name, job-group phase)
LAYER_FUNCTIONS = (
    ("catme_etl_spark.sources.tables", "load_table", "sources.load_table", None),
    ("catme_etl_spark.sources.files", "read_auto", "sources.read_auto", "read"),
    ("catme_etl_spark.operators.pipeline", "run_pipeline", "operators.build", "build"),
    ("catme_etl_spark.sinks.json_sink", "write_json", "sinks.write_json", "sink"),
    ("catme_etl_spark.convert", "convert", "convert.convert", None),
    ("catme_etl_spark.streaming.jobs", "_run_to_memory", "streaming.job", None),
)

# Layer of each span name, for self-time accounting.
SPAN_LAYER = {
    "request": "request",
    "session.get_spark": "session",
    "sources.load_table": "sources",
    "sources.read_auto": "sources",
    "operators.build": "operators",
    "shared.build": "shared",
    "shared.hit": "shared",
    "sinks.write_json": "sinks",
    "sinks.action": "sinks",
    "convert.convert": "convert",
    "streaming.job": "streaming",
}

# Spark event-log names of the SQL metrics the traced run reads.
SQL_METRICS = {
    "scan time": "scan_ms",
    "time to run Python workers": "py_run",
    "time to start Python workers": "py_start",
    "time to initialize Python workers": "py_init",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
}


def _swap(orig, repl) -> None:
    for name, mod in list(sys.modules.items()):
        if mod is None or not (
            name.startswith("catme_etl_spark") or name == "__spark_entry__"
        ):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, repl)


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self.rid: str | None = None
        self._stack: list[dict] = []
        self._swapped: list[tuple] = []
        self.progress: list[dict] = []  # StreamingQueryProgress, as JSON
        self.terminated = 0
        self._listener = None

    # -- spans ---------------------------------------------------------
    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured before the tracer existed."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": None,
             "rid": None, "start": start, "end": end}
        )

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "rid": self.rid, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        prev = None
        if phase is not None:
            prev = self.sc.getLocalProperty(GROUP)
            self.sc.setLocalProperty(GROUP, f"{self.rid}:{phase}")
        try:
            yield rec
        finally:
            if phase is not None:
                self.sc.setLocalProperty(GROUP, prev)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def request(self, rid: str):
        self.rid = rid
        try:
            with self.span("request", "other"):
                yield
        finally:
            self.rid = None

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, span_name: str, phase: str | None):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name, phase):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_shared(self, fn, cache: dict):
        tracer = self

        def wrapper(name, sf_dir, spark, build, *args, **kwargs):
            key = (name, sf_dir, spark.sparkContext.applicationId)
            hit = key in cache
            tracer.counts["shared.hits" if hit else "shared.misses"] += 1
            with tracer.span("shared.hit" if hit else "shared.build"):
                return fn(name, sf_dir, spark, build, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        import importlib

        from catme_etl_spark.operators import _shared

        for mod_name, fn_name, span_name, phase in LAYER_FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            self._swapped.append((orig, self._wrap(orig, span_name, phase)))
        for fn_name, cache in (
            ("shared_df", _shared._DF_CACHE),
            ("shared_broadcast", _shared._BC_CACHE),
        ):
            orig = getattr(_shared, fn_name)
            self._swapped.append((orig, self._wrap_shared(orig, cache)))
        for orig, repl in self._swapped:
            _swap(orig, repl)

    def listen(self, spark) -> None:
        """Record every streaming query's progress events."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.terminated += 1

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    def unlisten(self, spark, timeout_s: float = 30.0) -> None:
        """Wait until every traced streaming query's termination event
        (posted after its progress events) has arrived, then detach."""
        jobs = sum(s["name"] == "streaming.job" for s in self.spans)
        deadline = time.monotonic() + timeout_s
        while self.terminated < jobs and time.monotonic() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(self._listener)

    def stream_totals(self) -> dict[str, float]:
        t = collections.Counter()
        final_state: dict[str, list[dict]] = {}
        for p in self.progress:
            d = p.get("durationMs") or {}
            t["batches"] += 1
            t["input_rows"] += p.get("numInputRows") or 0
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["planning_ms"] += d.get("queryPlanning", 0)
            t["wal_commit_ms"] += d.get("walCommit", 0)
            t["commit_offsets_ms"] += d.get("commitOffsets", 0)
            for op in p.get("stateOperators") or []:
                t["state_commit_ms"] += op.get("commitTimeMs", 0)
            final_state[p["runId"]] = p.get("stateOperators") or []
        for ops in final_state.values():  # state left by each query's last batch
            t["state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
            t["state_mem_bytes"] += sum(op.get("memoryUsedBytes", 0) for op in ops)
        return t

    def run_ids(self) -> set[str]:
        return {p["runId"] for p in self.progress}

    def uninstall(self) -> None:
        for orig, repl in self._swapped:
            _swap(repl, orig)
        self._swapped.clear()

    # -- reporting -----------------------------------------------------
    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, inclusive seconds and self seconds
        (duration minus the time its child spans cover)."""
        child = collections.defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = collections.defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            d = s["end"] - s["start"]
            t = out[s["name"]]
            t["calls"] += 1
            t["s"] += d
            t["self_s"] += max(d - child[s["id"]], 0.0)
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(
    log_dir: str, stream_runs: set[str] = frozenset()
) -> dict[str, collections.Counter]:
    """Fold the event log into per-phase counters over every job whose
    group a traced request set (``r<i>:<phase>``) or a traced streaming
    query ran under (its run id, phase ``stream``)."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    per_phase: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter
    )
    paths = [os.path.join(log_dir, p) for p in sorted(os.listdir(log_dir))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP)
                    if group in stream_runs:
                        group = f"{group}:stream"
                    if group and ":" in group:
                        job_group[ev["Job ID"]] = group
                        per_phase[group.split(":", 1)[1]]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job in job_group:
                        per_phase[job_group[job].split(":", 1)[1]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job not in job_group:
                        continue
                    _fold_task(per_phase[job_group[job].split(":", 1)[1]], ev)
    return dict(per_phase)


def _fold_task(c: collections.Counter, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["busy_ms"] += max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
    c["cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["peak_exec_mem"] = max(c["peak_exec_mem"], m.get("Peak Execution Memory", 0))
    sw = m.get("Shuffle Write Metrics", {})
    c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    inp = m.get("Input Metrics", {})
    c["input_bytes"] += inp.get("Bytes Read", 0)
    c["input_rows"] += inp.get("Records Read", 0)
    for acc in info.get("Accumulables", []):
        key = SQL_METRICS.get(acc.get("Name"))
        if key is not None:
            c[key] += int(acc.get("Update") or 0)
