"""Traced pass: spans around calls into each layer, and per-layer metrics.

The layers are the program's subpackages. ``functions`` and ``plans``
only build Column expressions or inspect plans, so their calls count
toward ``operators``, whose stages run them.

While installed, every public function of a layer module is replaced, in
every module of the package that refers to it, by a stand-in that opens
a span (name, layer, start, end, parent, unit), runs the function under a
Spark job group named after the span, and materializes a returned batch
DataFrame through the noop sink under ``<span>:mat``. Execution cost thus
lands in the innermost layer whose output needs it: a layer's self time
is its spans' duration minus the time its child spans cover. Stage
metrics come from Spark's status REST API and SQL-node metrics from its
SQL REST API, both joined on job group. Groups without ``:mat`` hold only
jobs the program runs itself, untraced too; they give the unit's job,
stage and task counts and its scan, join and Python-boundary volumes.

Calls on other threads (the streaming foreachBatch callback) get spans
with timing only, parented to the running unit.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import sys
import threading
import time
import urllib.parse
import urllib.request
from collections import defaultdict

LAYERS = ("session", "workloads", "sources", "operators", "graph", "ml", "streaming")
SUBPACKAGE_LAYER = {"functions": "operators", "plans": "operators"}

#: metric name -> unit, in the order printed
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_gc_s": "s",
    "session.peak_rss_mb": "MB",
    "session.jit_compile_s": "s",
    "session.codegen_compiles": "count",
    "workloads.build_s": "s",
    "workloads.plan_s": "s",
    "workloads.exec_s": "s",
    "workloads.jobs": "count",
    "workloads.stages": "count",
    "workloads.tasks": "count",
    "sources.self_s": "s",
    "sources.rows_read": "rows",
    "sources.bytes_read": "bytes",
    "sources.rows_examined_per_result": "ratio",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.commit_s": "s",
    "sources.log_versions": "count",
    "operators.self_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.join_rows_out": "rows",
    "operators.candidate_pairs": "rows",
    "operators.pair_yield": "ratio",
    "operators.python_bytes_sent": "bytes",
    "graph.self_s": "s",
    "graph.stages": "count",
    "graph.shuffle_bytes": "bytes",
    "ml.self_s": "s",
    "ml.python_bytes_sent": "bytes",
    "ml.result_bytes": "bytes",
    "streaming.self_s": "s",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.rows_dropped_late": "rows",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "result_bytes": "resultSize",
    "tasks": "numCompleteTasks",
}


class _Traced:
    """Stands in for a layer function while tracing is installed.

    Pickles as the original function, so closures shipped to Python
    workers run untraced there."""

    def __init__(self, tracer: Tracer, fn, layer: str) -> None:
        functools.update_wrapper(self, fn)
        self.tracer, self.fn, self.layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self.fn, self.layer, args, kwargs)

    def __reduce__(self):
        return functools.partial, (self.fn,)


def _sql_number(value: str) -> float:
    """First number of an SQL-metric string: '1,234', '12.5 MiB',
    or 'total (min, med, max ...)\\n12.5 MiB (...)'."""
    text = value.split("\n")[-1].split("(")[0].strip().replace(",", "")
    num, _, unit = text.partition(" ")
    scale = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}.get(unit.strip(), 1)
    try:
        return float(num) * scale
    except ValueError:
        return 0.0


class Tracer:
    def __init__(self, spark, package: str) -> None:
        self.sc, self.package = spark.sparkContext, package
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._unit: dict | None = None
        self._main = threading.current_thread()
        self._other = threading.local()
        url = urllib.parse.urlsplit(self.sc.uiWebUrl or "")
        if not url.port:
            raise RuntimeError("the traced run reads Spark's status REST API; the UI is disabled")
        self._api = f"http://localhost:{url.port}/api/v1/applications/{self.sc.applicationId}"
        self._gc0 = self._driver_gc_ms()
        self._jit0, self._compiles0 = self._jvm_counters()

    # ---- spans ----------------------------------------------------------
    def _open(self, name: str, layer: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "unit": self._unit["name"] if self._unit else None,
            "start": time.perf_counter(), "end": None, "child_s": 0.0,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(str(span["id"]), name)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            parent["child_s"] += span["end"] - span["start"]
            self.sc.setJobGroup(str(parent["id"]), parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self._open(name, layer)
        try:
            yield span
        finally:
            self._close(span)

    @contextlib.contextmanager
    def unit(self, name: str):
        self._unit = {"name": name}
        try:
            with self.span(name, "workloads") as span:
                self._unit = span
                yield span
        finally:
            self._unit = None

    def call(self, fn, layer: str, args, kwargs):
        if threading.current_thread() is not self._main:
            return self._call_timed(fn, layer, args, kwargs)
        if self._unit is None:
            return fn(*args, **kwargs)
        from pyspark.sql import DataFrame

        with self.span(fn.__name__, layer) as span:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame) and not out.isStreaming:
                self.sc.setJobGroup(f"{span['id']}:mat", fn.__name__)
                out.write.format("noop").mode("overwrite").save()
            return out

    def _call_timed(self, fn, layer: str, args, kwargs):
        """A span with timing only, for calls off the main thread."""
        stack = self._other.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._unit
        span = {
            "id": next(self._ids), "name": fn.__name__, "layer": layer,
            "parent": parent["id"] if parent else None,
            "unit": self._unit["name"] if self._unit else None,
            "start": time.perf_counter(), "end": None, "child_s": 0.0, "thread": "other",
        }
        stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(span)
            if parent is not None:
                parent["child_s"] += span["end"] - span["start"]

    @contextlib.contextmanager
    def installed(self):
        """Swap every public layer function for a traced stand-in, in
        every loaded module of the package; restore on exit."""
        modules = [m for n, m in list(sys.modules.items()) if m and n.startswith(self.package + ".")]
        swapped = []
        stand_ins = {}
        for mod in modules:
            sub = mod.__name__.split(".")[1]
            layer = SUBPACKAGE_LAYER.get(sub, sub)
            if layer not in LAYERS:
                continue
            for name, obj in vars(mod).items():
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not name.startswith("_"):
                    stand_ins[id(obj)] = _Traced(self, obj, layer)
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in stand_ins:
                    setattr(mod, name, stand_ins[id(obj)])
                    swapped.append((mod, name, obj))
        try:
            yield
        finally:
            for mod, name, obj in swapped:
                setattr(mod, name, obj)

    # ---- Spark status ---------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def _driver_gc_ms(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self._get("executors") if e["id"] == "driver")

    def _jvm_counters(self) -> tuple[float, int]:
        """The driver JVM's JIT compiler time in ms and Spark's codegen
        compilations (codegen cache misses) so far. Each compilation is a
        new class whose hot methods the JIT compiles again."""
        jvm = self.sc._jvm
        jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
        return jit_ms, jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    def _group_metrics(self) -> dict[str, dict[str, float]]:
        """Stage and SQL-node metric sums per job group."""
        time.sleep(1.0)  # let the listener bus deliver the last task ends
        jobs = self._get("jobs")
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        stage_job = {s: j["jobId"] for j in jobs for s in j["stageIds"]}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for j, g in group_of_job.items():
            if g is not None:
                out[g]["jobs"] += 1
        for s in self._get("stages"):
            g = group_of_job.get(stage_job.get(s["stageId"]))
            if g is None or s["status"] not in ("COMPLETE", "FAILED"):
                continue
            m = out[g]
            m["stages"] += 1
            m["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for k, field in STAGE_FIELDS.items():
                m[k] += s.get(field, 0)
        for e in self._get("sql?details=true&planDescription=false&offset=0&length=100000"):
            groups = {group_of_job.get(j) for j in e.get("successJobIds", []) + e.get("failedJobIds", [])} - {None}
            if len(groups) != 1:
                continue
            m = out[groups.pop()]
            top = None
            for node in sorted(e.get("nodes", []), key=lambda n: n["nodeId"]):
                metrics = {x["name"]: _sql_number(x["value"]) for x in node.get("metrics", [])}
                rows = metrics.get("number of output rows")
                if rows is not None and top is None:
                    top = rows
                if "Join" in node["nodeName"] and rows is not None:
                    m["join_rows"] += rows
                m["python_bytes"] += metrics.get("data sent to Python workers", 0.0)
                m["files_written"] += metrics.get("number of written files", 0.0)
            m["top_rows"] += top or 0.0
        return out

    # ---- per-layer metrics ------------------------------------------------
    def layer_metrics(self, units: int, session_start_s: float, peak_rss_mb: float, overhead_s: float,
                      result_rows: float, streaming: list[dict], stream_table: str | None) -> dict:
        groups = self._group_metrics()
        real: dict[str, float] = defaultdict(float)  # jobs the program runs itself
        by_layer: dict[str, dict[str, float]] = {layer: defaultdict(float) for layer in LAYERS}
        pairs = defaultdict(float)
        for span in self.spans:
            layer = by_layer[span["layer"]]
            layer["self_s"] += span["end"] - span["start"] - span["child_s"]
            own = groups.get(str(span["id"]), {})
            mat = groups.get(f"{span['id']}:mat", {})
            for k, v in own.items():
                real[k] += v
            for src in (own, mat):
                for k, v in src.items():
                    layer[k] += v
            if span["layer"] == "operators" and ("pairs" in span["name"] or "lsh" in span["name"]):
                pairs["candidates"] += mat.get("join_rows", 0.0)
                pairs["verified"] += mat.get("top_rows", 0.0)
            if span["name"] == "build":
                by_layer["workloads"]["build_s"] += span["end"] - span["start"] - span["child_s"]
            elif span["name"] in ("plan", "exec") and span["layer"] == "workloads":
                by_layer["workloads"][f"{span['name']}_s"] += span["end"] - span["start"] - span["child_s"]
            elif span["name"] == "txlog_ingest_batch":
                by_layer["sources"]["commit_s"] += span["end"] - span["start"]

        def prog(key: str, section: str) -> float:
            """Mean of one StreamingQueryProgress field over the waves."""
            vals = []
            for p in streaming:
                part = p.get(section) or {}
                if isinstance(part, list):
                    part = part[0] if part else {}
                vals.append(float(part.get(key, 0.0)))
            return sum(vals) / len(vals) if vals else 0.0

        log_versions = 0
        if stream_table:
            from cs744_big_data_system_spark.sources.txlog import latest_version

            log_versions = latest_version(stream_table) + 1
        jit_ms, compiles = self._jvm_counters()
        op, sr, gr, ml = by_layer["operators"], by_layer["sources"], by_layer["graph"], by_layer["ml"]
        wl = by_layer["workloads"]
        values = {
            "session.start_s": session_start_s,
            "session.jvm_gc_s": (self._driver_gc_ms() - self._gc0) / 1000.0 / units,
            "session.peak_rss_mb": peak_rss_mb,
            "session.jit_compile_s": (jit_ms - self._jit0) / 1000.0 / units,
            "session.codegen_compiles": (compiles - self._compiles0) / units,
            "workloads.build_s": wl["build_s"] / units,
            "workloads.plan_s": wl["plan_s"] / units,
            "workloads.exec_s": wl["exec_s"] / units,
            "workloads.jobs": real["jobs"] / units,
            "workloads.stages": real["stages"] / units,
            "workloads.tasks": real["tasks"] / units,
            "sources.self_s": sr["self_s"] / units,
            "sources.rows_read": real["input_rows"] / units,
            "sources.bytes_read": real["input_bytes"] / units,
            "sources.rows_examined_per_result": real["input_rows"] / max(result_rows, 1.0),
            "sources.bytes_written": real["output_bytes"] / units,
            "sources.files_written": real["files_written"] / units,
            "sources.commit_s": sr["commit_s"] / units,
            "sources.log_versions": log_versions,
            "operators.self_s": op["self_s"] / units,
            "operators.shuffle_write_bytes": op["shuffle_write"] / units,
            "operators.shuffle_read_bytes": op["shuffle_read"] / units,
            "operators.spill_bytes": op["spill_bytes"] / units,
            "operators.join_rows_out": real["join_rows"] / units,
            "operators.candidate_pairs": pairs["candidates"] / units,
            "operators.pair_yield": pairs["verified"] / pairs["candidates"] if pairs["candidates"] else 0.0,
            "operators.python_bytes_sent": real["python_bytes"] / units,
            "graph.self_s": gr["self_s"] / units,
            "graph.stages": gr["stages"] / units,
            "graph.shuffle_bytes": (gr["shuffle_read"] + gr["shuffle_write"]) / units,
            "ml.self_s": ml["self_s"] / units,
            "ml.python_bytes_sent": ml["python_bytes"] / units,
            "ml.result_bytes": ml["result_bytes"] / units,
            "streaming.self_s": by_layer["streaming"]["self_s"] / units,
            "streaming.batch_s": prog("triggerExecution", "durationMs") / 1000.0,
            "streaming.add_batch_s": prog("addBatch", "durationMs") / 1000.0,
            "streaming.wal_commit_s": prog("walCommit", "durationMs") / 1000.0,
            "streaming.planning_s": prog("queryPlanning", "durationMs") / 1000.0,
            "streaming.state_rows": prog("numRowsTotal", "stateOperators"),
            "streaming.state_bytes": prog("memoryUsedBytes", "stateOperators"),
            "streaming.state_commit_s": prog("commitTimeMs", "stateOperators") / 1000.0,
            "streaming.rows_dropped_late": prog("numRowsDroppedByWatermark", "stateOperators"),
            "trace.overhead_s": overhead_s,
            "trace.spans": len(self.spans) / units,
        }
        return {name: (values[name], unit) for name, unit in PER_LAYER.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
