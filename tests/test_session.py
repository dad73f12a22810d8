"""Session defaults: the host-sized core count and the codegen cache,
and the one place that may change the session's shuffle width."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import cs744_big_data_system_spark
from cs744_big_data_system_spark.session import ENGINE_CONF, _default_cpus

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def test_default_cpus_from_affinity_or_env():
    assert _default_cpus({}) == len(os.sched_getaffinity(0))
    assert _default_cpus({"SPARK_GRAFT_CPUS": ""}) == len(os.sched_getaffinity(0))
    assert _default_cpus({"SPARK_GRAFT_CPUS": "3"}) == 3


def _compilations(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_spark_default(spark):
    """Spark's codegen cache holds 100 entries; a session whose distinct
    whole-stage plans outnumber it recompiles a query each time it runs
    again. Each literal below is inlined into the generated code, so
    every plan is its own cache entry: after 150 others, the first plan
    must still be served from the cache."""
    assert spark.conf.get(CACHE_CONF) == ENGINE_CONF[CACHE_CONF]

    def plan(i):
        return spark.range(8).selectExpr(f"id * {i} + {i} AS v")

    first = plan(1).collect()
    for i in range(2, 152):
        # Building the RDD compiles the stage on the driver; no job runs.
        plan(i).rdd.getNumPartitions()
    before = _compilations(spark)
    assert plan(1).collect() == first
    assert _compilations(spark) == before


def test_column_ops_capture_no_call_site(spark, monkeypatch):
    """The engine session turns PySpark's DataFrame debugging off, so
    building a Column walks no Python stack: with the call-site capture
    made to raise, the expression still builds."""
    import pyspark.errors.utils as errors_utils
    from pyspark.sql import functions as F

    def capture(depth):
        raise AssertionError("call site captured")

    monkeypatch.setattr(errors_utils, "_capture_call_site", capture)
    # The debugging flag is cached per process; re-read it from the
    # active (engine) session.
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    F.col("a") + 1
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _shuffle_partition_writers(root: Path) -> set[tuple[str, str]]:
    """(module, function) of every function under ``root`` that names the
    shuffle-width key and calls ``.set(...)`` (a conf write, whether the
    key is passed directly, through a variable or from a dict), or that
    runs a SQL ``SET`` of it."""
    found = set()
    for path in sorted(root.rglob("*.py")):
        module = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(ast.walk(fn))
            strings = [
                n.value
                for n in nodes
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            ]
            calls_set = any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "set"
                for n in nodes
            )
            sql_set = any(
                re.search(r"\bSET\s+spark\.sql\.shuffle\.partitions\b", v, re.I)
                for v in strings
            )
            if (calls_set and SHUFFLE_PARTITIONS in strings) or sql_set:
                found.add((module, fn.name))
    return found


def test_only_stream_drain_writes_shuffle_partitions():
    """No query changes the session-global shuffle width: every scan and
    loop runs at the session's own width and AQE coalesces. The stream
    drain is the one exception; it sizes the replay's state store and
    restores the width before it returns."""
    root = Path(cs744_big_data_system_spark.__file__).parent
    assert _shuffle_partition_writers(root) == {
        ("streaming/windows.py", "_drain_stream")
    }
