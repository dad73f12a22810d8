"""SparkSession factory with scale-aware defaults.

The reference hand-tuned cluster knobs per job (30g executors, 5 cores,
spill dir, partition sweeps 10..300 — assignment1/part2/task.py:8-12,
assignment1/part3/task2/task2.py:16-21, task2.sh:4). The engine instead
sets one coherent config and leans on AQE to re-plan at runtime, which
replaces the manual partition sweep (SURVEY.md §4).

Scale posture: the adaptive-execution defaults are written for a real
cluster; on local[N] they are merely harmless. AQE coalesces small
shuffle partitions, converts sort-merge joins to broadcast when the
runtime size allows, and splits skewed partitions — the three
behaviours the reference approximated by hand.

The codegen-cache size is not merely harmless locally: in local mode
every task runs in the driver JVM, so one cache serves the whole
session. When a session's distinct whole-stage plans outnumber the
cache, each repeat of a query recompiles its generated classes and the
JIT compiles the freshly loaded copies again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for correctness at any scale + efficiency at large scale.
ENGINE_CONF: dict[str, str] = {
    # Local mode runs every task inside the driver JVM, whose DEFAULT
    # heap is 1g — long sessions (70+ queries, streaming state stores,
    # iterative checkpoints) eventually fail stage materialization.
    # Sized from the machine's RAM below (only honored at JVM start;
    # harmless and ignored on an already-running cluster JVM).
    "spark.driver.maxResultSize": "4g",
    # --- Adaptive execution: runtime re-planning replaces manual tuning ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast small join sides (dimension tables) instead of shuffling.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- Python boundary: always Arrow-vectorized, never per-row pickle ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- Parquet: vectorized reads + aggressive pushdown ---
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Session timezone pinned so timestamp semantics match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Fixture events.ts is TIMESTAMP(NANOS): read as ns longs (converted
    # to µs timestamps in sources.readers.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Current testdata writes tz-less timestamp[us]; Spark 4 would infer
    # TIMESTAMP_NTZ, which event-time operators (withWatermark, window
    # state) reject. Read as session-tz TIMESTAMP instead — an identity
    # under the pinned UTC timezone, and what the DuckDB oracle sees.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # ANSI off: engine follows classic Spark SQL nullable-on-error semantics.
    "spark.sql.ansi.enabled": "false",
    # Whole-stage codegen cache, default 100 entries. The working set is
    # larger: ~171 compilations per pipeline_mix pass (pagerank_events
    # alone 68) and ~135 for the nine-query olap mix (perfbench/README.md),
    # so a 100-entry cache evicts and recompiles every class on every
    # pass. Static conf: it takes effect only when get_spark starts the
    # JVM; a session started elsewhere keeps Spark's 100 entries.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # PySpark's DataFrame debugging, on by default: every `F.*` call and
    # Column operator looks up the active session, reads a conf, walks
    # the Python stack for its file:line and sets and clears a JVM-side
    # origin — four py4j round trips or more per Column op (a
    # dedup_minhash_lsh build makes 276 such ops). The trade: an
    # analysis error no longer names the Python line that built the
    # failing Column; the JVM error and its SQL context remain. Static
    # conf, read once per Python process (pyspark.errors.utils caches
    # it), so it holds only when get_spark starts the session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _default_driver_mem(env) -> str:
    """Half the machine's RAM, clamped to [2g, 48g] — enough headroom
    for long local sessions without promising memory a small host (or
    cgroup limit) cannot back. SPARK_GRAFT_DRIVER_MEM overrides."""
    override = env.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (ValueError, OSError):
        total_gb = 4.0
    return f"{min(48, max(2, int(total_gb // 2)))}g"


def _default_cpus(env) -> int:
    """The cores this process may run on (its CPU affinity, which also
    reflects a container's cpuset). SPARK_GRAFT_CPUS overrides."""
    override = env.get("SPARK_GRAFT_CPUS")
    if override:
        return int(override)
    return len(os.sched_getaffinity(0))


def _default_master(cpus: int, env) -> str | None:
    """local[cpus] for bare `python x.py` runs; None (= respect the
    submit-time master) when a launcher already chose one. Two launch
    paths to detect: (a) `spark-submit app.py` — the JVM gateway
    already exists and exports PYSPARK_GATEWAY_PORT/SECRET; (b)
    pyspark shell / Python-launched JVM — the CLI is in
    PYSPARK_SUBMIT_ARGS. Never override a cluster launch with
    local[N]."""
    launched_by_submit = (
        "PYSPARK_GATEWAY_PORT" in env or "--master" in env.get("PYSPARK_SUBMIT_ARGS", "")
    )
    return None if launched_by_submit else f"local[{cpus}]"


def get_spark(
    app_name: str = "cs744-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` for local runs, N being
    ``$SPARK_GRAFT_CPUS`` or else the cores this process may run on; on
    a real cluster pass ``None`` and submit with ``spark-submit --master
    ...`` — the builder then respects the submit-time master.
    """
    cpus = _default_cpus(os.environ)
    if master is None:
        master = _default_master(cpus, os.environ)
    if shuffle_partitions is None:
        # One shuffle partition per core locally; on a cluster this should
        # be ~2-3x total cores — AQE coalescing makes over-provisioning cheap.
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = builder.config("spark.driver.memory", _default_driver_mem(os.environ))
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
