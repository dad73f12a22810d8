"""Runtime plan tuning helpers shared by the iterative kernels.

Spark fixes a stateful/iterative loop's shuffle width from
``spark.sql.shuffle.partitions`` at submission, and the session default
(sized for corpus-scale batch shuffles) is pure per-task scheduling
overhead when the loop's working set is a small derived table — a
frontier, a label table, a candidate-pair graph. Measured on the r06/07
heavy tail: connected components on a 697-node label table ran 6.7 s at
32 partitions vs 3.2 s at 2; multi-source BFS on a 12k-edge graph spent
~10 of its 12.6 s scheduling empty tasks.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def loop_shuffle_partitions(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 250_000
):
    """Scope ``spark.sql.shuffle.partitions`` to the loop's WORKING-SET
    row count: one partition per ``rows_per_partition`` rows, floor 2,
    the session value as the ceiling (a wide cluster config is capped,
    never raised — at a billion rows a real cluster keeps its thousands
    of partitions). Every DataFrame the caller wants at full session
    width must be materialized OUTSIDE this scope; results produced
    inside should be checkpointed inside so no lazy stage escapes to
    run narrow... or wide.

    NOT reentrant / thread-safe for the same reason as
    streaming/windows._drain_stream: it mutates the session-global
    conf and restores it in ``finally``. The harness is single-
    threaded; nesting restores the outer value correctly only if the
    inner scope exits first (which `with` guarantees), but concurrent
    jobs in another thread would observe the narrowed value.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    scoped = min(int(prev), max(2, n_rows // rows_per_partition))
    spark.conf.set("spark.sql.shuffle.partitions", str(scoped))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ("128MB", "1g", "134217728b")."""
    v = v.strip().lower().rstrip("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    return int(float(v) * mult)


def _mem_capped_width(
    par: int,
    heap_bytes: int,
    mem_fraction: float,
    min_task_bytes: int = 32 << 20,
) -> int:
    """Fan-out width capped by per-task execution memory (guide §5):
    each concurrent fanned task should keep at least ``min_task_bytes``
    of the session's execution memory (heap minus Spark's 300 MB
    reserve, times spark.memory.fraction). At any realistic
    heap-per-core this returns ``par`` unchanged; it bites only on
    harsh geometries — the r11 vanilla-sweep marathon ran 32 executor
    threads over a default 1 GiB heap and OOMed in 32-way
    spill-thrashing aggregates at ~13 MB execution memory per task;
    under this cap the same session fans out 13-wide instead. The cap
    has a floor of 2 so the helper still parallelizes a little on tiny
    heaps (matching loop_shuffle_partitions' floor), but the width
    never exceeds ``par``: a single-core session stays at 1."""
    exec_bytes = max(0.0, float(heap_bytes) - (300 << 20)) * mem_fraction
    cap = int(exec_bytes // min_task_bytes)
    return min(par, max(2, cap))


def _fan_out_width(spark: SparkSession) -> int:
    """Session parallelism, memory-capped (``_mem_capped_width``) on a
    ``local[...]`` master only: there the driver JVM is the executor,
    so its heap is the one the fanned tasks share. On a cluster the
    driver's heap says nothing about the executors', so the width stays
    at ``defaultParallelism``."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    if not sc.master.startswith("local"):
        return par
    try:
        heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        frac = float(spark.conf.get("spark.memory.fraction", "0.6"))
    except Exception:
        return par
    return _mem_capped_width(par, heap, frac)


#: Stop enumerating per-file sizes past this many files: a scan with
#: this many splittable files is never split-starved for any sane core
#: count, and a million-file table must not pay a full driver-side
#: listing + per-file stat at query-build time (r11 verdict hardening).
_MAX_FILES_TO_STAT = 256


def fan_out_small_scan(df, key: str | None = None):
    """Hash-repartition a SMALL or split-starved scan to session
    parallelism before heavy per-row expression work (tokenize → n-gram
    → md5 chains, per-position hashing) — guide §2.5 "input skew: one
    huge unsplittable file … repartition immediately after the read".

    Why it exists: a parquet file is split at row-group boundaries, so
    a table written as one row group scans as ONE task no matter how
    many cores the session has — dedup_substring measured 5.2 s of its
    6.2 s in a single-task stage at sf0.1/local[32] with 31 cores idle.
    On a real cluster big tables arrive in thousands of splits and this
    helper is a no-op; it fires only when the scan cannot naturally
    fill the session's cores AND the shuffle it adds is bounded.

    Scale-adaptive gate (no local-only constants): fire iff
      estimated natural splits (total_bytes / maxPartitionBytes)
        < defaultParallelism                     -- split-starved
      AND total_bytes <= defaultParallelism * maxPartitionBytes
                                                 -- bounded shuffle
    Both sides derive from the session's own conf, so a 100 TB scan
    (millions of splits) never repartitions while any split-starved
    input small enough to move cheaply does.

    ``key``: a well-distributed column (a unique id) to hash-partition
    on — deterministic under task retry and, unlike keyless round-robin
    repartition, needs no sort-before-repartition pass. Falls back to
    round-robin when no key is given.

    Only called where the caller KNOWS the downstream per-row work is
    expensive; cheap columnar aggregates should keep the plain scan.
    """
    spark = df.sparkSession
    par = _fan_out_width(spark)
    try:
        from urllib.parse import unquote, urlparse

        total = 0
        files = df.inputFiles()
        if len(files) > max(_MAX_FILES_TO_STAT, 4 * par):
            return df  # many-file table: plenty of natural splits
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("file", ""):
                return df  # remote FS: trust the scan's natural splits
            total += os.path.getsize(unquote(p.path))
    except Exception:
        return df
    if not files:
        return df
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_splits = max(1, -(-total // max_split))
    if est_splits >= par or total > par * max_split:
        return df
    if key is not None:
        return df.repartition(par, key)
    return df.repartition(par)
