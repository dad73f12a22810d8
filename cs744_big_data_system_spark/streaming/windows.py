"""Structured Streaming over the ``events`` table: watermarked
tumbling / sliding / session windows and stream dedup (SURVEY.md §2.9
"Streaming" — absent from the reference, required by the contract).

Every transformation here works on BOTH a batch DataFrame and a
readStream DataFrame (Structured Streaming's unified model); tests
replay the events parquet through a file/availableNow stream and assert
watermark late-data semantics deterministically.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Count + sum(value) per (event_type, tumbling window). With a
    watermark, state for windows older than max(ts) − watermark is
    dropped — bounded state at any scale."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts; each event lands in window/slide
    overlapping windows."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session windows with a ``gap`` inactivity timeout —
    Spark's native session_window (dynamic, state merged as events
    arrive). Batch equivalent with identical semantics:
    operators/relational.py::sessionize (gaps-and-islands)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour", ts_col: str = "ts") -> DataFrame:
    """Drop duplicate events by key within the watermark horizon —
    bounded-state streaming dedup (dropDuplicates keeps state per key
    only until the watermark passes)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return src.dropDuplicates(keys)


def replay_to_batch(
    spark: SparkSession,
    parquet_path: str,
    transform,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming transformation over a parquet file replayed as a
    stream (availableNow trigger → memory sink) and return the final
    result as a batch DataFrame.

    This exercises the REAL streaming engine (state store, watermarks,
    micro-batches) deterministically — the driver-facing proof that the
    streaming path works, hash-comparable to a batch oracle when the
    watermark is loose enough to admit every row.
    """
    import os

    from cs744_big_data_system_spark.sources.readers import normalize_event_ts, parquet_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, parquet_path)
    # The file stream source wants a directory; point it at the parent
    # with a glob filter so a single-file fixture replays cleanly.
    reader = spark.readStream.schema(schema)
    if os.path.isfile(parquet_path):
        reader = reader.option("pathGlobFilter", os.path.basename(parquet_path))
        stream_path = os.path.dirname(parquet_path)
    else:
        stream_path = parquet_path
    stream = normalize_event_ts(reader.parquet(stream_path))
    # Size the state store from the source volume (ADVICE r06): these
    # unstaged replays carry the FULL file — at sf1 that is ~1M rows,
    # where the fixed 8-partition fallback measured 2.2-2.5× slower.
    return _drain_stream(
        spark,
        transform(stream),
        output_mode,
        state_partitions=parquet_state_partitions(parquet_path),
    )


#: Fallback state-store partition count for replay drains when the
#: staged volume is unknown. Stateful-operator partitioning is fixed
#: from ``spark.sql.shuffle.partitions`` when the query first runs; the
#: session default (32, sized for batch shuffles) spawns 32 state-store
#: tasks + Python workers PER MICRO-BATCH — pure fixed overhead for
#: replays carrying a few thousand rows per wave (measured 5.8 → 2.7 s
#: on stream_data_card_replay at sf0.1 with identical output), but
#: needed parallelism once waves carry ~10⁶ rows (8 partitions cost
#: 2.2-2.5× on the sf1 smoke's session-timeout/CDC replays). Callers
#: that stage waves size the count from the staged row counts via
#: staged_state_partitions(); a production stream sizes the same knob
#: to its key cardinality at query start.
REPLAY_STATE_PARTITIONS = "8"


def _rows_to_state_partitions(total_rows: int) -> str:
    """Row count → state-store partition count. Calibrated on the
    sf0.1/sf1 A-B runs: ≤128k total rows → 8 (fixed per-task overhead
    dominates), then one partition per ~16k rows up to the session's
    batch sizing of 32 (1M-row sf1 replays measured 2.2-2.5× faster at
    32 than at 8)."""
    return str(min(32, max(8, total_rows // 16_000)))


def staged_state_partitions(stage_dir: str) -> str:
    """Size the replay drain's state-store partition count from the
    staged wave volume — parquet footer row counts only, no data read."""
    import os

    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(stage_dir):
        if f.startswith("wave") and f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(stage_dir, f)).metadata.num_rows
    return _rows_to_state_partitions(total)


def parquet_state_partitions(parquet_path: str) -> str:
    """Same sizing for an UNSTAGED replay source: a single parquet file
    or a parquet directory (footer row counts only, no data read)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isfile(parquet_path):
        total = pq.ParquetFile(parquet_path).metadata.num_rows
    else:
        total = 0
        for root, _dirs, files in os.walk(parquet_path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return _rows_to_state_partitions(total)


#: Minimum free bytes on /dev/shm before a replay helper will stage
#: there. Wave/checkpoint files per replay are tens of MB at the bench
#: scales, but tmpfs is shared with the OS — staging into a nearly-full
#: tmpfs would ENOSPC mid-replay with no fallback (ADVICE r09), where
#: plain disk would have succeeded. 2 GiB of headroom keeps a safe
#: margin even for sf1 replays while never rejecting a healthy host.
_TMPFS_MIN_FREE_BYTES = 2 << 30


def _tmpfs_base() -> str | None:
    """/dev/shm if it is writable AND has headroom, else None (disk)."""
    import os

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        return None
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize < _TMPFS_MIN_FREE_BYTES:
            return None
    except OSError:
        return None
    return "/dev/shm"


def replay_checkpoint_dir() -> str:
    """Create a THROWAWAY checkpoint dir for a replay drain, preferring
    tmpfs (/dev/shm) over disk. Replay checkpoints are verification
    scaffolding — written, committed once per micro-batch, and deleted
    in the caller's ``finally`` — so durability buys nothing, while
    their fsync-per-commit pattern is exactly what amplified an
    I/O-contended host into the BENCH_r06 337.8 s artifact (checkpoint
    -heavy queries spiked 1.9-10×; CPU-bound ones held). A production
    stream sets its own durable checkpointLocation; this helper is for
    replays only."""
    return tempfile.mkdtemp(prefix="ckpt_", dir=_tmpfs_base())


def replay_stage_dir(prefix: str = "replay_waves_") -> str:
    """Create a THROWAWAY stage dir for replay wave files, preferring
    tmpfs (/dev/shm) over disk — same rationale as
    ``replay_checkpoint_dir``: wave staging is input-side verification
    scaffolding (written once, read once per micro-batch, deleted in
    the caller's ``finally``), so durability buys nothing while each
    ``coalesce(1)`` parquet write pays a disk fsync per wave. A
    production stream reads its real source directory; this helper is
    for replays only."""
    return tempfile.mkdtemp(prefix=prefix, dir=_tmpfs_base())


#: _drain_stream is NOT reentrant: it temporarily lowers the
#: session-global spark.sql.shuffle.partitions for the drain, so any
#: concurrent batch/stream work in the same session would silently run
#: with the lowered value, and a nested drain would "restore" the
#: inner (lowered) value. The harness is single-threaded; this flag
#: turns an accidental nested/concurrent drain into a loud error.
_DRAIN_ACTIVE = False


def _drain_stream(
    spark: SparkSession,
    out: DataFrame,
    output_mode: str,
    state_partitions: str | None = None,
) -> DataFrame:
    """availableNow → memory sink → eager batch DataFrame, leaving no
    catalog entries or tmp dirs behind. Not reentrant — see
    _DRAIN_ACTIVE above."""
    global _DRAIN_ACTIVE
    if _DRAIN_ACTIVE:
        raise RuntimeError(
            "_drain_stream is not reentrant: a drain is already active in "
            "this session (it holds spark.sql.shuffle.partitions lowered)"
        )
    # Everything after the flag flip lives inside the try whose finally
    # resets it (ADVICE r07): if checkpoint-dir creation, the conf read,
    # or the conf set raises, the flag must still reset and the ckpt dir
    # must still be removed — otherwise every later drain in the session
    # raises "not reentrant" forever.
    _DRAIN_ACTIVE = True
    name = "replay_" + uuid.uuid4().hex[:12]
    ckpt_dir = None
    prev_parts = None
    try:
        ckpt_dir = replay_checkpoint_dir()
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        # micro-batch planning reads the conf asynchronously after
        # start(), so it stays lowered until the drain completes; the
        # finally below restores it before the batch agg over the
        # memory sink runs — start() itself is inside the try so a plan
        # that fails to start cannot leak the lowered conf into the
        # session
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            state_partitions or REPLAY_STATE_PARTITIONS,
        )
        query = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt_dir)
            .start()
        )
        query.awaitTermination()
        # Detach the result from the memory-sink temp view (eager
        # localCheckpoint → LogicalRDD) so the view and checkpoint dir
        # can be dropped immediately — repeated replays in one session
        # must not accumulate catalog entries or tmp dirs. The
        # checkpointed blocks themselves are released by the
        # ContextCleaner once the returned DataFrame is unreachable.
        result = spark.table(name).localCheckpoint(eager=True)
    finally:
        _DRAIN_ACTIVE = False
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.catalog.dropTempView(name)
        if ckpt_dir is not None:
            shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


def replay_waves_to_batch(
    spark: SparkSession,
    waves: list[DataFrame],
    transform,
    output_mode: str = "update",
) -> DataFrame:
    """Replay ``waves`` as SEPARATE micro-batches, in order.

    Each wave is staged as one parquet file with an increasing mtime;
    the file source (``latestFirst=false`` + ``maxFilesPerTrigger=1``)
    then processes exactly one wave per micro-batch in mtime order.
    Because Structured Streaming advances the watermark BETWEEN
    batches (from the max event time of completed batches), this makes
    watermark late-data semantics fully deterministic: a row in wave
    N+1 is late iff its window closed under the watermark established
    by waves ≤ N — a rule an oracle can mirror exactly.
    """
    import os

    stage, stream = stage_waves_stream(spark, waves)
    try:
        return _drain_stream(
            spark,
            transform(stream),
            output_mode,
            state_partitions=staged_state_partitions(stage),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def stage_waves_stream(spark: SparkSession, waves: list[DataFrame]):
    """Stage ``waves`` as mtime-ordered single-file parquet waves and
    return ``(stage_dir, stream)`` where the file-source ``stream``
    (``latestFirst=false`` + ``maxFilesPerTrigger=1``) delivers exactly
    one wave per micro-batch, in order. The caller owns ``stage_dir``
    cleanup (the stream reads it lazily)."""
    import os

    from cs744_big_data_system_spark.sources.readers import parquet_schema

    stage = replay_stage_dir()
    try:
        for i, w in enumerate(waves):
            tmp = os.path.join(stage, f"_stage{i}")
            w.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                p for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            dst = os.path.join(stage, f"wave{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            mtime = 1_700_000_000 + 100 * i
            os.utime(dst, (mtime, mtime))
        schema = parquet_schema(spark, os.path.join(stage, "wave0.parquet"))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "wave*.parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(stage)
        )
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    return stage, stream
