"""Structured Streaming semantics: replay equivalence to batch and
watermark late-data discard (SURVEY.md §2.9 streaming bullets),
exercised through the real engine (file source → state store →
memory sink), not a batch simulation."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tests.conftest import SF_SMALL

SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("event_type", StringType(), True),
    ]
)


def _write(spark, path, rows):
    """Write ONE parquet file (not a Spark output directory) — the file
    stream source lists plain files and does not recurse into the
    dirs that ``df.write.parquet`` creates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "event_type": pa.array(cols[2], pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_replay_tumbling_equals_batch(spark):
    """availableNow replay of the events fixture == batch computation."""
    from cs744_big_data_system_spark.sources.readers import load_table
    from cs744_big_data_system_spark.streaming.windows import (
        replay_to_batch,
        tumbling_window_counts,
    )

    streamed = replay_to_batch(
        spark,
        f"{SF_SMALL}/events.parquet",
        lambda s: tumbling_window_counts(s, "10 minutes", watermark="365 days"),
        output_mode="complete",
    )
    batch = tumbling_window_counts(load_table(spark, SF_SMALL, "events"), "10 minutes")
    skey = sorted(map(tuple, streamed.collect()))
    bkey = sorted(map(tuple, batch.collect()))
    assert skey == bkey


def test_watermark_drops_late_rows(spark, tmp_path):
    """Real late-data discard: run 1 advances the watermark past a
    window; the late row arriving in run 2 (same checkpoint — the
    watermark persists in the state store) must NOT change it."""
    import tempfile
    import uuid

    d = tmp_path / "stream_in"
    d.mkdir()
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "wm_ckpt")
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .parquet(str(d))
            .withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("string").alias("ws"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    # run 1: two rows in [10:00,10:10) + one at 10:21 → watermark 10:16.
    _write(spark, str(d / "f1.parquet"), [(1, t(0), "a"), (2, t(5), "a"), (3, t(21), "a")])
    run()
    # run 2 (same checkpoint — watermark persisted): row 4 (10:02) is
    # LATE, behind the 10:16 watermark, and must be dropped before the
    # closed [10:00,10:10) window is finalized and emitted.
    _write(spark, str(d / "f2.parquet"), [(4, t(2), "a"), (5, t(40), "a")])
    run()
    got = {r.ws: r.n for r in spark.read.parquet(out).collect()}
    # the closed [10:00,10:10) window keeps count 2 — row 4 was dropped.
    assert got.get("2024-01-01 10:00:00") == 2


def test_stream_dedup_bounded_state(spark):
    from cs744_big_data_system_spark.sources.readers import load_table
    from cs744_big_data_system_spark.streaming.windows import replay_to_batch, stream_dedup

    out = replay_to_batch(
        spark,
        f"{SF_SMALL}/events.parquet",
        lambda s: stream_dedup(s, ["user_id", "event_type"], watermark="365 days"),
        output_mode="append",
    )
    batch = load_table(spark, SF_SMALL, "events").dropDuplicates(["user_id", "event_type"])
    assert out.count() == batch.count()


def test_session_window_batch_matches_gaps_and_islands(spark):
    """Spark's native session_window (batch mode) must produce the same
    session boundaries as the gaps-and-islands sessionize operator."""
    from cs744_big_data_system_spark.operators.relational import sessionize
    from cs744_big_data_system_spark.sources.readers import load_table
    from cs744_big_data_system_spark.streaming.windows import session_window_counts

    ev = load_table(spark, SF_SMALL, "events")
    native = session_window_counts(ev, gap="30 minutes")
    gi = (
        sessionize(ev, gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
             F.count(F.lit(1)).alias("n_events"))
    )
    n_key = sorted((r.user_id, r.session_start, r.n_events) for r in native.collect())
    g_key = sorted((r.user_id, r.session_start, r.n_events) for r in gi.collect())
    assert n_key == g_key


def test_replay_waves_drops_late_rows_single_run(spark):
    """Single availableNow run over ordered waves: the late row in
    wave 3 is behind the watermark established by wave 1 (the
    state-operator's late filter lags the reported watermark by one
    batch — hence three waves) and must vanish; the fresh row in the
    same wave survives."""
    from cs744_big_data_system_spark.streaming.windows import (
        replay_waves_to_batch,
        tumbling_window_counts,
    )

    t = lambda day, h=0: dt.datetime(2024, 1, day, h)
    mk = lambda rows: spark.createDataFrame(
        [(i, ts, "a", 1.0) for i, ts in enumerate(rows)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    waves = [
        mk([t(5), t(5, 1), t(5, 2)]),   # establishes watermark ~Jan 5
        mk([t(6)]),                     # propagates it into the filter
        mk([t(1), t(7)]),               # Jan 1 is LATE; Jan 7 is fresh
    ]
    updates = replay_waves_to_batch(
        spark,
        waves,
        lambda s: tumbling_window_counts(s, window="10 minutes", watermark="1 hour"),
        output_mode="update",
    )
    starts = {r.window_start for r in updates.collect()}
    assert "2024-01-01 00:00:00" not in starts   # late row dropped
    assert "2024-01-07 00:00:00" in starts       # fresh row kept
    assert "2024-01-05 00:00:00" in starts


def test_replay_drain_sizes_state_partitions_and_restores_conf(spark):
    """The replay drain lowers spark.sql.shuffle.partitions to
    REPLAY_STATE_PARTITIONS for the streaming query (32 state-store
    tasks per micro-batch was pure overhead on few-thousand-row waves)
    and MUST restore the session value afterwards — including when the
    drained plan fails — so batch shuffle sizing is untouched."""
    import pytest

    from cs744_big_data_system_spark.streaming import windows as W

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    waves = [mk([("a", 1), ("b", 2)]), mk([("a", 3)])]
    out = W.replay_waves_to_batch(
        spark,
        waves,
        lambda s: s.groupBy("k").count(),
        output_mode="update",
    )
    # the stateful agg ran under the replay sizing...
    assert out.count() >= 2
    # ...and the session conf is back to what the fixture set
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # failure path: a plan that fails inside the drain's start() (the
    # unsupported-operation check rejects complete mode without an
    # aggregation) must still restore the conf via the finally
    with pytest.raises(Exception):
        W.replay_waves_to_batch(
            spark, waves, lambda s: s, output_mode="complete"
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_drain_guard_resets_when_setup_raises(spark, monkeypatch):
    """ADVICE r07: if checkpoint-dir creation raises BEFORE the drain's
    try block, _DRAIN_ACTIVE must still reset — otherwise every later
    drain in the session raises 'not reentrant' forever."""
    import pytest

    from cs744_big_data_system_spark.streaming import windows as W

    def boom():
        raise OSError("no space left on device")

    monkeypatch.setattr(W, "replay_checkpoint_dir", boom)
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    waves = [mk([("a", 1), ("b", 2)]), mk([("a", 3)])]
    with pytest.raises(OSError):
        W.replay_waves_to_batch(
            spark, waves, lambda s: s.groupBy("k").count(), output_mode="update"
        )
    assert W._DRAIN_ACTIVE is False
    monkeypatch.undo()
    # the session can still drain after the failed setup
    out = W.replay_waves_to_batch(
        spark, waves, lambda s: s.groupBy("k").count(), output_mode="update"
    )
    assert out.count() >= 2


def test_tmpfs_base_guards_capacity(monkeypatch):
    """ADVICE r09: replay staging must not pick /dev/shm when it lacks
    headroom — a coalesce(1) parquet wave into a nearly-full tmpfs
    ENOSPCs mid-replay with no fallback, where plain disk would have
    succeeded."""
    import os

    from cs744_big_data_system_spark.streaming import windows as W

    class FakeStat:
        def __init__(self, free):
            self.f_bavail = free
            self.f_frsize = 1

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        import pytest

        pytest.skip("/dev/shm not available on this host")

    monkeypatch.setattr(os, "statvfs",
                        lambda p: FakeStat(W._TMPFS_MIN_FREE_BYTES - 1))
    assert W._tmpfs_base() is None
    monkeypatch.setattr(os, "statvfs",
                        lambda p: FakeStat(W._TMPFS_MIN_FREE_BYTES + 1))
    assert W._tmpfs_base() == "/dev/shm"
    # statvfs itself failing must degrade to disk, not crash the replay
    def boom(p):
        raise OSError("statvfs failed")

    monkeypatch.setattr(os, "statvfs", boom)
    assert W._tmpfs_base() is None
    monkeypatch.undo()
    # both helpers honor the guard end-to-end: dirs are creatable and
    # land on tmpfs exactly when the guard allows it
    base = W._tmpfs_base()
    d1, d2 = W.replay_checkpoint_dir(), W.replay_stage_dir()
    try:
        if base:
            assert d1.startswith("/dev/shm/") and d2.startswith("/dev/shm/")
        assert os.path.isdir(d1) and os.path.isdir(d2)
    finally:
        os.rmdir(d1)
        os.rmdir(d2)


def test_stream_attribution_state_carries_across_batches(spark):
    """A touch in wave 0 must credit a purchase arriving in wave 1 —
    the state-store carry the batch window gets for free — and a
    touch in a LATER wave must never credit an earlier purchase."""
    import datetime as dt

    from cs744_big_data_system_spark.streaming.stateful import last_touch_attribution
    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    t0 = dt.datetime(2024, 1, 1)
    us = lambda s: int((t0 + dt.timedelta(seconds=s)).timestamp() * 1_000_000)
    cols = ["event_id", "ts_us", "user_id", "event_type"]
    wave0 = spark.createDataFrame(
        [(1, us(0), 7, "click"), (2, us(5), 8, "purchase")], cols
    )
    wave1 = spark.createDataFrame(
        [(3, us(10), 7, "purchase"), (4, us(15), 8, "view")], cols
    )
    out = replay_waves_to_batch(
        spark, [wave0, wave1], last_touch_attribution, output_mode="update"
    )
    rows = {r.purchase_event_id: (r.touch_event_id, r.touch_type, r.latency_s)
            for r in out.collect()}
    assert rows == {3: (1, "click", 10)}  # user 8's purchase predates any touch


def test_stream_minhash_dedup_flags_planted_near_dup(spark, tmp_path):
    """Dedup on ingest: planted near-dups must come out flagged against
    the FIRST (smallest doc_id) copy after a real streaming replay —
    the original is kept, later arrivals are candidates — and an
    unrelated doc stays clean."""
    from pyspark.sql import functions as F

    from cs744_big_data_system_spark.operators.dedup import row_minhash_bands
    from cs744_big_data_system_spark.streaming.windows import replay_to_batch

    base = (
        "the quick brown fox jumps over the lazy dog while the cat sleeps "
        "on the warm mat near the old oak door in the quiet house"
    )
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, base.upper(), "en", "s1", len(base)),   # canonical dup
        (2, base.replace("quiet house", "noisy barn"), "en", "s2", len(base)),
        (3, "completely different words about spark engines and columnar scans", "en", "s3", 60),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).coalesce(1).write.mode("overwrite").parquet(path)

    buckets = replay_to_batch(
        spark,
        path,
        lambda s: row_minhash_bands(s, n=3, num_hashes=32, bands=8)
        .groupBy("band_idx", "band_hash")
        .agg(F.min("doc_id").alias("first_doc")),
        output_mode="complete",
    )
    docs = spark.read.parquet(path)
    flags = {
        r.doc_id: r.is_dup
        for r in row_minhash_bands(docs, n=3, num_hashes=32, bands=8)
        .join(buckets, ["band_idx", "band_hash"])
        .groupBy("doc_id")
        .agg((F.min("first_doc") < F.col("doc_id")).cast("int").alias("is_dup"))
        .collect()
    }
    assert flags[0] == 0        # first copy is kept
    assert flags[1] == 1        # exact dup (canonicalized) flagged
    assert flags[2] == 1        # near dup shares ≥1 band with doc 0
    assert flags[3] == 0        # unrelated doc untouched


def test_rocksdb_state_store_equals_default_provider(spark):
    """The RocksDB state store (the large-state scale path: state
    spills to local disk instead of living on the executor heap, the
    provider production deployments run) must produce bit-identical
    results to the default HDFS-backed provider. rocksdbjni ships in
    the Spark 4 distro, so this is a conf flip, not a dependency."""
    from cs744_big_data_system_spark.sources.readers import load_table
    from cs744_big_data_system_spark.streaming.windows import (
        replay_to_batch,
        tumbling_window_counts,
    )

    def run():
        return sorted(
            map(
                tuple,
                replay_to_batch(
                    spark,
                    f"{SF_SMALL}/events.parquet",
                    lambda s: tumbling_window_counts(s, "10 minutes", watermark="365 days"),
                    output_mode="complete",
                ).collect(),
            )
        )

    default_out = run()
    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocksdb_out = run()
    finally:
        spark.conf.unset(key)
    assert rocksdb_out == default_out and len(default_out) > 0


def test_parquet_state_partitions_file_and_dir(spark, tmp_path):
    from cs744_big_data_system_spark.streaming.windows import (
        _rows_to_state_partitions,
        parquet_state_partitions,
    )

    # sizing law: <=128k rows -> 8; +1 per 16k; cap 32
    assert _rows_to_state_partitions(0) == "8"
    assert _rows_to_state_partitions(128_000) == "8"
    assert _rows_to_state_partitions(160_000) == "10"
    assert _rows_to_state_partitions(10_000_000) == "32"

    d = str(tmp_path / "t")
    spark.range(1000).coalesce(2).write.parquet(d)
    assert parquet_state_partitions(d) == "8"
    one = next(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert parquet_state_partitions(one) == "8"


def test_replay_checkpoint_dir_prefers_tmpfs():
    import shutil

    from cs744_big_data_system_spark.streaming.windows import replay_checkpoint_dir

    d = replay_checkpoint_dir()
    try:
        assert os.path.isdir(d)
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            assert d.startswith("/dev/shm/"), d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_drain_stream_reentrancy_guard(spark):
    """A nested drain must raise loudly instead of silently running the
    session at the inner width (ADVICE r06)."""
    from cs744_big_data_system_spark.streaming import windows as W

    assert not W._DRAIN_ACTIVE
    W._DRAIN_ACTIVE = True
    try:
        with pytest.raises(RuntimeError, match="not reentrant"):
            W._drain_stream(spark, None, "update")
    finally:
        W._DRAIN_ACTIVE = False
