"""Unit tests for the r07 runtime-tuning helpers: scoped loop shuffle
width (plans/tuning.py), footer-sized replay state partitions, and the
tmpfs replay checkpoint dir."""

from __future__ import annotations

import os

import pytest


def test_loop_shuffle_partitions_scopes_and_restores(spark):
    from cs744_big_data_system_spark.plans.tuning import loop_shuffle_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with loop_shuffle_partitions(spark, 100):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"  # floor
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # one partition per 250k rows, ceiling = session value
    want = str(min(int(prev), 5))
    with loop_shuffle_partitions(spark, 250_000 * 5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == want
    with loop_shuffle_partitions(spark, 250_000 * 10_000):
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev  # capped
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_loop_shuffle_partitions_restores_on_error(spark):
    from cs744_big_data_system_spark.plans.tuning import loop_shuffle_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with loop_shuffle_partitions(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


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


def test_fan_out_small_scan_fires_on_split_starved_local_scan(spark, tmp_path):
    from cs744_big_data_system_spark.plans.tuning import fan_out_small_scan

    p = str(tmp_path / "t.parquet")
    spark.range(0, 1000, 1, 1).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    out = fan_out_small_scan(df, "id")
    # fires: the single-row-group file cannot fill the session's cores
    assert out.rdd.getNumPartitions() == par
    # rows identical, only placement changes
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_fan_out_small_scan_noop_when_scan_fills_cores(spark, tmp_path):
    from cs744_big_data_system_spark.plans.tuning import fan_out_small_scan

    p = str(tmp_path / "t.parquet")
    spark.range(0, 100, 1, 1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    # shrink the split size so the estimated natural splits >= cores:
    # the helper must trust the scan and add no exchange
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
    try:
        out = fan_out_small_scan(df, "id")
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_fan_out_small_scan_noop_on_derived_input(spark):
    from cs744_big_data_system_spark.plans.tuning import fan_out_small_scan

    # no input files (in-memory range) -> helper must leave it alone
    df = spark.range(10)
    assert fan_out_small_scan(df, "id") is df


def test_mem_capped_width_geometries():
    """r12 hardening (r11 verdict item 6): fan-out width is bounded by
    the heap's execution memory so harsh thread-per-heap geometries
    (the r11 vanilla-sweep marathon: local[32] over a default 1 GiB
    heap) no longer schedule 32 concurrent spill-thrashing tasks."""
    from cs744_big_data_system_spark.plans.tuning import _mem_capped_width

    assert _mem_capped_width(32, 48 << 30, 0.6) == 32  # realistic heap: no-op
    assert _mem_capped_width(32, 2 << 30, 0.6) == 32  # 2 GiB floor heap: no-op
    assert _mem_capped_width(32, 1 << 30, 0.6) == 13  # r11 marathon geometry
    assert _mem_capped_width(32, 600 << 20, 0.6) == 5  # r11 solo OOM probe
    assert _mem_capped_width(32, 100 << 20, 0.6) == 2  # floor
    assert _mem_capped_width(8, 1 << 30, 0.6) == 8  # cap above par: no-op
    assert _mem_capped_width(1, 48 << 30, 0.6) == 1  # floor never exceeds par


def test_fan_out_width_caps_by_driver_heap_only_on_local_master():
    """The driver's heap backs the fanned tasks only when the driver is
    the executor (``local[...]``); on a cluster master the width stays
    at defaultParallelism and the driver JVM is never asked. JVM-free:
    the session is a stub."""
    from types import SimpleNamespace

    from cs744_big_data_system_spark.plans.tuning import _fan_out_width

    class Jvm:
        asked = 0

        def __getattr__(self, name):
            Jvm.asked += 1
            runtime = SimpleNamespace(maxMemory=lambda: 1 << 30)  # 1 GiB heap
            return SimpleNamespace(
                lang=SimpleNamespace(Runtime=SimpleNamespace(getRuntime=lambda: runtime))
            )

    def session(master):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(master=master, defaultParallelism=32),
            conf=SimpleNamespace(get=lambda key, default=None: default),
            _jvm=Jvm(),
        )

    assert _fan_out_width(session("local[32]")) == 13  # _mem_capped_width geometry
    assert Jvm.asked == 1
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert _fan_out_width(session(master)) == 32
    assert Jvm.asked == 1


def test_fan_out_small_scan_skips_many_file_tables(spark, tmp_path):
    """r12 hardening (r11 verdict item 3): a table with many files has
    plenty of natural splits — the helper must return early instead of
    stat()ing every file on the driver at query-build time."""
    from cs744_big_data_system_spark.plans import tuning

    p = str(tmp_path / "many")
    n_files = max(tuning._MAX_FILES_TO_STAT, 4 * spark.sparkContext.defaultParallelism) + 4
    spark.range(0, n_files, 1, n_files).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert tuning.fan_out_small_scan(df, "id") is df
