"""Streaming, graph/iterative, and multimodal workloads.

The streaming entries run the REAL Structured Streaming engine
(file-source replay, availableNow trigger, memory sink) and are still
oracle-checked where the watermark is loose enough to admit every row.
PageRank and LSH/multimodal entries are rows-only (iterative /
approximate / stubbed-decode — SURVEY.md §5.2 fallback), with exact
golden tests in tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cs744_big_data_system_spark.graph.pagerank import pagerank, pagerank_local
from cs744_big_data_system_spark.graph.synthetic import synthetic_graph
from cs744_big_data_system_spark.operators.multimodal import extract_features, synthetic_assets
from cs744_big_data_system_spark.sources.readers import (
    edges_from_events,
    load_table,
    parquet_schema,
)
from cs744_big_data_system_spark.streaming.stateful import running_counts
from cs744_big_data_system_spark.streaming.windows import (
    replay_checkpoint_dir,
    replay_stage_dir,
    replay_to_batch,
    session_window_counts,
    sliding_window_counts,
    stream_dedup,
    tumbling_window_counts,
)


# --- Batch tumbling window (F.window) — oracle: time_bucket ---
def q_window_tumbling(spark, sf_dir):
    return tumbling_window_counts(load_table(spark, sf_dir, "events"), window="10 minutes")


SQL_WINDOW_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# --- Batch sliding window (F.window with slide) ---
def q_window_sliding(spark, sf_dir):
    return sliding_window_counts(
        load_table(spark, sf_dir, "events"), window="10 minutes", slide="5 minutes"
    )


SQL_WINDOW_SLIDING = """
WITH b AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS s5, event_type FROM events
), expanded AS (
  SELECT s5 AS ws, event_type FROM b
  UNION ALL
  SELECT s5 - INTERVAL '5 minutes' AS ws, event_type FROM b
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n_events
FROM expanded GROUP BY 1, 2
"""


# --- TRUE streaming replay: tumbling windows through the streaming engine ---
def q_stream_tumbling_replay(spark, sf_dir):
    """Micro-batch replay of events.parquet with a loose watermark (no
    late drops), so the streaming result must equal the batch oracle —
    proof the state-store path computes the same answer."""
    return replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: tumbling_window_counts(s, window="10 minutes", watermark="365 days"),
        output_mode="complete",
    )


# --- Streaming lakehouse ingestion: stream → txlog, exactly-once ---
def q_stream_txlog_ingest(spark, sf_dir):
    """End-to-end streaming ingestion into the transaction-log table:
    events replayed as 3 ordered micro-batches, each committed by
    foreachBatch via txlog_ingest_batch (the commit carries the batch
    id, so the LOG is the idempotence ledger — a redelivered batch
    no-ops, which the query proves by re-ingesting batch 0's data
    after the stream drains and asserting nothing changed). Output is
    an aggregate over the final snapshot; since every event lands
    exactly once, the oracle is the plain batch aggregate."""
    import os
    import shutil
    import tempfile

    from cs744_big_data_system_spark.sources.txlog import (
        txlog_ingest_batch,
        txlog_read,
    )

    table = os.path.join(tempfile.gettempdir(), f"txlog_ingest_{os.getpid()}")
    shutil.rmtree(table, ignore_errors=True)
    stage = replay_stage_dir("txlog_ingest_waves_")  # tmpfs (see streaming/windows.py)
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for i in range(3):
            wave = ev.filter(F.col("event_id") % 3 == i)
            tmp = os.path.join(stage, f"_stage{i}")
            wave.coalesce(1).write.mode("overwrite").parquet(tmp)
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
        ckpt = replay_checkpoint_dir()  # throwaway replay ckpt -> tmpfs (see streaming/windows.py)
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: txlog_ingest_batch(bdf, table, bid)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)
        # redelivery drill: batch 0 arrives again → must be a no-op
        assert (
            txlog_ingest_batch(ev.filter(F.col("event_id") % 3 == 0), table, 0) is None
        )
        snap = txlog_read(spark, table)
        return (
            snap.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


SQL_STREAM_TXLOG_INGEST = """
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


# --- TRUE streaming replay: per-window top-k downstream of the stream ---
def q_stream_window_topk(spark, sf_dir):
    """Top-2 event types per tumbling window: the windowed counts run
    INSIDE the streaming engine (state store), the rank runs batch-side
    on the drained result — the standard lambda-free layering (rank is
    not an incremental operator; the stream maintains the additive
    aggregate, the consumer ranks the final state). Deterministic
    (n_events desc, event_type asc) cut, so oracle-exact."""
    counts = replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: tumbling_window_counts(s, window="10 minutes", watermark="365 days"),
        output_mode="complete",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("window_start", "event_type", "n_events", "rnk")
    )


SQL_STREAM_WINDOW_TOPK = """
WITH counts AS (
  SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type ASC) AS rnk
  FROM counts
) WHERE rnk <= 2
"""


# --- TRUE streaming replay: sliding windows through the streaming engine ---
def q_stream_sliding_replay(spark, sf_dir):
    """Sliding (overlapping) windows through the micro-batch engine —
    each event updates window/slide window states; complete-mode output
    must equal the batch oracle."""
    return replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: sliding_window_counts(
            s, window="10 minutes", slide="5 minutes", watermark="365 days"
        ),
        output_mode="complete",
    )


# --- TRUE streaming replay: session windows through the streaming engine ---
def q_stream_session_replay(spark, sf_dir):
    """Per-user session windows (30-min gap) computed by the REAL
    streaming session_window operator over a micro-batch replay.
    Spark semantics: an event whose ts is >= the open window's end
    (last_ts + gap) starts a NEW session — the oracle mirrors the >=."""
    return replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: session_window_counts(s, gap="30 minutes", watermark="365 days"),
        output_mode="complete",
    )


SQL_STREAM_SESSION = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


# --- TRUE streaming replay: bounded-state dedup through the engine ---
def q_stream_dedup_replay(spark, sf_dir):
    """dropDuplicates on (user_id, event_type) through the streaming
    state store, then a batch count of surviving rows per event_type.
    Which physical row survives a key collision is batch-order
    dependent, so the query outputs only key-level counts — those are
    deterministic and equal DISTINCT semantics in the oracle."""
    deduped = replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: stream_dedup(s, ["user_id", "event_type"], watermark="365 days").select(
            "user_id", "event_type"
        ),
        output_mode="append",
    )
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_user_type_pairs"))


SQL_STREAM_DEDUP = """
SELECT event_type, count(*) AS n_user_type_pairs
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


# The streamed sketch is bit-identical to the batch one, so the entry
# shares the batch oracle (deferred import to avoid a cycle at module
# load — warehouse imports nothing from this module).
def _sql_stream_cms() -> str:
    from cs744_big_data_system_spark.workloads.warehouse import SQL_CMS_HEAVY_HITTERS

    return SQL_CMS_HEAVY_HITTERS


_SQL_STREAM_CMS = _sql_stream_cms()


# --- TRUE streaming replay: count-min sketch in the state store ---
def q_stream_cms_replay(spark, sf_dir):
    """Count-min sketch maintained INCREMENTALLY by the streaming
    engine: the d·w-row bucket aggregation runs as a streaming groupBy
    in complete mode, so each micro-batch folds its events into the
    state store's counters — the sketch-mergeability property exercised
    through the real incremental path rather than one batch pass. The
    estimate/rank stage then runs batch-side on the final sketch.
    Deterministic md5 buckets ⇒ the result is bit-identical to the
    batch cms_heavy_hitters and shares its oracle."""
    from cs744_big_data_system_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    sketch = replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: count_min_build(s, "user_id"),
        output_mode="complete",
    )
    events = load_table(spark, sf_dir, "events")
    truth = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = count_min_estimate(truth.select("user_id"), sketch, "user_id")
    return (
        est.join(truth, "user_id")
        .orderBy(F.col("est").desc(), F.col("user_id").asc())
        .limit(20)
        .select("user_id", "est", "true_cnt")
    )


# --- TRUE streaming replay: stream-stream interval join ---
def q_stream_stream_join_replay(spark, sf_dir):
    """Stream⋈stream inner join with an event-time interval condition:
    each purchase matched to the same user's clicks in the preceding
    30 minutes. Both sides are derived from one replayed stream; the
    join keeps watermark-bounded state per side (at scale the interval
    bound is what caps state size). Inner joins emit on match, so the
    availableNow replay must equal the batch interval join."""

    def tf(s):
        purchases = (
            s.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", "365 days")
        )
        clicks = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"),
            )
            .withWatermark("c_ts", "365 days")
        )
        j = purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
            "inner",
        )
        return j.select(
            "purchase_id", "click_id", F.col("p_user").alias("user_id")
        )

    return replay_to_batch(spark, f"{sf_dir}/events.parquet", tf, output_mode="append")


SQL_STREAM_STREAM_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
"""


# --- Stream-stream LEFT OUTER join: null-matches emitted by watermark ---
def q_stream_outer_join_replay(spark, sf_dir):
    """Left-outer stream⋈stream interval join — the outer variant's
    null-matches only materialize when the watermark closes a left
    row's join window, so this exercises state-eviction emission, not
    just match emission. Determinism recipe: two ordered real waves
    plus THREE far-future sentinel waves (one synthetic row per side,
    filtered out of the output). The first sentinel batch evicts rows
    below the pre-sentinel watermark; the watermark raised by it only
    takes effect in the NEXT batch, and eviction of the last slice
    needs one more — so two extra sentinel batches guarantee every
    real unmatched purchase emits (verified per-batch). The streaming
    result then equals the plain batch left join, bit for bit."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    wave0 = ev.filter(F.col("ts") < F.lit("2024-01-10"))
    wave1 = ev.filter(F.col("ts") >= F.lit("2024-01-10"))
    sentinels = [
        spark.createDataFrame(
            [(-(1 + 10 * i), "purchase"), (-(2 + 10 * i), "click")],
            ["event_id", "event_type"],
        ).select(
            "event_id",
            F.lit(f"{2030 + i}-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
        )
        for i in range(3)
    ]

    def tf(s):
        p = (
            s.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        j = p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        # NOTE: do NOT filter the sentinels out here — Catalyst pushes
        # the filter below the EventTimeWatermark operator, removing
        # the sentinel before it can advance the purchase-side
        # watermark, which silently un-closes the last real row's join
        # window (observed; the filter belongs on the batch result).
        return j.select(
            "purchase_id", "click_id", F.col("p_user").alias("user_id")
        )

    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    out = replay_waves_to_batch(
        spark, [wave0, wave1, *sentinels], tf, output_mode="append"
    )
    return out.filter(F.col("purchase_id") >= 0)


SQL_STREAM_OUTER_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
"""


# --- FULL outer stream-stream join: null-matches on BOTH eviction paths ---
def q_stream_full_outer_join_replay(spark, sf_dir):
    """FULL outer stream⋈stream interval join — completes the join
    family (inner / left-outer / full-outer): unmatched PURCHASES emit
    on purchase-state eviction AND unmatched CLICKS on click-state
    eviction, so both sides' watermark-driven emission paths are
    exercised. Same sentinel-wave determinism recipe as the left-outer
    entry (q_stream_outer_join_replay — three far-future waves close
    every real window on both sides); the replayed result equals the
    batch full join bit for bit."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    wave0 = ev.filter(F.col("ts") < F.lit("2024-01-10"))
    wave1 = ev.filter(F.col("ts") >= F.lit("2024-01-10"))
    sentinels = [
        spark.createDataFrame(
            [(-(1 + 10 * i), "purchase"), (-(2 + 10 * i), "click")],
            ["event_id", "event_type"],
        ).select(
            "event_id",
            F.lit(f"{2030 + i}-01-01 00:00:00").cast("timestamp").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
        )
        for i in range(3)
    ]

    def tf(s):
        p = (
            s.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        j = p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
            "full_outer",
        )
        # Sentinel filtering stays OUT of the streaming plan (pushdown
        # would strip them below EventTimeWatermark — see the left-
        # outer entry's note).
        return j.select(
            "purchase_id", "click_id",
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        )

    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    out = replay_waves_to_batch(
        spark, [wave0, wave1, *sentinels], tf, output_mode="append"
    )
    return out.filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
    )


SQL_STREAM_FULL_OUTER_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       coalesce(p.user_id, c.user_id) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
"""


# --- Watermark late-data drop: TIGHT watermark, deterministic batches ---
#: wave boundaries and hold-back rule for the late-data replay
#: (mirrored verbatim in the oracle SQL).
LATE_HOLD_BEFORE = "2024-01-08 00:00:00"  # held-back (late) rows live here
LATE_SPLIT1 = "2024-01-10 00:00:00"       # wave0 | wave1 boundary
LATE_SPLIT2 = "2024-01-15 00:00:00"       # wave1 | wave2 boundary
LATE_HOLD_MOD = 97


def q_stream_late_drop(spark, sf_dir):
    """The one streaming query whose watermark actually BITES: the
    fixture replays as three ordered micro-batches — two on-time waves,
    then a tail wave carrying deterministically held-back rows
    (event_id % 97 == 0, ts < Jan 8) that are DAYS older than the
    1-hour watermark. The streaming aggregation must drop exactly the
    held-back rows.

    Spark advances the state-operator's late-record filter one batch
    BEHIND the reported watermark (the filter for batch N uses event
    times from batches <= N-2) — hence three waves, and margins wide
    enough (>= 2 days vs a 1 h delay) that the drop set is identical
    whether the filter lags zero or one batch. That makes the oracle
    exact: kept = everything except the held-back rows.

    Update-mode memory sink: each batch emits updated (window, type)
    counts; the final count per key is the max over updates (counts
    only grow).
    """
    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    held = (F.col("event_id") % LATE_HOLD_MOD == 0) & (
        F.col("ts") < F.lit(LATE_HOLD_BEFORE)
    )
    wave0 = ev.filter((F.col("ts") < F.lit(LATE_SPLIT1)) & ~held)
    wave1 = ev.filter(
        (F.col("ts") >= F.lit(LATE_SPLIT1)) & (F.col("ts") < F.lit(LATE_SPLIT2))
    )
    wave2 = ev.filter((F.col("ts") >= F.lit(LATE_SPLIT2)) | held)
    updates = replay_waves_to_batch(
        spark,
        [wave0, wave1, wave2],
        lambda s: tumbling_window_counts(s, window="10 minutes", watermark="1 hour"),
        output_mode="update",
    )
    return (
        updates.groupBy("window_start", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


SQL_STREAM_LATE_DROP = f"""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events
FROM events
WHERE NOT (event_id % {LATE_HOLD_MOD} = 0 AND ts < TIMESTAMP '{LATE_HOLD_BEFORE}')
GROUP BY 1, 2
"""


# --- Custom stateful operator: applyInPandasWithState running counts ---
def q_stream_stateful_counts(spark, sf_dir):
    """Running per-user counts held in explicit group state
    (streaming/stateful.py). The memory sink accumulates one update row
    per (key, micro-batch); the final per-key count is the max — equal
    to the plain batch group-by the oracle runs, regardless of how
    availableNow split the input into batches."""
    updates = replay_to_batch(
        spark,
        f"{sf_dir}/events.parquet",
        # Pre-project to the two columns the stateful kernel touches
        # (guide §4: applyInPandasWithState ships the ENTIRE child
        # schema through Arrow to the Python worker — column pruning
        # cannot see inside the pandas function, so without this the
        # wide props JSON column crosses the boundary for every row).
        lambda s: running_counts(
            s.select("user_id", "ts").withWatermark("ts", "365 days"),
            key_col="user_id",
        ),
        output_mode="update",
    )
    return updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


SQL_STREAM_STATEFUL = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


# --- Streaming last-touch attribution (custom state, batch-SQL oracle) ---
def q_stream_attribution_replay(spark, sf_dir):
    """Online last-touch attribution through the state store
    (streaming/stateful.last_touch_attribution): per-user state is ONE
    latest-touch triple; purchases are credited as they arrive. Three
    time-ordered waves make the replay deterministic, and the union of
    update rows equals the BATCH attribution query bit-for-bit — the
    oracle is the same SQL as `attribution_last_touch`, proving the
    online and offline formulations agree."""
    from cs744_big_data_system_spark.streaming.stateful import last_touch_attribution
    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
        )
    )
    cuts = [
        F.lit("2024-01-11 00:00:00").cast("timestamp"),
        F.lit("2024-01-21 00:00:00").cast("timestamp"),
    ]
    cuts_us = [F.unix_micros(c) for c in cuts]
    waves = [
        ev.filter(F.col("ts_us") < cuts_us[0]),
        ev.filter((F.col("ts_us") >= cuts_us[0]) & (F.col("ts_us") < cuts_us[1])),
        ev.filter(F.col("ts_us") >= cuts_us[1]),
    ]
    out = replay_waves_to_batch(
        spark, waves, last_touch_attribution, output_mode="update"
    )
    return out.orderBy("purchase_event_id")


def _sql_stream_attribution() -> str:
    from cs744_big_data_system_spark.workloads.pipeline_ext import (
        SQL_ATTRIBUTION_LAST_TOUCH,
    )

    return SQL_ATTRIBUTION_LAST_TOUCH


SQL_STREAM_ATTRIBUTION = _sql_stream_attribution()


# --- Streaming custom Python data source: offset-tracked generator ---
def q_synthdocs_stream_profile(spark, sf_dir):
    """The synthdocs custom source consumed through its STREAMING
    reader (SimpleDataSourceStreamReader — offset log, exact replay
    via readBetweenOffsets): availableNow drains the announced wave
    into a memory sink; per-lang doc counts + word totals equal the
    oracle's re-derivation of the same md5 corpus. Restart/resume
    semantics are exercised in tests/test_sources_ml.py."""
    import uuid

    from cs744_big_data_system_spark.sources.generator import SynthDocsDataSource

    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception:
        pass
    name = f"synthdocs_stream_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.format("synthdocs")
        .option("n", 500)
        .option("batch", 500)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
        )
        .orderBy("lang")
    )


def _sql_synthdocs_stream() -> str:
    from cs744_big_data_system_spark.workloads.llm import _sql_synthdocs

    return f"""
WITH docs AS ({_sql_synthdocs()})
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM docs GROUP BY lang ORDER BY lang
"""


SQL_SYNTHDOCS_STREAM = _sql_synthdocs_stream()


# --- PageRank (reference assignment1/part3 semantics) — iterative, rows-only ---
def q_pagerank_events(spark, sf_dir):
    """Graph derived from the events fixture (consecutive event types
    per user — sources/readers.edges_from_events); 10 iterations,
    damping 0.85, matching assignment1/part3/task1/task1.py:39,52.
    Golden-graph parity tests: tests/test_pagerank.py."""
    edges = edges_from_events(load_table(spark, sf_dir, "events"))
    # The event-type graph has ~5 nodes and <=25 weighted links: Spark
    # builds the links once and the ten supersteps run on the driver, so
    # the call costs the same few jobs as one superstep would.
    ranks = pagerank_local(edges, iterations=10, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _sql_pagerank_events(iterations: int = 10, damping: float = 0.85) -> str:
    """Unrolled mirror of graph/pagerank.pagerank_local on the
    events-derived graph — PageRank hash-checked (the 6th hash-verified
    iterative kernel, and the reference's own flagship). Float parity
    notes: the damping constants are emitted via Python float repr, so
    DuckDB parses the IDENTICAL doubles the kernel's 1.0 - damping
    uses; the per-node contribution sums run over the event-type graph's handful
    of in-edges, so accumulation-order noise is ~1e-16 against a 1e-6
    rounding bucket."""
    parts = [
        """e AS (
  SELECT prev_type AS src, event_type AS dst FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  ) WHERE prev_type IS NOT NULL
), links0 AS (
  SELECT src, dst, count(*) AS n_para FROM e GROUP BY 1, 2
), degree AS (
  SELECT src, CAST(sum(n_para) AS BIGINT) AS out_degree FROM links0 GROUP BY 1
), l AS MATERIALIZED (
  SELECT l.src, l.dst, l.n_para, d.out_degree FROM links0 l JOIN degree d USING (src)
), r0 AS (SELECT src AS node, 1.0 AS rank FROM degree)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
  SELECT l.dst AS node,
         {1.0 - damping!r} + {damping!r} * sum(r.rank * l.n_para / l.out_degree) AS rank
  FROM l JOIN r{i - 1} r ON r.node = l.src GROUP BY l.dst
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


SQL_PAGERANK_EVENTS = _sql_pagerank_events()


# --- HITS hubs & authorities: the 10th hash-verified iterative kernel ---
def q_graph_hits(spark, sf_dir):
    """HITS on the events-derived event-type graph (graph/hits.py):
    5 max-normalized rounds. Max-normalization makes each round's only
    float aggregate the per-node contribution sum (~1e-16 noise on the
    small node set vs the 1e-6 bucket), so the whole iteration
    hash-checks against a 5-round unrolled CTE oracle — the 10th
    hash-verified iterative kernel, and the second link-analysis one
    beside PageRank."""
    from cs744_big_data_system_spark.graph.hits import hits

    edges = edges_from_events(load_table(spark, sf_dir, "events"))
    out = hits(edges, iterations=5)
    return out.select(
        "node", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    ).orderBy("node")


def _sql_graph_hits(iterations: int = 5) -> str:
    parts = [
        """e AS (
  SELECT prev_type AS src, event_type AS dst FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  ) WHERE prev_type IS NOT NULL
), w AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e GROUP BY 1, 2
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM w UNION ALL SELECT dst FROM w)
), h0 AS (SELECT node, 1.0 AS hub FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(s.raw, 0.0) AS raw
  FROM nodes n LEFT JOIN (
    SELECT w.dst AS node, sum(h.hub * w.w) AS raw
    FROM w JOIN h{i - 1} h ON h.node = w.src GROUP BY w.dst) s USING (node)
), a{i} AS MATERIALIZED (
  SELECT node, raw / (SELECT max(raw) FROM ar{i}) AS auth FROM ar{i}
), hr{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(s.raw, 0.0) AS raw
  FROM nodes n LEFT JOIN (
    SELECT w.src AS node, sum(a.auth * w.w) AS raw
    FROM w JOIN a{i} a ON a.node = w.dst GROUP BY w.src) s USING (node)
), h{i} AS MATERIALIZED (
  SELECT node, raw / (SELECT max(raw) FROM hr{i}) AS hub FROM hr{i}
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT a.node, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub
FROM a{iterations} a JOIN h{iterations} h USING (node) ORDER BY a.node"""
    )


SQL_GRAPH_HITS = _sql_graph_hits()


# --- PageRank on a synthetic large graph: the co-partitioned regime ---
def q_pagerank_synthetic(spark, sf_dir):
    """240k-edge synthetic graph (graph/synthetic.py), 5 supersteps in
    the LARGE-graph regime: num_partitions matched to the session's
    shuffle width, so the cached weighted-links table satisfies the
    join's partitioning and never re-shuffles — the only per-superstep
    shuffles are the rank vector's. This is the plan you run when the
    links don't fit the driver; pagerank_events above runs its
    supersteps on the driver. Plan-asserted in tests/test_plans.py;
    rows-only here (iterative fixed-point)."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = synthetic_graph(spark, num_nodes=30_000, avg_out_degree=8)
    ranks = pagerank(edges, iterations=5, damping=0.85, num_partitions=n_shuffle)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --- Same graph, supersteps on the driver: the pair for comparison ---
def q_pagerank_synthetic_broadcast(spark, sf_dir):
    """Identical graph and supersteps through graph/pagerank.pagerank_local:
    the 240k edges collapse to weighted links that fit the driver, so
    this pair compares the two regimes on one graph. The registry name
    is kept from the broadcast-ranks regime this kernel replaced."""
    edges = synthetic_graph(spark, num_nodes=30_000, avg_out_degree=8)
    ranks = pagerank_local(edges, iterations=5, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --- Triangle counting + degree stats (degree-oriented, skew-bounded) ---
#: Deterministic hash-generated graph both engines reproduce exactly:
#: nodes 0..N-1, D directed edges per node dst = (src*A + j*B) mod N.
TRI_N, TRI_D, TRI_A, TRI_B = 2000, 6, 17, 29


def _hash_graph(spark):
    from pyspark.sql import functions as F

    return (
        spark.range(TRI_N)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(TRI_D))).alias("j"),
        )
        .select(
            "src",
            (
                (F.col("src") * F.col("src") * TRI_A + F.col("j") * TRI_B) % TRI_N
            ).alias("dst"),
        )
    )


# quadratic in src so IN-degrees spread (a linear map keeps the graph
# regular and the degree histogram degenerate)
_SQL_HASH_GRAPH = f"""
  SELECT CAST(t.range AS BIGINT) AS src,
         CAST((t.range * t.range * {TRI_A} + s.range * {TRI_B}) % {TRI_N} AS BIGINT) AS dst
  FROM range({TRI_N}) t CROSS JOIN range(1, {TRI_D + 1}) s
"""

_SQL_CANON_GRAPH = f"""
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst
"""


def q_graph_triangles(spark, sf_dir):
    """Exact triangle count on the hash graph via the degree-oriented
    wedge join (graph/triangles.py — out-degree bounded O(sqrt m) under
    any skew). The oracle counts the same triangles with the simple
    id-ordered triple join — different algorithm, same answer."""
    from cs744_big_data_system_spark.graph.triangles import triangle_count

    return triangle_count(_hash_graph(spark))


SQL_GRAPH_TRIANGLES = f"""
WITH canon AS ({_SQL_CANON_GRAPH})
SELECT (SELECT count(DISTINCT node) FROM (
          SELECT u AS node FROM canon UNION ALL SELECT v FROM canon))  AS n_nodes,
       (SELECT count(*) FROM canon) AS n_edges,
       (SELECT count(*)
        FROM canon ab
        JOIN canon bc ON bc.u = ab.v
        JOIN canon ac ON ac.u = ab.u AND ac.v = bc.v) AS n_triangles
"""


def q_graph_two_hop(spark, sf_dir):
    """Distinct two-hop (friend-of-friend) neighborhood size per node
    on the hash graph: one self-join on the edge table, anti-joined
    against direct edges and self-loops — the FoF recommendation
    primitive. Fan-out is out-degree², bounded by the generator's
    fixed degree (at web scale you'd cap or sample hub out-neighbor
    lists first)."""
    g = _hash_graph(spark).filter(F.col("src") != F.col("dst")).distinct()
    a, b = g.alias("a"), g.alias("b")
    two = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("n2"))
        .filter(F.col("src") != F.col("n2"))
        .distinct()
        .join(
            g.select(F.col("src"), F.col("dst").alias("n2")),
            ["src", "n2"],
            "left_anti",
        )
    )
    return two.groupBy("src").agg(F.count(F.lit(1)).alias("n_two_hop"))


SQL_GRAPH_TWO_HOP = f"""
WITH g AS (SELECT DISTINCT src, dst FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst),
two AS (
  SELECT DISTINCT a.src, b.dst AS n2
  FROM g a JOIN g b ON a.dst = b.src
  WHERE a.src <> b.dst
)
SELECT t.src, count(*) AS n_two_hop
FROM two t
WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.src = t.src AND g.dst = t.n2)
GROUP BY t.src
"""


def q_graph_bfs_hops(spark, sf_dir):
    """Minimum hop counts from node 0 on the hash graph via the
    frontier-expansion BSP loop (graph/bfs.py — edges cached and
    partition-reused across supersteps, each node expanded once).
    Unlike the other iterative kernels this IS oracle-checked: single-
    source BFS with a hop bound is a bounded recursive CTE in DuckDB —
    a rare hash-verified iterative graph algorithm."""
    from cs744_big_data_system_spark.graph.bfs import bfs_hops

    hops = bfs_hops(_hash_graph(spark), source=0, max_iters=20, num_partitions=4)
    return hops.select("node", F.col("hop").cast("long").alias("hop"))


SQL_GRAPH_BFS_HOPS = f"""
WITH RECURSIVE walk(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION
  SELECT g.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN ({_SQL_HASH_GRAPH}) g ON g.src = walk.node
  WHERE walk.hop < 20
)
SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY node
"""


# --- Weighted SSSP: Bellman-Ford frontier relaxation, oracle-checked ---
#: deterministic positive edge weights 1..9 for the hash graph, so the
#: weighted kernel is exactly reproducible on both engines.
_SSSP_W = "(src * 7 + dst * 13) % 9 + 1"


def q_graph_sssp(spark, sf_dir):
    """Minimum path WEIGHT from node 0 on the hash graph with
    deterministic integer weights — the weighted sibling of
    graph_bfs_hops, run as a Bellman-Ford frontier-relaxation BSP loop
    (graph/sssp.py: edges cached and partition-reused, only improved
    nodes re-expand). Oracle-checked against a bounded recursive CTE
    (states pruned at dist < 48 > the measured max shortest dist 29, so
    every true shortest path survives the cut), and golden-tested
    against a driver-side Dijkstra."""
    from cs744_big_data_system_spark.graph.sssp import sssp

    edges = _hash_graph(spark).select(
        "src", "dst", F.expr(_SSSP_W).cast("long").alias("w")
    )
    out = sssp(edges, source=0, max_iters=30, num_partitions=4)
    return out.select("node", F.col("dist").cast("long").alias("dist"))


SQL_GRAPH_SSSP = f"""
WITH RECURSIVE g AS (
  SELECT src, dst, CAST({_SSSP_W} AS BIGINT) AS w
  FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst
), walk(node, dist) AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT g.dst AS node, walk.dist + g.w AS dist
  FROM walk JOIN g ON g.src = walk.node
  WHERE walk.dist + g.w < 48
)
SELECT node, min(dist) AS dist FROM walk GROUP BY node
"""


# --- Label-propagation communities: synchronous, oracle-checked ---
def q_graph_label_propagation(spark, sf_dir):
    """Deterministic synchronous LPA on the hash graph (5 rounds,
    max-vote/min-label relabeling — graph/label_propagation.py). A
    FIXED iteration count makes the kernel a pure function of the
    graph, so the oracle mirrors it as 5 unrolled CTE rounds — the
    third hash-verified iterative graph kernel after BFS and SSSP."""
    from cs744_big_data_system_spark.graph.label_propagation import label_propagation

    labels = label_propagation(_hash_graph(spark), iterations=5, num_partitions=4)
    return labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


def _sql_label_propagation(iterations: int = 5) -> str:
    parts = [
        f"""g AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst
  )
), l0 AS (SELECT DISTINCT src AS node, src AS label FROM g)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""v{i} AS (
  SELECT g.dst AS node, l.label, count(*) AS votes
  FROM g JOIN l{i - 1} l ON l.node = g.src GROUP BY 1, 2
), l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
    FROM v{i}
  ) WHERE rn = 1
)"""
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, label FROM l{iterations}"


SQL_GRAPH_LABEL_PROPAGATION = _sql_label_propagation()


# --- Community modularity (evaluating the LPA partition) ---
def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the 5-round LPA communities on the hash
    graph: per community c, q_contrib = e_c/|g| − (d_c/|g|)² over the
    symmetrized simple graph (|g| = 2m directed intra-edge slots).
    Everything is integer counting until one final division, so the
    community-quality EVALUATION composes with the hash-verified LPA
    kernel into a fully hash-checked pipeline — find communities, then
    score them, all oracle-mirrored.

    Scale shape: two broadcast-joinable label lookups on the edge
    list + one aggregation per community; the output is one row per
    community."""
    from cs744_big_data_system_spark.graph.label_propagation import label_propagation

    edges = _hash_graph(spark)
    labels = label_propagation(edges, iterations=5, num_partitions=4)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    tot = und.agg(F.count(F.lit(1)).alias("_g"))  # = 2m
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("l_src"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("l_dst"))
    tagged = und.join(F.broadcast(ls), "src").join(F.broadcast(ld), "dst")
    per_c = tagged.groupBy(F.col("l_src").alias("label")).agg(
        F.count(F.lit(1)).alias("degree_sum"),
        F.sum((F.col("l_src") == F.col("l_dst")).cast("long")).alias("intra_dir"),
    )
    nodes_per = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        per_c.join(nodes_per, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("intra_dir").cast("long").alias("intra_dir"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            # x*x (not **2, which routes through Math.pow and can differ by
            # an ulp from the oracle's self-multiplication), and `+ 0.0`
            # after round to normalize IEEE -0.0: a community whose
            # intra/expected terms cancel rounds to signed zero otherwise,
            # and the driver's canonical hash distinguishes -0.0 from 0.0.
            (
                F.round(
                    F.col("intra_dir") / F.col("_g")
                    - (F.col("degree_sum") / F.col("_g"))
                    * (F.col("degree_sum") / F.col("_g")),
                    6,
                )
                + F.lit(0.0)
            ).alias("q_contrib"),
        )
        .orderBy("label")
    )


def _sql_graph_modularity(iterations: int = 5) -> str:
    lpa = _sql_label_propagation(iterations)
    # reuse the LPA CTE chain; swap the final SELECT for modularity math
    body = lpa[: lpa.rindex("\nSELECT node, label FROM")]
    return (
        body
        + f""",
tot AS (SELECT CAST(count(*) AS BIGINT) AS _g FROM g),
tagged AS (
  SELECT ls.label AS l_src, ld.label AS l_dst
  FROM g
  JOIN l{iterations} ls ON ls.node = g.src
  JOIN l{iterations} ld ON ld.node = g.dst
), per_c AS (
  SELECT l_src AS label,
         CAST(count(*) AS BIGINT) AS degree_sum,
         CAST(sum(CASE WHEN l_src = l_dst THEN 1 ELSE 0 END) AS BIGINT) AS intra_dir
  FROM tagged GROUP BY l_src
), nodes_per AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM l{iterations} GROUP BY label
)
SELECT p.label, n.n_nodes, p.intra_dir, p.degree_sum,
       round(p.intra_dir * 1.0 / t._g - (p.degree_sum * 1.0 / t._g) * (p.degree_sum * 1.0 / t._g), 6) + 0.0 AS q_contrib
FROM per_c p JOIN nodes_per n ON n.label = p.label, tot t
ORDER BY p.label"""
    )


SQL_GRAPH_MODULARITY = _sql_graph_modularity()


# --- BFS via WITH RECURSIVE through the Spark SQL text front end ---
def q_graph_bfs_sql(spark, sf_dir):
    """The SAME single-source BFS as graph_bfs_hops, but declared as a
    recursive CTE through Spark's SQL front end (WITH RECURSIVE, new in
    Spark 4) — the declarative twin of the BSP loop, proving the SQL
    surface handles iteration too.

    Spark supports only UNION ALL recursion (no dedup between steps),
    so on a cyclic graph the step bound must be tight: hop < 6 covers
    node 0's eccentricity (6, measured) at ~56k path rows, and the
    trailing min(hop) GROUP BY collapses paths to true hop counts. The
    oracle mirrors the identical UNION ALL + bound semantics. At real
    graph scale the BSP loop (each node expanded once) is the right
    plan; this entry exists for front-end parity, like
    flagship_q3_sql."""
    return spark.sql(f"""
WITH RECURSIVE walk(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION ALL
  SELECT g.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN (
    SELECT CAST(t.id AS BIGINT) AS src,
           CAST((t.id * t.id * {TRI_A} + s.id * {TRI_B}) % {TRI_N} AS BIGINT) AS dst
    FROM range({TRI_N}) t, range(1, {TRI_D + 1}) s
  ) g ON g.src = walk.node
  WHERE walk.hop < 6
)
SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY node
""")


SQL_GRAPH_BFS_SQL = f"""
WITH RECURSIVE walk(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION ALL
  SELECT g.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN ({_SQL_HASH_GRAPH}) g ON g.src = walk.node
  WHERE walk.hop < 6
)
SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY node
"""


# --- Stream-static join: per-micro-batch dimension enrichment ---
def q_stream_static_join_replay(spark, sf_dir):
    """The events stream joined per micro-batch against the STATIC
    customer dimension (Structured Streaming's stream-static join —
    distinct from the stream-stream join, which needs symmetric state:
    here the static side is simply broadcast into every micro-batch,
    no watermark bookkeeping on the dimension). Aggregated per nation
    in complete mode so the replayed result equals the batch oracle."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def xform(s):
        joined = s.join(
            F.broadcast(cust), s.user_id == cust.c_custkey, "inner"
        )
        return joined.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    return replay_to_batch(spark, f"{sf_dir}/events.parquet", xform, "complete")


SQL_STREAM_STATIC_JOIN = """
SELECT c.c_nationkey,
       count(*) AS n_events,
       CAST(round(sum(e.value), 4) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q_graph_kcore(spark, sf_dir):
    """k-core of the hash graph by iterative peeling (graph/kcore.py).
    Oracle-checked via monotone-fixpoint unrolling: peeling removes
    EVERY current sub-k node per round and is idempotent at the
    fixpoint, so an unrolled chain of R ≥ convergence rounds is EXACT
    regardless of R (extra rounds no-op). The fixture fixpoints in 5
    rounds (verified against an independent Python peeling); the
    oracle unrolls 12 MATERIALIZED CTE rounds (materialization
    matters: each round references its predecessor three times, and
    inlining would blow up 3^R). The 5th hash-verified iterative
    kernel."""
    from cs744_big_data_system_spark.graph.kcore import k_core

    # k=8 keeps roughly half the hash graph — a non-trivial core (k=9
    # cascades to empty; k=6 removes nothing)
    return k_core(_hash_graph(spark), k=8)


def _sql_kcore(k: int = 8, rounds: int = 12) -> str:
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({_SQL_HASH_GRAPH}) WHERE src <> dst
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""b{r - 1} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS degree FROM (
      SELECT u AS node FROM e{r - 1} UNION ALL SELECT v AS node FROM e{r - 1}
    ) GROUP BY node
  ) WHERE degree < {k}
), e{r} AS MATERIALIZED (
  SELECT u, v FROM e{r - 1} e
  WHERE NOT EXISTS (SELECT 1 FROM b{r - 1} b WHERE b.node = e.u)
    AND NOT EXISTS (SELECT 1 FROM b{r - 1} b WHERE b.node = e.v)
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, count(*) AS core_degree FROM (
  SELECT u AS node FROM e{rounds} UNION ALL SELECT v AS node FROM e{rounds}
) GROUP BY node"""
    )


SQL_GRAPH_KCORE = _sql_kcore()


def q_graph_degree_histogram(spark, sf_dir):
    from cs744_big_data_system_spark.graph.triangles import degree_histogram

    return degree_histogram(_hash_graph(spark))


SQL_GRAPH_DEGREE_HISTOGRAM = f"""
WITH canon AS ({_SQL_CANON_GRAPH}),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)
  GROUP BY node
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


# --- Data-parallel training loop (assignment-2 all-reduce schema) ---
def q_ml_linear_fit(spark, sf_dir):
    """Fit a linear model label ~ embedding by full-batch gradient
    descent: broadcast-w / per-shard gradient / treeAggregate-merge per
    iteration (ml/linear_sgd.py — the part2b all-reduce pattern).
    Iterative + float-merge-order sensitive → rows-only; convergence
    is asserted against a closed-form solution in tests."""
    from cs744_big_data_system_spark.ml.linear_sgd import fit_linear, weights_df

    emb = load_table(spark, sf_dir, "embeddings")
    w = fit_linear(emb, lr=0.5, iterations=10)
    return weights_df(spark, w)


# --- GD training loop: features pulled once, steps on the driver, hash-verified ---
def q_ml_linear_gd(spark, sf_dir):
    """Six full-batch gradient-descent rounds fitting label from the
    first 4 embedding dims + bias (ml/linear_gd.py): Spark extracts
    the features once and numpy runs the steps on the driver, each
    averaging all p+1 gradient components (the reference's all-reduce
    round) and applying the O(p) update. Gradients are quantized with
    the engine-stable floor form each step, so both engines walk the
    IDENTICAL weight trajectory and the entire training loop
    hash-checks — the 7th hash-verified iterative kernel, and the one
    that mirrors the reference's actual workload (data-parallel
    training)."""
    from cs744_big_data_system_spark.ml.linear_gd import linear_gd_fit

    emb = load_table(spark, sf_dir, "embeddings")
    return linear_gd_fit(emb, feature_dims=4, steps=6, lr=0.1)


def _sql_ml_linear_gd() -> str:
    from cs744_big_data_system_spark.ml.linear_gd import sql_linear_gd

    return sql_linear_gd(feature_dims=4, steps=6, lr=0.1)


SQL_ML_LINEAR_GD = _sql_ml_linear_gd()


def q_ml_logreg_gd(spark, sf_dir):
    """Logistic GD under the same hash-verified contract as
    ml_linear_gd — the nonlinear-gradient case (sigmoid through exp;
    libm-vs-JVM ulp differences absorbed by the per-step gradient
    quantization). The 8th hash-verified iterative kernel."""
    from cs744_big_data_system_spark.ml.linear_gd import logreg_gd_fit

    emb = load_table(spark, sf_dir, "embeddings")
    return logreg_gd_fit(emb, feature_dims=4, steps=6, lr=0.5)


def _sql_ml_logreg_gd() -> str:
    from cs744_big_data_system_spark.ml.linear_gd import sql_logreg_gd

    return sql_logreg_gd(feature_dims=4, steps=6, lr=0.5)


SQL_ML_LOGREG_GD = _sql_ml_logreg_gd()


# --- Multinomial Naive Bayes: the 9th hash-verified training kernel ---
def q_ml_naive_bayes(spark, sf_dir):
    """Text classification trained AND scored as relational algebra
    (ml/naive_bayes.py): top-150 vocab, Laplace-smoothed token
    likelihoods, per-doc argmax over integer micro-nat scores, output
    the confusion matrix. Quantized log-probs make the whole train ->
    predict -> evaluate pipeline hash-checked — the 9th hash-verified
    training kernel, and the first SUPERVISED TEXT one."""
    from cs744_big_data_system_spark.ml.naive_bayes import naive_bayes_confusion

    return naive_bayes_confusion(load_table(spark, sf_dir, "documents"), vocab_size=150)


def _sql_ml_naive_bayes(v: int = 150) -> str:
    from cs744_big_data_system_spark.workloads.llm import _SQL_CANON_TOKS

    return f"""
WITH docs AS (
  SELECT doc_id, lang, {_SQL_CANON_TOKS} AS tk FROM documents
), tok AS (
  SELECT doc_id, lang, unnest(tk) AS token FROM docs
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tok GROUP BY token
    ORDER BY c DESC, token LIMIT {v})
), classes AS (
  SELECT lang, count(*) AS n_docs FROM docs GROUP BY lang
), total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM classes),
priors AS (
  SELECT lang AS cls_lang,
         CAST(floor(ln(n_docs * 1.0 / n) * 1000000 + 0.5 + 1e-9) AS BIGINT) AS prior_i
  FROM classes, total
), tc AS (
  SELECT t.lang, t.token, count(*) AS c
  FROM tok t JOIN vocab v USING (token) GROUP BY t.lang, t.token
), grid AS (
  SELECT c.lang AS cls_lang, v.token, COALESCE(tc.c, 0) AS c
  FROM classes c CROSS JOIN vocab v
  LEFT JOIN tc ON tc.lang = c.lang AND tc.token = v.token
), totals AS (
  SELECT cls_lang, CAST(sum(c) AS BIGINT) AS total_c FROM grid GROUP BY cls_lang
), lp AS (
  SELECT g.cls_lang, g.token,
         CAST(floor(ln((g.c + 1.0) / (t.total_c + {v})) * 1000000 + 0.5 + 1e-9) AS BIGINT) AS lp_i
  FROM grid g JOIN totals t USING (cls_lang)
), sums AS (
  SELECT tok.doc_id, lp.cls_lang, CAST(sum(lp.lp_i) AS BIGINT) AS tok_i
  FROM tok JOIN lp ON tok.token = lp.token GROUP BY tok.doc_id, lp.cls_lang
), base AS (
  SELECT d.doc_id, d.lang, p.cls_lang, p.prior_i
  FROM (SELECT doc_id, lang FROM docs) d CROSS JOIN priors p
), scored AS (
  SELECT b.doc_id, b.lang, b.cls_lang, b.prior_i + COALESCE(s.tok_i, 0) AS score
  FROM base b LEFT JOIN sums s ON s.doc_id = b.doc_id AND s.cls_lang = b.cls_lang
), pred AS (
  SELECT doc_id, lang, cls_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls_lang) AS rn
  FROM scored
)
SELECT lang AS actual_lang, cls_lang AS pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY lang, cls_lang ORDER BY actual_lang, pred_lang
"""


SQL_ML_NAIVE_BAYES = _sql_ml_naive_bayes()


# --- ALS matrix factorization (rows-only: float training loop) ---
def q_ml_als_fit(spark, sf_dir):
    """ALS recommender training (ml/als.py) on the customer × part
    implicit-rating matrix (order quantities): 3 alternating rounds of
    per-entity ridge solves against a broadcast factor side. Returns
    the per-iteration train-RMSE curve; decreasing-loss convergence is
    pinned in tests (rows-only in the driver gate, like the engine's
    other float training loops)."""
    from cs744_big_data_system_spark.ml.als import als_fit

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    ratings = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum("l_quantity").alias("rating"))
    )
    return als_fit(ratings, rank=8, iterations=3, reg=0.1)


# --- Relational k-means: the 4th hash-verified iterative kernel ---
def q_ml_kmeans_relational(spark, sf_dir):
    """3 Lloyd iterations over the embeddings as pure relational
    algebra (ml/kmeans_relational.py): first-k init, distances rounded
    at 6 dp with ordinal tie-break, per-dim means rounded at 9 dp so
    summation-order noise can't leak into the next assignment — the
    whole training loop is a pure function of the data and hash-checks
    against an unrolled-CTE oracle. The Arrow-superstep ml_kmeans_fit
    remains the throughput path; this entry is its correctness twin."""
    from cs744_big_data_system_spark.ml.kmeans_relational import kmeans_relational

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_relational(emb, k=8, iterations=3)


def _sql_kmeans_ctes(k: int = 8, iterations: int = 3, dim: int = 64) -> str:
    """CTE body (no WITH, no final SELECT) for the unrolled Lloyd loop;
    ends at ``afinal(vec_id, code)``. Shared by the kmeans oracle and
    the SemDeDup oracle, which clusters then prunes."""
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> "
        "(CAST(v.embedding[i] AS DOUBLE) - c.emb[i]) * (CAST(v.embedding[i] AS DOUBLE) - c.emb[i])))"
    )

    def assign(ci: str, ai: str) -> str:
        return f"""{ai} AS (
  SELECT vec_id, code FROM (
    SELECT v.vec_id, c.code,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({dist}, 6) ASC, c.code ASC) AS rn
    FROM embeddings v CROSS JOIN {ci} c
  ) WHERE rn = 1
)"""

    def update(ai: str, ci_prev: str, ci: str) -> str:
        return f"""m_{ci} AS (
  SELECT a.code, r.range AS d, round(avg(CAST(v.embedding[r.range] AS DOUBLE)), 9) AS m
  FROM {ai} a JOIN embeddings v ON v.vec_id = a.vec_id
  CROSS JOIN range(1, {dim + 1}) r
  GROUP BY a.code, r.range
), {ci} AS (
  SELECT code, list(m ORDER BY d) AS emb FROM m_{ci} GROUP BY code
  UNION ALL
  SELECT code, emb FROM {ci_prev} WHERE code NOT IN (SELECT DISTINCT code FROM m_{ci})
)"""

    parts = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         list_transform(embedding, e -> CAST(e AS DOUBLE)) AS emb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(assign(f"c{i - 1}", f"a{i}"))
        parts.append(update(f"a{i}", f"c{i - 1}", f"c{i}"))
    parts.append(assign(f"c{iterations}", "afinal"))
    return ",\n".join(parts)


def _sql_kmeans_relational(k: int = 8, iterations: int = 3, dim: int = 64) -> str:
    return (
        "WITH "
        + _sql_kmeans_ctes(k, iterations, dim)
        + "\nSELECT vec_id, code AS cluster FROM afinal"
    )


SQL_ML_KMEANS_RELATIONAL = _sql_kmeans_relational()


# --- SemDeDup: k-means clusters + within-cluster cosine prune ---
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (operators/dedup.semantic_dedup): 2 deterministic Lloyd iterations
    partition the space into k=32 cells, then each cell is pruned of
    vectors whose 6-dp cosine to a lower-id cell-mate is ≥ 0.4 —
    geometry-derived blocking instead of a metadata block column. The
    whole pipeline (clustering included) hash-checks against the
    unrolled-CTE oracle; k grows with the corpus at scale so the
    within-cell pair fan-out stays bounded."""
    from cs744_big_data_system_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=32, iterations=2, threshold=0.4)


def _sql_dedup_semantic(k: int = 32, iterations: int = 2, threshold: float = 0.4) -> str:
    cos = (
        "CASE WHEN (sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * a.embedding[i])))"
        " * sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(b.embedding[i] AS DOUBLE) * b.embedding[i])))) > 0 THEN"
        " list_sum(list_transform(range(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))"
        " / (sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * a.embedding[i])))"
        " * sqrt(list_sum(list_transform(range(1, 65),"
        " i -> CAST(b.embedding[i] AS DOUBLE) * b.embedding[i])))) END"
    )
    return f"""
WITH {_sql_kmeans_ctes(k, iterations)}, asg AS (
  SELECT vec_id, code AS cluster FROM afinal
), scored AS (
  SELECT y.vec_id, y.cluster, x.vec_id AS dup_of,
         round({cos}, 6) AS cosine
  FROM asg y JOIN asg x ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
  WHERE round({cos}, 6) >= {threshold}
)
SELECT vec_id, cluster, dup_of, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine DESC, dup_of ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


SQL_DEDUP_SEMANTIC = _sql_dedup_semantic()


# --- Histogram decision-stump split finding — oracle-checked ML ---
def q_ml_tree_split(spark, sf_dir):
    """Top-5 (feature, threshold) stump splits for predicting the
    embedding label by weighted Gini, via the binned-histogram
    algorithm distributed tree libraries use (ml/tree.py): two data
    passes (min/max, histogram) then pure grid math sized
    dim × bins × classes — row-count independent. Integer histograms +
    one fixed float layout make it the rare TRAINING operator that is
    hash-checked against the SQL oracle."""
    from cs744_big_data_system_spark.ml.tree import best_stump_splits

    emb = load_table(spark, sf_dir, "embeddings")
    return best_stump_splits(emb, dim=64, bins=16, topk=5)


def _sql_tree_split(bins: int = 16, topk: int = 5) -> str:
    return f"""
WITH ex AS (
  SELECT label AS y, u.s AS s, u.x AS x FROM (
    SELECT label, unnest(list_transform(embedding,
           (e, i) -> struct_pack(s := i - 1, x := CAST(e AS DOUBLE)))) AS u
    FROM embeddings
  )
), stats AS (
  SELECT s, min(x) AS lo, max(x) AS hi FROM ex GROUP BY s
), counts AS (
  SELECT e.s, e.y,
         CAST(CASE WHEN st.hi - st.lo > 0
              THEN least(floor((e.x - st.lo) * {bins} / (st.hi - st.lo)), {bins - 1})
              ELSE 0 END AS INT) AS b,
         count(*) AS c
  FROM ex e JOIN stats st ON st.s = e.s
  GROUP BY 1, 2, 3
), grid AS (
  SELECT st.s, y, CAST(r.range AS INT) AS b
  FROM (SELECT DISTINCT s FROM stats) st
  CROSS JOIN (SELECT DISTINCT label AS y FROM embeddings)
  CROSS JOIN range({bins}) r
), dense AS (
  SELECT g.s, g.y, g.b, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c ON c.s = g.s AND c.y = g.y AND c.b = g.b
), cum AS (
  SELECT s, y, b, c,
         sum(c) OVER (PARTITION BY s, y ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
  FROM dense
), tot AS (
  SELECT s, y, sum(c) AS tl FROM dense GROUP BY s, y
), per_bin AS (
  SELECT c.s, c.b,
         sum(cl) AS nl, sum(cl * cl) AS ssl,
         sum(tl - cl) AS nr, sum((tl - cl) * (tl - cl)) AS ssr
  FROM cum c JOIN tot t ON t.s = c.s AND t.y = c.y
  GROUP BY 1, 2
), scored AS (
  SELECT p.s, p.b AS split_bin,
         round(st.lo + (p.b + 1) * (st.hi - st.lo) / {bins}, 6) AS threshold,
         round(((nl - ssl / nl) + (nr - ssr / nr)) / (nl + nr), 6) AS gini
  FROM per_bin p JOIN stats st ON st.s = p.s
  WHERE nl > 0 AND nr > 0
)
SELECT s, split_bin, threshold, gini, rnk FROM (
  SELECT *, row_number() OVER (ORDER BY gini ASC, s ASC, split_bin ASC) AS rnk
  FROM scored
) WHERE rnk <= {topk}
"""


SQL_ML_TREE_SPLIT = _sql_tree_split()


# --- Nonlinear (MLP) training loop — the VGG-11 data-parallel analogue ---
def q_ml_mlp_fit(spark, sf_dir):
    """Train a 1-hidden-layer tanh MLP label ~ embedding with the SAME
    broadcast-θ / shard-backward / single-treeAggregate superstep as
    the linear fit (ml/mlp.py — the reference's VGG-11 DDP loop,
    assignment2/part1/model.py:30-46, with the bucketed-all-reduce
    lesson: every layer's gradient travels in ONE collective). Returns
    the per-epoch loss curve; rows-only (iterative, float-merge-order
    sensitive) — convergence and the beats-linear-baseline property
    are unit-tested."""
    from cs744_big_data_system_spark.ml.mlp import fit_mlp, loss_curve_df

    emb = load_table(spark, sf_dir, "embeddings")
    _, losses = fit_mlp(emb, hidden=8, lr=0.1, iterations=10)
    return loss_curve_df(spark, losses)


# --- Classification training loop with in-collective accuracy ---
def q_ml_logreg_fit(spark, sf_dir):
    """Logistic regression on a derived binary label (label % 2) with
    the same broadcast/treeAggregate superstep; the log-loss sum AND
    correct-prediction count ride the gradient's collective, so the
    reference's per-epoch accuracy table (assignment2/part1/main.py's
    eval loop) costs zero extra jobs. Rows-only (iterative);
    convergence + accuracy-beats-majority are unit-tested."""
    from cs744_big_data_system_spark.ml.logreg import fit_logreg, metrics_df

    emb = load_table(spark, sf_dir, "embeddings").select(
        "embedding", (F.col("label") % 2).cast("double").alias("label")
    )
    _, losses, accs = fit_logreg(emb, lr=0.5, iterations=10)
    return metrics_df(spark, losses, accs)


# --- Convolutional training loop — closer to VGG-11, same schema ---
def q_ml_cnn_fit(spark, sf_dir):
    """Train a conv net (embedding as 8×8 image → 3×3 conv → tanh →
    linear head) with the identical broadcast-θ / shard-backward /
    single-treeAggregate superstep (ml/cnn.py — the reference's VGG-11
    convolutional stack, assignment2/part1/model.py:30-46, one layer
    at a time; the distribution schema is unchanged, which is the
    DDP lesson). Rows-only (iterative); decreasing-loss and
    beats-nothing-baseline properties are unit-tested."""
    from cs744_big_data_system_spark.ml.cnn import fit_cnn
    from cs744_big_data_system_spark.ml.mlp import loss_curve_df

    emb = load_table(spark, sf_dir, "embeddings")
    _, losses = fit_cnn(emb, n_filters=4, lr=0.05, iterations=10)
    return loss_curve_df(spark, losses)


# --- Unsupervised superstep: k-means via the same all-reduce schema ---
def q_ml_kmeans_fit(spark, sf_dir):
    """Lloyd's k-means over the embeddings fixture with the broadcast-
    centroids / shard-partials / treeAggregate superstep (ml/kmeans.py)
    — per-iteration traffic k·dim, independent of rows. Returns the
    centroid matrix + MSE curve; rows-only (iterative,
    float-merge-order sensitive) — monotone-convergence and golden-
    cluster recovery are unit-tested."""
    from cs744_big_data_system_spark.ml.kmeans import fit_kmeans, kmeans_df

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, curve = fit_kmeans(emb, k=8, iterations=5)
    return kmeans_df(spark, centroids, curve)


# --- Multimodal plumbing: Arrow-batched feature extraction (decode stubbed) ---
def q_multimodal_features(spark, sf_dir):
    assets = synthetic_assets(spark, n=64)
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )


# --- Multimodal resize: REAL pixel decode → resample → re-encode ---
def q_multimodal_resize(spark, sf_dir):
    """Decode-and-resize over REAL image bytes: each document yields a
    deterministic 4×4 binary PPM (header + 48 md5-derived pixel bytes,
    built entirely JVM-side), which operators/multimodal.resize_images
    decodes, nearest-neighbor resamples to 2×2, and re-encodes as PPM.
    Returns the resized digest per asset — deterministic end-to-end;
    rows-only (mirroring PPM re-encoding in SQL is not practical), with
    the pixel math itself verified in tests on hand-built images."""
    from cs744_big_data_system_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    header = F.lit(b"P6\n4 4\n255\n")
    pixels = F.concat(*[
        F.to_binary(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":px{i}"))),
                    F.lit("hex"))
        for i in range(3)
    ])
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.concat(header, pixels).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
    out = resize_images(assets, out_w=2, out_h=2)
    return out.select(
        "asset_id", "width", "height", F.md5("resized").alias("resized_md5")
    )


# --- Perceptual image near-dup (real decode → aHash → banded hamming) ---
def q_image_neardup(spark, sf_dir):
    """Image dedup over REAL decoded pixels: deterministic P6 PPM
    fixtures (operators/multimodal.synthetic_ppm_assets — planted
    near-dup families with one inverted block, sized off the doc count
    so the workload scales with sf), 64-bit average-hash per image
    through the real decoder, pigeonhole 16-bit bands for candidates,
    exact popcount-hamming verify. Rows-only in the driver gate (SQL
    cannot decode PPM); the planted-family recall/precision contract
    is pinned in tests/test_multimodal_phash.py."""
    from cs744_big_data_system_spark.operators.multimodal import (
        image_neardup_pairs,
        synthetic_ppm_assets,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    assets = synthetic_ppm_assets(spark, n=max(n_docs, 8), groups=max(n_docs // 4, 2))
    return image_neardup_pairs(assets, max_hamming=6)


# --- Multimodal over fixture data: the mapInPandas path, oracle-checked ---
def q_multimodal_doc_features(spark, sf_dir):
    """Same Arrow-batched decode pipeline as multimodal_features, but
    the asset payloads derive deterministically from the documents
    fixture (md5 bytes), so the ENTIRE Python mapInPandas path is
    hash-checked against an oracle that recomputes the stub's byte
    math from md5 hex — not just smoke-tested."""
    from cs744_big_data_system_spark.operators.multimodal import (
        assets_from_documents,
        extract_features,
    )

    assets = assets_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "modality",
        "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("feature", 8).cast("double"), 6).alias("f7"),
    )


# stub feature i = payload_byte[i mod 16] / 255; byte j of md5 = hex
# chars (2j+1, 2j+2). f0 -> byte 0, f7 -> byte 7.
SQL_MULTIMODAL_DOC_FEATURES = """
SELECT doc_id AS asset_id,
       ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
       CAST(16 AS BIGINT) AS n_bytes,
       round(CAST(CAST(CAST(('0x' || substr(md5(text), 1, 2)) AS INT) / 255.0 AS FLOAT) AS DOUBLE), 6) AS f0,
       round(CAST(CAST(CAST(('0x' || substr(md5(text), 15, 2)) AS INT) / 255.0 AS FLOAT) AS DOUBLE), 6) AS f7
FROM documents
"""


# Registration order matters downstream (workloads/__init__ docstring):
# the driver's correctness harness verifies a bounded prefix of the
# registry, so oracle-backed entries come first and rows-only entries
# (which get a weaker rows-only check regardless of position) fill the
# tail — the prefix then hash-verifies every oracle we have.
# --- TRUE streaming replay: MinHash-LSH near-dup detection ON INGEST ---
def q_stream_minhash_dedup_replay(spark, sf_dir):
    """Near-dup screening at ingest time: each micro-batch computes its
    docs' MinHash band keys SCAN-SIDE (operators/dedup.row_minhash_bands
    — stateful streaming forbids a pre-aggregation, so the signature
    must be a per-row expression) and folds them into a streaming
    (band_idx, band_hash) → min(doc_id) state. State size is bucket
    cardinality (~docs × bands, near-uniform) — the same key space the
    batch LSH self-join shuffles on, maintained incrementally instead.
    A doc is a near-dup candidate iff any of its buckets was first
    claimed by a smaller doc_id (order-independent: min is the same
    whatever the micro-batch arrival order). Batch-side the streamed
    bucket table joins back to the corpus for the per-lang audit; the
    md5 hash family is deterministic, so the whole streaming path
    hash-checks against the batch SQL mirror."""
    from cs744_big_data_system_spark.operators.dedup import row_minhash_bands

    buckets = replay_to_batch(
        spark,
        f"{sf_dir}/documents.parquet",
        lambda s: row_minhash_bands(s, n=3, num_hashes=32, bands=8)
        .groupBy("band_idx", "band_hash")
        .agg(F.min("doc_id").alias("first_doc")),
        output_mode="complete",
    )
    docs = load_table(spark, sf_dir, "documents")
    bands = row_minhash_bands(docs, n=3, num_hashes=32, bands=8)
    flags = (
        bands.join(buckets, ["band_idx", "band_hash"])
        .groupBy("doc_id")
        .agg(
            (F.min("first_doc") < F.col("doc_id")).cast("int").alias("is_dup")
        )
    )
    return (
        docs.join(flags, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dups"),
        )
        .orderBy("lang")
    )


def _sql_stream_minhash_dedup(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB mirror: same 32-member universal-hash minima and md5 band
    keys as operators/dedup (deferred import — same pattern as
    _sql_stream_cms)."""
    from cs744_big_data_system_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_params,
    )
    from cs744_big_data_system_spark.workloads.llm import (
        _SQL_CANON_TOKS,
        _SQL_NGRAM3,
        _sql_md5_int60,
    )

    rpb = num_hashes // bands
    members = ",\n       ".join(
        f"min(({minhash_params(i)[0]} * x + {minhash_params(i)[1]}) % {MINHASH_PRIME}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', "
        + ", ".join(f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SQL_NGRAM3}) AS shingle FROM toks
), hashed AS (
  SELECT doc_id, {_sql_md5_int60("shingle")} % {MINHASH_PRIME} AS x FROM sh
), sig AS (
  SELECT doc_id,
       {members}
  FROM hashed GROUP BY doc_id
), bands AS (
  {band_selects}
), buckets AS (
  SELECT band_idx, band_hash, min(doc_id) AS first_doc FROM bands GROUP BY 1, 2
), flags AS (
  SELECT b.doc_id,
         CAST(min(u.first_doc) < b.doc_id AS INT) AS is_dup
  FROM bands b
  JOIN buckets u ON u.band_idx = b.band_idx AND u.band_hash = b.band_hash
  GROUP BY b.doc_id
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(f.is_dup) AS BIGINT) AS n_dups
FROM documents d JOIN flags f ON f.doc_id = d.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


_SQL_STREAM_MINHASH_DEDUP = _sql_stream_minhash_dedup()


WORKLOADS = {
    "stream_minhash_dedup_replay": (
        q_stream_minhash_dedup_replay,
        _SQL_STREAM_MINHASH_DEDUP,
    ),
    "window_tumbling": (q_window_tumbling, SQL_WINDOW_TUMBLING),
    "window_sliding": (q_window_sliding, SQL_WINDOW_SLIDING),
    "stream_tumbling_replay": (q_stream_tumbling_replay, SQL_WINDOW_TUMBLING),
    "stream_sliding_replay": (q_stream_sliding_replay, SQL_WINDOW_SLIDING),
    "stream_session_replay": (q_stream_session_replay, SQL_STREAM_SESSION),
    "stream_dedup_replay": (q_stream_dedup_replay, SQL_STREAM_DEDUP),
    "stream_stream_join_replay": (q_stream_stream_join_replay, SQL_STREAM_STREAM_JOIN),
    "stream_outer_join_replay": (q_stream_outer_join_replay, SQL_STREAM_OUTER_JOIN),
    "stream_full_outer_join_replay": (
        q_stream_full_outer_join_replay,
        SQL_STREAM_FULL_OUTER_JOIN,
    ),
    "stream_stateful_counts": (q_stream_stateful_counts, SQL_STREAM_STATEFUL),
    "stream_late_data_drop": (q_stream_late_drop, SQL_STREAM_LATE_DROP),
    "multimodal_doc_features": (q_multimodal_doc_features, SQL_MULTIMODAL_DOC_FEATURES),
    "image_neardup_phash": (q_image_neardup, None),  # real decode: no SQL mirror
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_degree_histogram": (q_graph_degree_histogram, SQL_GRAPH_DEGREE_HISTOGRAM),
    "graph_bfs_hops": (q_graph_bfs_hops, SQL_GRAPH_BFS_HOPS),
    "graph_sssp": (q_graph_sssp, SQL_GRAPH_SSSP),
    "graph_label_propagation": (q_graph_label_propagation, SQL_GRAPH_LABEL_PROPAGATION),
    "graph_bfs_sql": (q_graph_bfs_sql, SQL_GRAPH_BFS_SQL),
    "synthdocs_stream_profile": (q_synthdocs_stream_profile, SQL_SYNTHDOCS_STREAM),
    "graph_two_hop": (q_graph_two_hop, SQL_GRAPH_TWO_HOP),
    "stream_static_join_replay": (q_stream_static_join_replay, SQL_STREAM_STATIC_JOIN),
    "stream_cms_replay": (q_stream_cms_replay, _SQL_STREAM_CMS),
    "stream_window_topk": (q_stream_window_topk, SQL_STREAM_WINDOW_TOPK),
    "stream_txlog_ingest": (q_stream_txlog_ingest, SQL_STREAM_TXLOG_INGEST),
    "stream_attribution_replay": (q_stream_attribution_replay, SQL_STREAM_ATTRIBUTION),
    "graph_hits": (q_graph_hits, SQL_GRAPH_HITS),
    "graph_modularity": (q_graph_modularity, SQL_GRAPH_MODULARITY),
    # --- rows-only tail (iterative / approximate / stubbed-decode) ---
    "pagerank_events": (q_pagerank_events, SQL_PAGERANK_EVENTS),  # unrolled oracle
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),  # fixpoint-unrolled oracle
    "ml_kmeans_fit": (q_ml_kmeans_fit, None),  # iterative unsupervised superstep
    "ml_tree_split": (q_ml_tree_split, SQL_ML_TREE_SPLIT),
    "ml_naive_bayes": (q_ml_naive_bayes, SQL_ML_NAIVE_BAYES),
    "ml_kmeans_relational": (q_ml_kmeans_relational, SQL_ML_KMEANS_RELATIONAL),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "ml_linear_gd": (q_ml_linear_gd, SQL_ML_LINEAR_GD),
    "ml_logreg_gd": (q_ml_logreg_gd, SQL_ML_LOGREG_GD),
    "ml_mlp_fit": (q_ml_mlp_fit, None),  # iterative nonlinear training loop
    "ml_als_fit": (q_ml_als_fit, None),  # alternating-least-squares training loop
    "ml_cnn_fit": (q_ml_cnn_fit, None),  # iterative convolutional training loop
    "ml_logreg_fit": (q_ml_logreg_fit, None),  # iterative classification loop
    "multimodal_features": (q_multimodal_features, None),  # decode stubbed
    "multimodal_resize": (q_multimodal_resize, None),  # real decode+resample; PPM re-encode not SQL-mirrorable
    "pagerank_synthetic": (q_pagerank_synthetic, None),  # iterative, co-partitioned regime
    "pagerank_synthetic_broadcast": (q_pagerank_synthetic_broadcast, None),  # driver-side supersteps
    "ml_linear_fit": (q_ml_linear_fit, None),  # iterative training loop
}
