"""Round-5 final batch: closing the two production loops opened by
curation8/9 —

  * ``stream_ivm_replay`` — the STREAMING twin of
    ``ivm_agg_maintenance``: the materialized aggregate view is
    maintained by a foreachBatch sink that delta-merges each
    micro-batch (signed rows: inserts +1, retention deletes −1) into
    the running state — the view is touched per batch with work
    proportional to the delta, never rebuilt. Replayed over three
    time-ordered waves; the drained state hash-checks against the
    SAME oracle as the batch query, proving the online and offline
    IVM formulations agree (the cdc_apply/stream_cdc_replay
    discipline, applied to view maintenance);
  * ``merkle_row_repair`` — phase 2 of ``merkle_bucket_diff``: the
    row-level repair that reads ONLY the divergent buckets (a
    broadcast semi-join on the 16-of-256 bucket list localizes the
    scan), full-outer compares the two replicas within them, and
    emits the corrected rows. The two-phase shape is the point: at
    100 TB the digest pass is one cheap scan per replica and the
    repair pass touches divergent/256 of the data.

Both oracle-backed (stream_ivm_replay shares SQL_IVM_AGG_MAINTENANCE
verbatim). Per the registry ordering invariant they are APPENDED after
the never-attested block and enter the r06+ window.

Reference scope: the reference repo (/root/reference, RDD coursework)
has no view-maintenance/anti-entropy surface; these extend
SURVEY.md §2.9's pipeline inventory the same way curation1-9 did.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from cs744_big_data_system_spark.operators.dedup import md5_int60
from cs744_big_data_system_spark.sources.readers import load_table
from cs744_big_data_system_spark.workloads.curation8 import (
    _IVM_CUT,
    SQL_IVM_AGG_MAINTENANCE,
)
from cs744_big_data_system_spark.workloads.curation9 import _MERKLE_BUCKETS

__all__ = ["WORKLOADS"]


def q_stream_ivm_replay(spark, sf_dir):
    """foreachBatch IVM: three waves — the base load, the post-cut
    inserts, and the retention purge as −1-signed delta rows — each
    delta-aggregated per micro-batch (map-side combinable) and merged
    into the versioned view state with coalesced signed sums. After
    the drain, groups at n = 0 drop (the IVM delete rule) and the
    state is audited in-query against a from-scratch recompute —
    byte-identical output contract to q_ivm_agg_maintenance, shared
    oracle."""
    from cs744_big_data_system_spark.streaming.windows import (
        replay_checkpoint_dir,
        stage_waves_stream,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("ts") < F.lit(_IVM_CUT).cast("timestamp")).alias("is_base"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    waves = [
        ev.filter("is_base").select("event_type", F.lit(1).alias("sign"), "cents"),
        ev.filter(~F.col("is_base")).select(
            "event_type", F.lit(1).alias("sign"), "cents"
        ),
        ev.filter(F.col("is_base") & (F.col("event_id") % 13 == 0)).select(
            "event_type", F.lit(-1).alias("sign"), "cents"
        ),
    ]

    view_root = os.path.join(tempfile.gettempdir(), f"ivm_view_{os.getpid()}")
    shutil.rmtree(view_root, ignore_errors=True)
    os.makedirs(view_root)
    state = {"v": -1}

    def sink(bdf, batch_id):
        sess = bdf.sparkSession
        delta = bdf.groupBy("event_type").agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("sign") * F.col("cents")).alias("ds"),
        )
        if state["v"] < 0:
            merged = delta.select(
                "event_type", F.col("dn").alias("n"), F.col("ds").alias("s")
            )
        else:
            cur = sess.read.parquet(os.path.join(view_root, f"v{state['v']}"))
            merged = (
                cur.join(delta, "event_type", "full_outer")
                .select(
                    "event_type",
                    (
                        F.coalesce(F.col("n"), F.lit(0))
                        + F.coalesce(F.col("dn"), F.lit(0))
                    ).alias("n"),
                    (
                        F.coalesce(F.col("s"), F.lit(0))
                        + F.coalesce(F.col("ds"), F.lit(0))
                    ).alias("s"),
                )
            )
        v = state["v"] + 1
        merged.write.mode("overwrite").parquet(os.path.join(view_root, f"v{v}"))
        state["v"] = v

    stage, stream = stage_waves_stream(spark, waves)
    ckpt = replay_checkpoint_dir()  # throwaway replay ckpt -> tmpfs (see streaming/windows.py)
    try:
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        maintained = (
            spark.read.parquet(os.path.join(view_root, f"v{state['v']}"))
            .filter(F.col("n") > 0)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(view_root, ignore_errors=True)

    truth = (
        ev.filter((~F.col("is_base")) | (F.col("event_id") % 13 != 0))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("tn"), F.sum("cents").alias("ts_"))
    )
    return (
        maintained.join(truth, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("sum_cents"),
            (
                (F.coalesce(F.col("n"), F.lit(0)) == F.coalesce(F.col("tn"), F.lit(0)))
                & (
                    F.coalesce(F.col("s"), F.lit(0))
                    == F.coalesce(F.col("ts_"), F.lit(0))
                )
            )
            .cast("long")
            .alias("ivm_matches_recompute"),
        )
    )


# --- Merkle drill-down: row-level repair of divergent buckets only ---------
def q_merkle_row_repair(spark, sf_dir):
    """Phase 2 of anti-entropy repair: take merkle_bucket_diff's
    divergent bucket list (16 of 256 here), restrict BOTH replicas to
    those buckets with a broadcast semi-join, full-outer compare rows
    within them, and emit the repair set (rows whose content differs,
    with both sides' values). At 100 TB the repair scan covers only
    divergent/256 of the table — the digest pass already paid for the
    localization.

    The corruption is the same deterministic one merkle_bucket_diff
    plants (every orderkey divisible by 997 shifted one cent on
    replica B), so the repair set is exactly those orders."""
    # ONE orders pass shared by all four consumers (digests A, digests
    # B, repair side A, repair side B): project both replicas' cents
    # plus the bucket from a single scan, then repartition ONCE on the
    # repair-join key so the two digest aggregates and the two repair
    # sides all hang off the same exchange (AQE reuse — the r11/r12
    # kfold pattern; the r11 plan audit showed six separate orders
    # scans, each re-running the md5 bucket/row-hash chains).
    # coalesce marks the keys NON-NULLABLE (they never are null:
    # o_orderkey is the table key, bucket is md5 of a non-null string)
    # so the semi-joins infer no isnotnull() below the shared exchange.
    raw = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    key = F.coalesce(F.col("o_orderkey"), F.lit(-1))
    rows = raw.select(
        key.alias("o_orderkey"),
        cents.alias("cents"),
        F.when(key % 997 == 0, cents + 1).otherwise(cents).alias("cents_b"),
        F.coalesce(
            F.pmod(md5_int60(key.cast("string")), F.lit(_MERKLE_BUCKETS)),
            F.lit(0).cast("long"),
        ).alias("bucket"),
    ).repartition("o_orderkey")

    def digests(cents_col, n_col, h_col):
        row_h = F.pmod(
            md5_int60(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("|"),
                    F.col(cents_col).cast("string"),
                )
            ),
            F.lit(1000000000000),
        )
        return rows.groupBy("bucket").agg(
            F.count(F.lit(1)).alias(n_col), F.sum(row_h).alias(h_col)
        )

    divergent = (
        digests("cents", "n_a", "h_a")
        .join(digests("cents_b", "n_b", "h_b"), "bucket", "full_outer")
        .filter(
            (F.coalesce(F.col("n_a"), F.lit(0)) != F.coalesce(F.col("n_b"), F.lit(0)))
            | (F.coalesce(F.col("h_a"), F.lit(0)) != F.coalesce(F.col("h_b"), F.lit(0)))
        )
        .select("bucket")
    )
    a = rows.select("o_orderkey", "cents", "bucket").join(
        F.broadcast(divergent), "bucket", "left_semi"
    )
    b = rows.select("o_orderkey", F.col("cents_b").alias("cents"), "bucket").join(
        F.broadcast(divergent), "bucket", "left_semi"
    )
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            F.col("a.o_orderkey") == F.col("b.o_orderkey"),
            "full_outer",
        )
        .filter(
            F.coalesce(F.col("a.cents"), F.lit(-1))
            != F.coalesce(F.col("b.cents"), F.lit(-1))
        )
        .select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey"))
            .cast("long")
            .alias("o_orderkey"),
            F.col("a.bucket").cast("long").alias("bucket"),
            F.col("a.cents").cast("long").alias("cents_good"),
            F.col("b.cents").cast("long").alias("cents_corrupt"),
        )
    )


SQL_MERKLE_ROW_REPAIR = f"""
WITH o AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
           % {_MERKLE_BUCKETS} AS bucket
  FROM orders
)
SELECT o_orderkey, CAST(bucket AS BIGINT) AS bucket,
       cents AS cents_good,
       CAST(cents + 1 AS BIGINT) AS cents_corrupt
FROM o WHERE o_orderkey % 997 = 0
"""


WORKLOADS = {
    "stream_ivm_replay": (q_stream_ivm_replay, SQL_IVM_AGG_MAINTENANCE),
    "merkle_row_repair": (q_merkle_row_repair, SQL_MERKLE_ROW_REPAIR),
}
