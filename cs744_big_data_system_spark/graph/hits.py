"""HITS (hubs & authorities) as DataFrame ops — the second classic
link-analysis kernel beside PageRank (graph/pagerank.py), with the
max-normalized update that keeps every iteration oracle-mirrorable:

    auth(v) = ( Σ_u  hub(u)·w(u,v) )  / max_v auth_raw
    hub(u)  = ( Σ_v  auth(v)·w(u,v) ) / max_u hub_raw

max-normalization (not L2) is deliberate: max() is accumulation-order
independent, so the only float noise is the per-node contribution sum
— ~1e-16 on a small-node-set graph against the 1e-6 output rounding
bucket, the same determinism argument as the PageRank oracle
(workloads/streaming_graph._sql_pagerank_events).

Scale shape: identical to PageRank's superstep — the weighted collapsed
edge table is built once and cached; each iteration is two
(edge ⋈ score → groupBy-sum) passes plus a broadcast 1-row max; score
vectors are |V|-sized, never edge-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """edges(src, dst) → (node, auth, hub), max-normalized per round.

    Duplicate edges carry weight (collapsed to a count column once, so
    the per-superstep joins run on the distinct-edge relation).
    """
    w = (
        edges.select("src", "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .persist()
    )
    nodes = (
        w.select(F.col("src").alias("node"))
        .unionByName(w.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # Materialize the edge cache: nodes and every half-round read it.
    w.count()

    auth = nodes.select("node", F.lit(1.0).alias("auth"))
    hub = nodes.select("node", F.lit(1.0).alias("hub"))

    # Normalization needs the raw vector AND its max. Consuming the
    # raw plan twice (agg-then-crossJoin) would double the lineage every
    # half-round — 2^rounds recompute (measured: 5 rounds = 130 s on a
    # 5-node graph) — so each half-round EAGERLY localCheckpoints the
    # raw |V|-row score vector first. The checkpoint both truncates the
    # lineage (no exponential re-analysis) and makes the double
    # consumption (1-row max agg + the normalizing select) read
    # materialized blocks. The max then rides a broadcast crossJoin —
    # a 1-row build side — so no single-partition window ever touches
    # the score vector: every stage stays partitioned by node even at
    # web-scale |V| (the old whole-table WindowExec pinned |V| rows in
    # one task).
    def _normalized(raw: DataFrame, out_col: str) -> DataFrame:
        raw = raw.localCheckpoint(eager=True)
        mx = raw.agg(F.max("raw").alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node", (F.col("raw") / F.col("_mx")).alias(out_col)
        )

    for _ in range(iterations):
        auth_raw = (
            w.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("hub") * F.col("w")).alias("raw"))
        )
        # nodes with no in-edges keep score 0 (join back to the node set)
        auth_raw = nodes.join(auth_raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        auth = _normalized(auth_raw, "auth")
        hub_raw = (
            w.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("auth") * F.col("w")).alias("raw"))
        )
        hub_raw = nodes.join(hub_raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        hub = _normalized(hub_raw, "hub")
    out = auth.join(hub, "node")
    out.cached_links = w  # caller may unpersist
    return out
