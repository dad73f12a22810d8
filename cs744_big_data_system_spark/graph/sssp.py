"""Single-source shortest paths over a weighted edge table — the
weighted sibling of graph/bfs.bfs_hops, as a Bellman-Ford-style
frontier relaxation BSP loop (SURVEY.md §2.9 graph kernels; the
reference's only iterative graph code is assignment1/part3's PageRank,
so like BFS this follows the engine's own superstep conventions).

Scale design (same schema as bfs.py / pagerank.py):
  * the weighted edge table is hash-partitioned on ``src`` once and
    cached; every superstep's expansion join reuses that partitioning,
    so only the (small) frontier moves per round;
  * state is one row per settled node: (node, dist) — the current
    best-known distance. Each round relaxes only edges out of nodes
    IMPROVED last round (the frontier), not the whole node set: once
    the wave passes a region its nodes stop being re-expanded unless a
    genuinely shorter path arrives, which is Bellman-Ford's sparse
    "only changed nodes propagate" optimization;
  * per-round work: frontier ⋈ edges (one shuffle of frontier-sized
    data), a min-groupBy per dst (map-side combinable), and a join
    against dist to keep strict improvements — all keyed on node ids;
  * lineage: the frontier is localCheckpoint'd each round and dist
    every 4 rounds, the pagerank.py cadence;
  * termination: empty frontier (guaranteed with positive weights —
    distances are bounded below) or ``max_iters``.

With the deterministic integer weights used by the workload entry the
whole kernel is oracle-checked against a bounded DuckDB recursive CTE
(workloads/streaming_graph.py::SQL_GRAPH_SSSP) — the weighted
counterpart of the BFS hash-verified kernel — and golden-tested against
a driver-side Dijkstra in tests/test_pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sssp(
    edges: DataFrame,
    source,
    weight_col: str = "w",
    max_iters: int = 30,
    num_partitions: int | None = None,
    broadcast_threshold: int = 8_000_000,
) -> DataFrame:
    """edges(src, dst, w) with positive weights → (node, dist): minimum
    path weight from ``source`` for every reachable node (dist 0 for
    the source). Directed. The result carries ``cached_links`` so
    callers can unpersist after materializing (pagerank contract)."""
    spark = edges.sparkSession
    links = edges.select("src", "dst", F.col(weight_col).alias("w")).filter(
        F.col("src") != F.col("dst")
    )
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist()

    # Materialize the edge cache: every round reads it.
    links.count()

    node_type = dict(links.dtypes)["src"]
    dist = spark.range(1).select(
        F.lit(source).cast(node_type).alias("node"), F.lit(0).cast("long").alias("dist")
    )
    frontier = dist
    dist_rows = 1

    for it in range(1, max_iters + 1):
        # Relax edges out of last round's improved nodes. The candidate
        # min per dst is map-side combinable; the improvement check is
        # a left join against the current dist table keeping rows that
        # are strictly shorter (or reach a brand-new node).
        # frontier/dist broadcast only while small (the bfs.py rule:
        # a set bounded by |V| must not be broadcast at scale); past
        # the threshold the joins shuffle, reusing the edge cache's
        # src partitioning.
        small = dist_rows <= broadcast_threshold
        f_src = frontier.withColumnRenamed("node", "src")
        cand = (
            links.join(
                F.broadcast(f_src) if small else f_src, "src"
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        improved = (
            cand.join(F.broadcast(dist) if small else dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
            .select("node", F.col("d").alias("dist"))
        )
        frontier = improved.localCheckpoint(eager=False)
        n_new = frontier.count()
        if n_new == 0:
            break
        dist_rows += n_new  # upper bound: improvements may revisit nodes
        # dist merge: drop superseded rows, append the improvements.
        # Checkpoint EVERY round (not the BFS cadence): unlike BFS's
        # visited chain — plain unions — each SSSP round adds an
        # anti-join level, and the next frontier's count() action
        # re-evaluates the whole dist lineage; uncheckpointed that
        # re-evaluation compounds per round (benched 9.1s → 4s on the
        # workload graph).
        dist = (
            dist.join(frontier, "node", "left_anti")
            .unionByName(frontier)
            .localCheckpoint(eager=False)
        )
    dist.cached_links = links
    return dist
