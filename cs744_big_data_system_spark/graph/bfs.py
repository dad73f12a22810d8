"""Breadth-first search / shortest hop counts, as a frontier-expansion
BSP loop over the edge table (SURVEY.md §2.9 graph kernels; same
superstep schema as graph/pagerank.py — the reference's only iterative
graph code is assignment1/part3's PageRank, so BFS has no file to cite
and follows the engine's own iterative conventions).

Scale design:
  * the edge table is hash-partitioned on ``src`` once and cached; the
    per-superstep frontier join then reuses that partitioning, so each
    round shuffles only the (tiny) frontier, never the edges;
  * the visited set grows monotonically and is the only state carried
    between rounds; it is localCheckpoint'd periodically to truncate
    the growing lineage (the pagerank.py lesson);
  * the frontier is `left_anti`-joined against visited before
    expanding — each node is EXPANDED exactly once regardless of graph
    diameter (the cached edge table is still re-scanned each round, so
    total scan work is O(rounds·|E|) against memory-resident cache);
  * frontier/visited ride broadcast joins only while small: past
    ``broadcast_threshold`` rows the hints are dropped and the joins
    fall back to shuffles that reuse the edge cache's ``src``
    partitioning — a monotonically growing visited set must not be
    broadcast at |V| scale;
  * termination: the loop stops when the frontier is empty (one cheap
    `isEmpty`-style limit(1) probe per round) or after ``max_iters``.

Unlike the fixed-point kernels (pagerank, k-core), BFS from a single
source IS expressible as a bounded recursive CTE, so the workload
entry is fully oracle-checked against DuckDB (workloads/
streaming_graph.py::SQL_GRAPH_BFS_HOPS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_hops(
    edges: DataFrame,
    source,
    max_iters: int = 20,
    num_partitions: int | None = None,
    broadcast_threshold: int = 8_000_000,
) -> DataFrame:
    """edges(src, dst) → (node, hop) — minimum hop count from
    ``source`` for every reachable node (hop 0 = the source itself).

    Directed reachability: only ``src → dst`` traversals. The returned
    DataFrame carries a ``cached_links`` attribute (the persisted edge
    table) so callers can release the cache after materializing,
    mirroring pagerank()'s contract.
    """
    spark = edges.sparkSession
    links = edges.select("src", "dst").distinct()
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist()

    # Materialize the edge cache: every round reads it.
    links.count()

    src_lit = F.lit(source)
    node_type = dict(links.dtypes)["src"]
    visited = spark.range(1).select(
        src_lit.cast(node_type).alias("node"), F.lit(0).alias("hop")
    )
    frontier = visited.select("node")
    visited_rows = 1

    for hop in range(1, max_iters + 1):
        # Expand: neighbors of the frontier not yet visited. While the
        # visited set is small, broadcast both small sides so the
        # cached links never re-shuffle; past broadcast_threshold rows
        # (the visited count is known exactly from the per-round
        # frontier counts — no extra job) drop the hints and let the
        # joins shuffle, reusing the edge cache's src partitioning.
        small = visited_rows <= broadcast_threshold
        f_side = F.broadcast(frontier) if small else frontier
        v_side = F.broadcast(visited) if small else visited
        neighbors = (
            links.join(f_side, links.src == frontier.node, "left_semi")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(v_side, "node", "left_anti")
        )
        # One action per round: count() both materializes the lazy
        # checkpoint (truncating lineage) and answers the emptiness
        # probe — an eager checkpoint plus a separate limit(1) probe
        # would schedule two jobs per superstep.
        frontier = neighbors.localCheckpoint(eager=False)
        n_new = frontier.count()
        if n_new == 0:
            break
        visited_rows += n_new
        visited = visited.unionByName(
            frontier.select("node", F.lit(hop).alias("hop"))
        )
        # The visited table's plan grows by one union per round;
        # checkpoint every few rounds to keep re-analysis linear.
        if hop % 4 == 0:
            visited = visited.localCheckpoint(eager=False)
    visited.cached_links = links
    return visited


def multi_bfs_hops(
    edges: DataFrame,
    sources: list,
    max_iters: int = 20,
    num_partitions: int | None = None,
    broadcast_threshold: int = 8_000_000,
) -> DataFrame:
    """Batched BFS: minimum hop counts from EVERY seed in ``sources``
    in ONE frontier loop — (seed, node, hop) rows. The landmark /
    distance-sketch primitive: running k seeds in one pass costs one
    edge-cache scan per LEVEL, not per seed·level (k independent
    bfs_hops calls re-scan the edges k times per level and schedule
    k× the jobs).

    Scale design mirrors bfs_hops: edges cached and partitioned on
    ``src`` once; the frontier is keyed by (seed, node), so the
    per-seed searches share every join; visited rides broadcast only
    below ``broadcast_threshold``; each (seed, node) pair expands
    exactly once, so total work is O(levels·|E| + Σ reachable)."""
    spark = edges.sparkSession
    links = edges.select("src", "dst").distinct()
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist()

    links.count()  # materialize the edge cache, as in bfs_hops

    node_type = dict(links.dtypes)["src"]
    visited = spark.createDataFrame(
        [(s, s) for s in sources], f"seed {node_type}, node {node_type}"
    ).select("seed", "node", F.lit(0).alias("hop"))
    frontier = visited.select("seed", "node")
    visited_rows = len(sources)

    for hop in range(1, max_iters + 1):
        small = visited_rows <= broadcast_threshold
        f_side = F.broadcast(frontier) if small else frontier
        v_side = F.broadcast(visited.select("seed", "node")) if small else visited.select("seed", "node")
        neighbors = (
            links.join(f_side, links.src == frontier.node)
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(v_side, ["seed", "node"], "left_anti")
        )
        frontier = neighbors.localCheckpoint(eager=False)
        n_new = frontier.count()
        if n_new == 0:
            break
        visited_rows += n_new
        visited = visited.unionByName(
            frontier.select("seed", "node", F.lit(hop).alias("hop"))
        )
        if hop % 4 == 0:
            visited = visited.localCheckpoint(eager=False)
    visited.cached_links = links
    return visited
