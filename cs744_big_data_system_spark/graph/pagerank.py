"""PageRank with the reference's exact semantics, re-expressed as
DataFrame ops (reference: assignment1/part3/task1/task1.py — RDD
groupByKey/join/flatMap/reduceByKey with Python lambdas).

Semantics preserved for parity (SURVEY.md §2.3):
  * init rank 1.0 for every node WITH outgoing edges (task1.py:37 —
    ranks derive from the adjacency keys);
  * update: rank = 0.15 + 0.85 · Σ incoming contributions (task1.py:52);
  * the inner join drops nodes that appear only as destinations, and
    dangling mass is discarded, not redistributed (task1.py:44-47,51);
  * node ids stay strings (task1.py:29-30).

Two regimes, chosen by whether the weighted links fit the driver:
  * ``pagerank_local`` — links that fit the driver (the events-derived
    event-type graph has ~5 nodes and <=25 links; the 240k-edge
    synthetic graph collapses to a few MB). Spark does the edge-scale
    work once (collapse parallel edges, join out-degree), one
    ``toArrow()`` brings the weighted links to the driver, and the
    supersteps run as ``np.bincount`` over integer node indices. Spark
    runs the same jobs at 1 superstep as at 20, and nothing is persisted.
  * ``pagerank`` — the co-partitioned large-graph regime, for links
    that do not fit the driver: the links table is hash-partitioned on
    src to the shuffle width and cached once, so every superstep's join
    reuses its partitioning and only the rank vector shuffles
    (plan-asserted in tests/test_plans.py). The loop localCheckpoints
    every ``checkpoint_every`` supersteps to truncate the growing plan.

A third regime, broadcasting the rank vector into every superstep's
join, was removed: each superstep still cost a broadcast job plus a
shuffle job for ~25 multiply-adds. On the sf0.01 event graph (10
supersteps, 4 cores, noop sink) it ran 24 Spark jobs in 2.2 s per call
(median of 8 warm calls), against 7 jobs in 0.7 s for
``pagerank_local``.

Both kernels keep edges columnar (src, dst, n_para, out_degree) rather
than materializing the reference's adjacency arrays, and both compute
each contribution as ``rank * n_para / out_degree`` with the damping
constants as the same Python floats, so their terms are the doubles
the unrolled-CTE oracle computes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _weighted_links(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → links(src, dst, n_para, out_degree).

    Duplicate edges contribute multiply in the reference (flatMap over
    the full neighbor multiset). Collapsing parallel edges to a weight
    preserves that exactly — the contribution of an (src, dst) pair
    with multiplicity m is m·rank/out_degree — and shrinks the
    per-superstep input from |edges| to |distinct pairs|. The inner
    join on src drops edges whose src is null."""
    links = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_para"))
    degree = links.groupBy("src").agg(F.sum("n_para").alias("out_degree"))
    return links.join(degree, "src")


def pagerank_local(
    edges: DataFrame, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """edges(src: string, dst: string) → (node: string, rank: double),
    with the supersteps run on the driver over the collected weighted
    links. Same semantics as ``pagerank``; the result is built from
    driver-side data, so nothing is persisted and no cache needs
    releasing."""
    links = _weighted_links(edges).toArrow()
    # One integer index per distinct id; a null dst is a node like any
    # other (it receives rank), so nulls are encoded, not masked.
    ids = pa.concat_arrays(
        [links["src"].combine_chunks(), links["dst"].combine_chunks()]
    ).dictionary_encode(null_encoding="encode")
    codes = ids.indices.to_numpy()
    src, dst = codes[: links.num_rows], codes[links.num_rows :]
    n_para = links["n_para"].to_numpy()
    out_degree = links["out_degree"].to_numpy()
    n = len(ids.dictionary)

    # Every source starts with rank 1.0; only nodes holding a rank
    # contribute, only nodes receiving a contribution keep one, and a
    # sink's mass is discarded.
    holds = np.zeros(n, dtype=bool)
    holds[src] = True
    rank = np.ones(n)
    for _ in range(iterations):
        live = holds[src]
        to = dst[live]
        total = np.bincount(
            to, weights=rank[src[live]] * n_para[live] / out_degree[live], minlength=n
        )
        holds = np.zeros(n, dtype=bool)
        holds[to] = True
        rank = (1.0 - damping) + damping * total

    keep = np.flatnonzero(holds)
    out = pa.table({"node": ids.dictionary.take(keep), "rank": rank[keep]})
    return edges.sparkSession.createDataFrame(out, schema="node string, rank double")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    num_partitions: int | None = None,
    cache_links: bool = True,
    checkpoint_every: int = 3,
) -> DataFrame:
    """edges(src: string, dst: string) → (node: string, rank: double).

    ``num_partitions`` mirrors the reference's partition-sweep knob
    (task2.py:36); None lets AQE pick. Set it to the session's
    shuffle-partition count so the cached links' hash partitioning
    satisfies the per-superstep join requirement — links then never
    re-shuffles (plan-asserted in tests/test_plans.py).

    The returned DataFrame carries a ``cached_links`` attribute (the
    persisted links table, or None) so callers that materialize the
    ranks can release the cache: ``ranks.cached_links.unpersist()``.
    """
    links = _weighted_links(edges)  # (src, dst, n_para, out_degree)
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    if cache_links:
        links = links.persist()

    ranks = links.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("rank")
    )

    for i in range(iterations):
        contribs = (
            links.join(ranks, links.src == ranks.node, "inner")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("n_para") / F.col("out_degree")).alias("contrib"),
            )
        )
        new_ranks = (
            contribs.groupBy("node")
            .agg((F.lit(1.0 - damping) + F.lit(damping) * F.sum("contrib")).alias("rank"))
        )
        # Reference parity: ranks only exist for nodes in the adjacency
        # (inner join keyed on source). Destination-only nodes gain a
        # rank entry in the reference's reduceByKey output too — they
        # receive contributions — so new_ranks matches task1.py:52.
        ranks = new_ranks
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)

    # links must stay persisted — the returned DataFrame is lazy and
    # its plan references links once per superstep; unpersisting here
    # would make the caller's first action recompute the edge scan 10×.
    # Expose it so long-lived sessions can release the cache after
    # materializing: `ranks.cached_links.unpersist()` (None when
    # cache_links=False). DataFrames are plain Python objects, so the
    # attribute rides along without touching the plan.
    ranks.cached_links = links if cache_links else None
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    iterations: int = 8,
    damping: float = 0.85,
    num_partitions: int | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Personalized PageRank: the restart mass goes to ``seeds`` only,
    so ranks measure proximity to the seed set — the web-curation
    primitive (rank crawl domains from trusted seeds) that plain
    PageRank's uniform restart can't express.

    Recurrence (kept verbatim in the unrolled-CTE oracle):
        r_0(v)     = 1.0 if v ∈ seeds else 0.0
        r_{i+1}(v) = (1-d)·1[v ∈ seeds] + d·Σ_{u→v} r_i(u)·m(u,v)/deg(u)

    Unlike ``pagerank`` (reference-parity semantics: ranks only for
    contribution receivers), the full node vector is carried so
    unreachable nodes report an explicit 0.0 — at scale the node table
    is the same cardinality PageRank already shuffles per superstep.
    Parallel edges collapse to weights exactly as in ``pagerank``.
    """
    links = _weighted_links(edges)
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist()

    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    seed_ind = F.when(F.col("node").isin(*seeds), F.lit(1.0)).otherwise(F.lit(0.0))
    ranks = nodes.select("node", seed_ind.alias("rank"))

    for i in range(iterations):
        contribs = (
            links.join(ranks, links.src == ranks.node)
            .select(
                F.col("dst").alias("cnode"),
                (F.col("rank") * F.col("n_para") / F.col("out_degree")).alias(
                    "contrib"
                ),
            )
            .groupBy("cnode")
            .agg(F.sum("contrib").alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.cnode, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * seed_ind
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)

    ranks.cached_links = links  # caller releases (see pagerank)
    ranks.cached_nodes = nodes
    return ranks
