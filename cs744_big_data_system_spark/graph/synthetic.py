"""Deterministic synthetic graphs for the large-graph PageRank regime.

The events-derived fixture graph has ~5 nodes, which exercises the
driver-side regime (``pagerank_local``) only; benchmarking the
co-partitioned-links regime (the one that matters when the links don't
fit the driver) needs a graph with a large node and edge set.
Everything is generated JVM-side from `spark.range` + hash columns — no
driver materialization, fully deterministic (xxhash64 is seed-fixed),
and sized by two knobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_graph(
    spark: SparkSession, num_nodes: int = 30_000, avg_out_degree: int = 8
) -> DataFrame:
    """edges(src: string, dst: string), ``num_nodes × avg_out_degree``
    rows. Every node has exactly ``avg_out_degree`` out-edges (id % n)
    so there are no dangling sources; destinations are xxhash64-uniform
    so in-degree is ~Poisson — a skew-free large graph whose per-
    superstep shuffle is the honest cost being measured."""
    n_edges = num_nodes * avg_out_degree
    return spark.range(n_edges).select(
        (F.col("id") % num_nodes).cast("string").alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(num_nodes)).cast("string").alias("dst"),
    )
