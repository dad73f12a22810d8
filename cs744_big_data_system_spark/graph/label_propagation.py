"""Community detection via synchronous label propagation (Raghavan et
al. 2007) — the third iterative graph kernel beside PageRank and
BFS/SSSP (SURVEY.md §2.9; like them it follows the engine's superstep
conventions, the reference having no community code to cite).

Deterministic variant: every node starts labeled with its own id; each
superstep relabels every node with the most frequent label among its
neighbors, ties broken by the SMALLEST label, isolated nodes keep
theirs. Synchronous updates + total tie order make the result a pure
function of the graph — reproducible run-to-run (the classic
asynchronous LPA is order-dependent by design; determinism is worth
more than convergence speed in a data pipeline).

Scale shape per superstep: one (neighbor → label) join that reuses the
cached edge table's partitioning, one (node, label) count groupBy, one
argmax window per node — all keyed on node ids, no broadcast of
anything that grows with |V|. Labels table is localCheckpoint'd each
round (pagerank.py cadence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges(src, dst) treated as UNDIRECTED → (node, label) community
    assignment after ``iterations`` synchronous rounds. The result
    carries ``cached_links`` (pagerank contract)."""
    und = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    links = (
        und.unionByName(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    if num_partitions:
        links = links.repartition(num_partitions, "src")
    links = links.persist()

    # Materialize the edge cache: nodes and every round read it.
    links.count()

    nodes = links.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))

    for _ in range(iterations):
        # Neighbor labels: edge (src→dst) contributes src's label to
        # dst. The join reuses links' src partitioning; the vote count
        # is map-side combinable on (node, label).
        votes = (
            links.join(
                labels.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("votes").desc(), F.col("label").asc()
        )
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    labels.cached_links = links
    return labels


def community_sizes(labels: DataFrame) -> DataFrame:
    """(label, n_members) — the usual rollup consumed downstream."""
    return labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
