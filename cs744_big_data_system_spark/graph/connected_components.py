"""Connected components by min-label propagation — the missing last
step of near-duplicate deduplication: candidate PAIRS (MinHash/SimHash
banding) must be closed transitively into CLUSTERS before choosing one
canonical document per group (A~B, B~C ⇒ {A,B,C} even if A,C never
collided in a band).

Algorithm: every node starts labeled with itself; each superstep
replaces a node's label with the min over itself and its neighbors'
labels — converging in diameter supersteps. From superstep
``COMPRESS_FROM`` on, each round ALSO shortcuts through the previous
round's materialized table (pointer jumping: L(v) ← min(L(v),
L_prev(L(v))), valid because labels only decrease and every label is
itself a node of the same component), so long-chain components
converge in O(log diameter) rounds past that point. The first
``COMPRESS_FROM`` rounds are byte-identical to plain propagation —
near-dup clusters usually have tiny diameters and converge before the
compression path ever runs; the graded-perturbation sf1 corpus (clone
chains orig↔r1↔…↔r9 linked through natural near-dups) is what
surfaced >20-diameter components in practice. Deterministic — the
oracle is a recursive CTE computing the same transitive-closure
fixpoint, so it is algorithm-independent.

Same BSP driver-loop shape as graph/pagerank.py (reference anchor:
assignment1/part3/task1/task1.py's iterate-join-aggregate loop): edges
cached once, localCheckpoint to bound the plan, early stop on a
converged superstep.

Checkpoint cadence is 1 (unlike pagerank's 3): the convergence probe
joins the new label table against the PREVIOUS one, so any iteration
left un-checkpointed gets recomputed by the next probe — batching
iterations between checkpoints here costs more in probe re-evaluation
than it saves in materializations (measured ~2x on the simhash-cluster
workload at sf0.1, where components converge in 2-3 supersteps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: superstep index from which pointer jumping joins in. 3 keeps the
#: common small-diameter case (sf0.1 simhash clusters converge in 2-3
#: supersteps) on the exact pre-r08 plan; only genuinely long chains
#: pay the extra label-table join — and then converge geometrically.
COMPRESS_FROM = 3


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    checkpoint_every: int = 1,
) -> DataFrame:
    """edges(src, dst) — undirected semantics — → (node, component)
    where ``component`` is the minimum node id in the component.
    Isolated nodes (absent from edges) are the caller's concern.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    # Materialize the edge cache: every superstep reads it twice.
    und.count()
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )

    converged = False
    prev_sum = None
    for i in range(max_iterations):
        nbr_min = (
            und.join(labels, und.a == labels.node)
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.node2, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        if i >= COMPRESS_FROM:
            # Pointer jumping against the PREVIOUS round's labels — a
            # materialized checkpoint, so the shortcut lookup is one
            # cheap join, never a self-join that would recompute the
            # propagation twice. L_prev(u) <= u for every node u and
            # always stays inside u's component, so min() with it is a
            # pure monotone decrease: the Observation sum invariant and
            # the fixpoint (= component min) are unchanged, only the
            # round count drops from O(diameter) to O(log diameter).
            shortcut = labels.select(
                F.col("node").alias("_pn"), F.col("component").alias("_pc")
            )
            new_labels = (
                new_labels.join(
                    shortcut, new_labels.component == shortcut._pn, "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_pc"), F.col("component")),
                    ).alias("component"),
                )
            )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # Early stop on a monotone invariant: labels only ever
            # DECREASE, so the component-id sum strictly decreases
            # until the fixpoint. The sum rides the CHECKPOINT'S OWN
            # action as an Observation — one job per superstep, not a
            # checkpoint job plus a separate 1-row aggregate (the
            # r05-r06 shape; the observe variant measured ~0.2-0.3 s
            # less per superstep at sf0.1). decimal(38,0) keeps the
            # sum exact at any |V|.
            from pyspark.sql import Observation

            obs = Observation(f"cc_sum_{i}")
            new_labels = new_labels.observe(
                obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).localCheckpoint(eager=True)
            new_sum = obs.get["s"]
            if prev_sum is not None and new_sum == prev_sum:
                labels = new_labels
                converged = True
                break
            prev_sum = new_sum
        labels = new_labels

    if not converged:
        # Materialize the loop's tail ONCE, then probe convergence on
        # the checkpointed labels (otherwise the probe and a later
        # checkpoint would each recompute the un-checkpointed lineage).
        labels = labels.localCheckpoint(eager=True)
        # If one more superstep would still change labels, the diameter
        # exceeded max_iterations and the result is WRONG (split
        # components) — fail loudly rather than dedup wrongly.
        nbr_min = (
            und.join(labels, und.a == labels.node)
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        still_changing = (
            labels.join(nbr_min, labels.node == nbr_min.node2)
            .filter(F.col("nbr_component") < F.col("component"))
            .limit(1)
            .count()
        )
        if still_changing:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "iterations (component diameter too large) — raise max_iterations"
            )

    # On the converged path labels is already an eager checkpoint (the
    # early-stop fires only right after one); either way the lineage no
    # longer references und, so its cache can be released without
    # forcing a recompute on the caller's first action.
    und.unpersist()
    return labels


def dedup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Near-dup candidate pairs → (doc_id, cluster_id, cluster_size);
    cluster_id = min doc_id of the transitive cluster. Every doc keeps
    exactly one row; docs outside any pair are not returned (they are
    their own singleton cluster by definition)."""
    # The candidate-pair plan (typically a banded LSH/simhash
    # self-join) feeds BOTH branches of connected_components' und
    # union; caching it computes the self-join once. Safe to release
    # immediately after the call returns: the eager checkpoints inside
    # the loop mean und (and everything above it) is already
    # materialized by then.
    pairs = pairs.persist()
    try:
        cc = connected_components(pairs, src=id_a, dst=id_b)
    finally:
        pairs.unpersist()
    # Materialized once: consumers such as dedup_keep_best join the
    # cluster table twice.
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
        .localCheckpoint(eager=True)
    )
