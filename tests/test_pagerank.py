"""PageRank parity with the reference semantics
(assignment1/part3/task1/task1.py) on golden graphs.

The expected values come from an independent pure-Python re-execution
of the reference's algorithm (groupByKey → join → flatMap contribs →
reduceByKey → 0.15 + 0.85·sum), including its semantic quirks:
inner-join drops destination-only nodes from contribution, dangling
mass is discarded, duplicate edges contribute multiply.
"""

from __future__ import annotations

import importlib

import pytest


def reference_pagerank(edges: list[tuple[str, str]], iters: int = 10, damping: float = 0.85):
    """Plain-Python mirror of task1.py:26-52 (multiset adjacency)."""
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    ranks = {n: 1.0 for n in adj}
    for _ in range(iters):
        contribs: dict[str, float] = {}
        for node, neighbors in adj.items():
            if node not in ranks:
                continue  # inner join: no rank row yet → contributes nothing
            if len(neighbors) == 0:
                continue
            share = ranks[node] / len(neighbors)
            for nb in neighbors:
                contribs[nb] = contribs.get(nb, 0.0) + share
        ranks = {n: (1 - damping) + damping * c for n, c in contribs.items()}
    return ranks


GOLDEN_EDGES = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("c", "d"),  # d is destination-only (no out-edges) → dangling sink
    ("e", "a"),  # e has out-edges but never receives → rank row vanishes
    ("a", "b"),  # duplicate edge: contributes twice (multiset semantics)
]


#: Both PageRank kernels: the co-partitioned Spark loop and the
#: driver-side supersteps over the collected weighted links.
KERNELS = ("pagerank", "pagerank_local")


def kernel_fn(kernel):
    # graph/__init__ re-exports `pagerank`, shadowing the module of that name
    return getattr(importlib.import_module("cs744_big_data_system_spark.graph.pagerank"), kernel)


def run_engine(spark, edges, kernel="pagerank", **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["rank"] for r in kernel_fn(kernel)(df, **kw).collect()}


def test_golden_graph_parity(spark):
    expected = reference_pagerank(GOLDEN_EDGES, iters=10)
    for kernel in KERNELS:
        got = run_engine(spark, GOLDEN_EDGES, kernel, iterations=10)
        assert set(got) == set(expected), kernel
        for node, r in expected.items():
            assert got[node] == pytest.approx(r, rel=1e-9), (kernel, node)


def test_destination_only_node_receives_rank(spark):
    for kernel in KERNELS:
        got = run_engine(spark, GOLDEN_EDGES, kernel, iterations=3)
        # d has no out-edges: it must appear (it receives contributions)
        # but never contributes — its mass is discarded (task1.py:44-47).
        assert "d" in got, kernel
        # e contributes in iter 1 but receives nothing → drops out of ranks.
        assert "e" not in got, kernel


def test_duplicate_edges_multiset(spark):
    # a→b twice out of 3 out-edges: b gets 2/3 of a's rank in iter 1.
    expected = reference_pagerank(GOLDEN_EDGES, iters=1)
    for kernel in KERNELS:
        got = run_engine(spark, GOLDEN_EDGES, kernel, iterations=1)
        assert got["b"] == pytest.approx(expected["b"], rel=1e-9), kernel


def test_null_ids(spark):
    """A null dst is a node that receives rank; a null src is dropped
    by the links ⋈ degree join, so its edge contributes nothing."""
    edges = [("a", "b"), ("b", None), (None, "a"), ("b", "a"), ("a", "a")]
    expected = {None: 0.394375, "a": 0.742609375, "b": 0.498234375}
    for kernel in KERNELS:
        got = run_engine(spark, edges, kernel, iterations=3)
        assert got == pytest.approx(expected, rel=1e-12), kernel


def test_empty_edge_set(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    for kernel in KERNELS:
        ranks = kernel_fn(kernel)(edges, iterations=3)
        assert ranks.schema.simpleString() == "struct<node:string,rank:double>", kernel
        assert ranks.collect() == [], kernel


def test_partition_knob_and_no_cache_same_result(spark):
    base = run_engine(spark, GOLDEN_EDGES, iterations=5)
    swept = run_engine(spark, GOLDEN_EDGES, iterations=5, num_partitions=7, cache_links=False)
    assert base == pytest.approx(swept)


def test_edge_list_parsing(spark, tmp_path):
    """Reference parse semantics (task1.py:26-31): comments skipped,
    tab split, ids stay strings."""
    from cs744_big_data_system_spark.sources.readers import read_edge_list

    p = tmp_path / "edges.txt"
    p.write_text("# comment line\n001\t002\n002\t001\n\n# trailing\n001\t003\n")
    df = read_edge_list(spark, str(p))
    rows = sorted((r.src, r.dst) for r in df.collect())
    assert rows == [("001", "002"), ("001", "003"), ("002", "001")]
    assert dict(df.dtypes) == {"src": "string", "dst": "string"}


def test_knobs_do_not_change_results(spark):
    """The reference's partition-sweep / cache experiments (task2/task3)
    changed performance, never results — same here for every knob."""
    expected = reference_pagerank(GOLDEN_EDGES, iters=5)
    import pytest as _pt

    for kw in (
        {"num_partitions": 3},
        {"cache_links": False},
        {"checkpoint_every": 1},
        {"checkpoint_every": 0},
    ):
        got = run_engine(spark, GOLDEN_EDGES, iterations=5, **kw)
        assert set(got) == set(expected), kw
        for node, r in expected.items():
            assert got[node] == _pt.approx(r, rel=1e-9), (kw, node)


def test_connected_components_transitive_closure(spark):
    """A~B, B~C must cluster {A,B,C} even though A,C share no edge;
    labels converge to the component minimum."""
    from cs744_big_data_system_spark.graph.connected_components import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (30, 31), (31, 32), (30, 33)],
        ["doc_a", "doc_b"],
    )
    cc = {r.node: r.component for r in connected_components(pairs, "doc_a", "doc_b").collect()}
    assert cc == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30, 33: 30}
    cl = {r.doc_id: (r.cluster_id, r.cluster_size) for r in dedup_clusters(pairs).collect()}
    assert cl[9] == (1, 3) and cl[33] == (30, 4) and cl[21] == (20, 2)


def test_connected_components_long_chain_converges(spark):
    """A path graph longer than the checkpoint cadence still reaches
    the fixpoint (early-stop must not fire before convergence)."""
    from cs744_big_data_system_spark.graph.connected_components import connected_components

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 > cadence 3
    cc = {r.node: r.component for r in connected_components(
        spark.createDataFrame(chain, ["src", "dst"]), max_iterations=20
    ).collect()}
    assert set(cc.values()) == {0}


def test_fault_recovery_after_cache_block_loss(spark):
    """D8 analogue of the reference's kill-a-worker-at-25%/75% run
    (assignment1/part3/task4/README.md:6, task4.sh:3-4): the
    recoverable failure a single-JVM harness can inject is losing every
    cached block. persist() is a hint backed by lineage — after a full
    cache wipe the SAME lazy result must rebuild the links table from
    source and reproduce identical ranks, and a fresh run must agree
    with the golden reference values."""
    import pytest as _pt

    from cs744_big_data_system_spark.graph.pagerank import pagerank

    df = spark.createDataFrame(GOLDEN_EDGES, ["src", "dst"])
    ranks_df = pagerank(df, iterations=6, checkpoint_every=3)
    r1 = {r.node: r.rank for r in ranks_df.collect()}

    # Simulate executor/block loss for everything the catalog persisted
    # (the cached links table pagerank relies on each superstep).
    spark.catalog.clearCache()

    r2 = {r.node: r.rank for r in ranks_df.collect()}  # recompute via lineage
    assert set(r1) == set(r2)
    for node in r1:
        assert r2[node] == _pt.approx(r1[node], rel=1e-12), node

    expected = reference_pagerank(GOLDEN_EDGES, iters=6)
    for node, r in expected.items():
        assert r2[node] == _pt.approx(r, rel=1e-9), node


def test_triangle_count_golden(spark):
    from cs744_big_data_system_spark.graph.triangles import (
        degree_histogram,
        triangle_count,
    )

    # K4 (4 triangles) + a pendant node + a duplicate/reversed/self edge
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 4), (1, 0), (2, 2), (0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)

    hist = {r.degree: r.n_nodes for r in degree_histogram(df).collect()}
    assert hist == {3: 3, 4: 1, 1: 1}


def test_triangle_count_star_is_zero(spark):
    # a hub with many spokes has no triangles: the degree orientation
    # must point every edge AT the hub (no wedge fan-out from it)
    from cs744_big_data_system_spark.graph.triangles import triangle_count

    df = spark.createDataFrame([(0, i) for i in range(1, 30)], ["src", "dst"])
    assert triangle_count(df).collect()[0].n_triangles == 0


def test_kcore_peeling_golden(spark):
    from cs744_big_data_system_spark.graph.kcore import k_core

    # triangle {0,1,2} + tail 2-3-4: the 2-core is exactly the triangle
    # (3 peels off after 4 does — cascade, not single-pass)
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.core_degree for r in k_core(df, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}

    # K4: 3-core is all of it, 4-core is empty
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], ["src", "dst"]
    )
    assert {r.node for r in k_core(k4, k=3).collect()} == {0, 1, 2, 3}
    assert k_core(k4, k=4).count() == 0


def test_sssp_matches_driver_dijkstra(spark):
    """Weighted SSSP BSP loop vs an independent driver-side Dijkstra on
    a small deterministic graph (same construction as the workload's
    hash graph, smaller N so the golden run is instant)."""
    import heapq
    from collections import defaultdict

    from pyspark.sql import functions as F

    from cs744_big_data_system_spark.graph.sssp import sssp

    N, D, A, B = 200, 4, 17, 29
    adj = defaultdict(list)
    rows = []
    for s in range(N):
        for j in range(1, D + 1):
            d = (s * s * A + j * B) % N
            if d != s:
                w = (s * 7 + d * 13) % 9 + 1
                adj[s].append((d, w))
                rows.append((s, d, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist.get(u, 1 << 60):
            continue
        for v, w in adj[u]:
            nd = dd + w
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    edges = spark.createDataFrame(rows, ["src", "dst", "w"])
    out = sssp(edges, source=0, max_iters=40, num_partitions=4)
    got = {r.node: r.dist for r in out.collect()}
    out.cached_links.unpersist()
    assert got == dist


def test_label_propagation_two_cliques(spark):
    """Two 5-cliques joined by one bridge edge: LPA settles each clique
    on its minimum member id, and determinism holds across reruns."""
    from cs744_big_data_system_spark.graph.label_propagation import (
        community_sizes,
        label_propagation,
    )

    edges = []
    for base in (0, 10):
        for a in range(base, base + 5):
            for b in range(a + 1, base + 5):
                edges.append((a, b))
    edges.append((4, 10))  # bridge
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = label_propagation(df, iterations=5)
    got = {r.node: r.label for r in labels.collect()}
    labels.cached_links.unpersist()
    assert set(got) == set(range(5)) | set(range(10, 15))
    assert all(got[n] == got[0] for n in range(5))
    assert all(got[n] == got[10] for n in range(10, 15))
    assert got[0] != got[10]

    labels2 = label_propagation(df, iterations=5)
    got2 = {r.node: r.label for r in labels2.collect()}
    labels2.cached_links.unpersist()
    assert got == got2
    sizes = {r.label: r.n_members for r in community_sizes(labels2).collect()}
    # labels2 is checkpoint-materialized, so sizes can be computed after
    # unpersisting the edge cache.
    assert sorted(sizes.values()) == [5, 5]


def test_hits_bipartite_star_golden(spark):
    """Two pure hubs pointing at one pure authority: after
    max-normalization the authority scores 1 and the hubs score 1,
    with the complementary scores exactly 0."""
    from cs744_big_data_system_spark.graph.hits import hits

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], ["src", "dst"]
    )
    out = {r.node: (r.auth, r.hub) for r in hits(edges, iterations=3).collect()}
    assert out["c"] == (1.0, 0.0)
    assert out["a"] == (0.0, 1.0) and out["b"] == (0.0, 1.0)


def test_hits_weighted_edges_count_multiplicity(spark):
    """Duplicate edges must weight contributions: with a->c twice and
    b->c once, hub(a) must exceed hub(b)."""
    from cs744_big_data_system_spark.graph.hits import hits

    edges = spark.createDataFrame(
        [("a", "c"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    out = {r.node: (r.auth, r.hub) for r in hits(edges, iterations=3).collect()}
    assert out["a"][1] == 1.0 and out["b"][1] == 0.5


def test_modularity_two_cliques_near_half(spark):
    """Two disjoint triangles found by LPA: each community contributes
    e_c/|g| - (d_c/|g|)^2 = 0.5 - 0.25 = 0.25, total Q = 0.5 — the
    textbook maximum for two equal disconnected cliques."""
    from cs744_big_data_system_spark.graph.label_propagation import label_propagation
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)], ["src", "dst"]
    )
    labels = label_propagation(edges, iterations=5)
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    g = und.count()  # 12 directed slots
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("l_src"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("l_dst"))
    tagged = und.join(ls, "src").join(ld, "dst")
    per_c = (
        tagged.groupBy("l_src")
        .agg(
            F.count(F.lit(1)).alias("deg"),
            F.sum((F.col("l_src") == F.col("l_dst")).cast("long")).alias("intra"),
        )
        .collect()
    )
    q = sum(r.intra / g - (r.deg / g) ** 2 for r in per_c)
    assert len(per_c) == 2
    assert abs(q - 0.5) < 1e-9
