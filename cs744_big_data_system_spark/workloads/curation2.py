"""Round-5 curation / analytics batch: the operational shapes a
large-scale training-data pipeline runs day to day that the r01–r04
registry didn't yet cover —

  * ``dedup_incremental`` — new-batch-vs-indexed-corpus near-dup
    flagging (the incremental-ingest twin of the corpus self-join);
  * ``retrieval_ndcg`` — graded ranking quality (NDCG@k) of the ANN
    index against exact cosine truth, the metric that catches "recall
    is fine but the ORDER is wrong";
  * ``graph_clustering_coeff`` — per-node local clustering coefficient
    binned by degree (triangle closure vs degree, the classic
    structure probe on the interaction graph);
  * ``skyline_2d`` — the Pareto-optimal (non-dominated) frontier over
    two measures, as a sort + running-extremum scan instead of the
    quadratic NOT EXISTS.

Every query is oracle-backed; per the registry ordering invariant
these are APPENDED after the never-attested block and enter the
driver's attestation window in round 6.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs744_big_data_system_spark.operators.dedup import (
    MINHASH_PRIME,
    incremental_lsh_dedup,
    minhash_params,
)
from cs744_big_data_system_spark.sources.readers import load_table
from cs744_big_data_system_spark.workloads.llm import (
    _SQL_CANON_TOKS,
    _SQL_NGRAM3,
    _sql_md5_int60,
)

__all__ = ["WORKLOADS"]


# --- Incremental (batch-vs-corpus) near-dup dedup ---
#: deterministic ingest split: every 10th doc_id arrives as the "new
#: batch", the rest is the already-indexed corpus.
_BATCH_MOD = 10


def q_dedup_incremental(spark, sf_dir):
    """Flag each newly-ingested document that near-duplicates the
    existing corpus (operators/dedup.incremental_lsh_dedup): corpus
    banded once into an LSH index, batch probes it — the day-to-day
    shape at 100 TB, where the corpus index persists between runs and
    only the delta shuffles. Candidates verify by exact signature
    agreement; best match picked by an integer min-of-struct (no
    window). Fully deterministic (md5 + universal hashes mod a fixed
    prime), hence hash-checked like dedup_minhash_lsh."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % _BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _BATCH_MOD != 0)
    return incremental_lsh_dedup(
        corpus, batch, n=3, num_hashes=32, bands=8, threshold=0.4
    )


def _sql_dedup_incremental(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.4
) -> str:
    """DuckDB mirror of incremental_lsh_dedup over the same %-split:
    identical universal-hash minima, identical md5 band keys, the
    directional batch→corpus candidate join, row_number best pick
    (== the engine's integer min-of-struct)."""
    rows_per_band = num_hashes // bands
    members = ",\n       ".join(
        f"min(({minhash_params(i)[0]} * x + {minhash_params(i)[1]}) % {MINHASH_PRIME}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', "
        + ", ".join(
            f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + ")) AS band_hash FROM sig"
        for b in range(bands)
    )
    agree = "\n         + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
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
), cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS match_id
  FROM bands b
  JOIN bands c ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
  WHERE b.doc_id % {_BATCH_MOD} = 0 AND c.doc_id % {_BATCH_MOD} <> 0
), verified AS (
  SELECT cand.batch_id, cand.match_id, ({agree}) AS agree
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.batch_id
  JOIN sig sb ON sb.doc_id = cand.match_id
  WHERE round(({agree}) / {float(num_hashes)}, 6) >= {threshold}
), ranked AS (
  SELECT batch_id, match_id, agree,
         row_number() OVER (PARTITION BY batch_id
                            ORDER BY agree DESC, match_id ASC) AS rn
  FROM verified
), counts AS (
  SELECT batch_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM verified GROUP BY batch_id
)
SELECT d.doc_id,
       CASE WHEN r.batch_id IS NULL THEN 0 ELSE 1 END AS is_dup,
       r.match_id AS match_id,
       round(r.agree / {float(num_hashes)}, 6) AS est_jaccard,
       COALESCE(c.n_matches, 0) AS n_matches
FROM documents d
LEFT JOIN ranked r ON r.batch_id = d.doc_id AND r.rn = 1
LEFT JOIN counts c ON c.batch_id = d.doc_id
WHERE d.doc_id % {_BATCH_MOD} = 0
"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


# --- NDCG@k of the ANN index vs exact-cosine graded truth ---
_NDCG_K = 10


def _ndcg_gain_table() -> dict[int, int]:
    """Integer micro-gain lookup: gain(rel, pos) = floor(1e6 · rel /
    log2(pos+1) + 0.5), keyed rel·100+pos. Computed HOST-side once and
    emitted as identical literals into both engines, so no cross-engine
    log2 ulp can reach the output (the same pinning trick as the NB
    micro-nat log-odds)."""
    import math

    return {
        rel * 100 + pos: int(math.floor(1e6 * rel / math.log2(pos + 1) + 0.5))
        for rel in range(1, _NDCG_K + 1)
        for pos in range(1, _NDCG_K + 1)
    }


_NDCG_GAINS = _ndcg_gain_table()
#: ideal DCG: the truth list itself in order (rel = K..1 at pos = 1..K)
_NDCG_IDCG = sum(_NDCG_GAINS[(_NDCG_K + 1 - p) * 100 + p] for p in range(1, _NDCG_K + 1))


def q_retrieval_ndcg(spark, sf_dir):
    """Graded ranking quality of the IVF ANN index: NDCG@10 per query
    against exact brute-force cosine truth (rel = 11 − exact rank).
    Recall@k (ann_recall_eval) only checks set overlap; NDCG catches
    the failure mode where the index returns the right neighbors in
    the wrong ORDER. DCG terms come from a host-computed integer
    micro-gain table emitted as plan literals into both engines, so
    the whole metric hash-checks.

    Scale shape: both rankings are the already-audited top-k operators
    (broadcast queries, bucketed IVF probe); the eval itself is a
    query-keyed left join of two k-row-per-query tables + one
    aggregation — cost ∝ queries · k, independent of corpus size."""
    from cs744_big_data_system_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = cosine_topk_bruteforce(queries, emb, k=_NDCG_K).select(
        "query_id",
        "neighbor_id",
        (F.lit(_NDCG_K + 1) - F.col("rnk")).alias("rel"),
    )
    approx = cosine_topk_ivf(queries, emb, num_centroids=8, k=_NDCG_K).select(
        "query_id", "neighbor_id", F.col("rnk").alias("pos")
    )
    gain_map = F.create_map(
        *[F.lit(x) for kv in sorted(_NDCG_GAINS.items()) for x in kv]
    )
    j = approx.join(truth, ["query_id", "neighbor_id"], "left")
    term = F.when(
        F.col("rel").isNotNull(),
        F.element_at(gain_map, (F.col("rel") * 100 + F.col("pos")).cast("int")),
    ).otherwise(F.lit(0))
    per_q = j.groupBy("query_id").agg(
        F.sum(term).cast("long").alias("dcg_ppm"),
        F.sum(F.col("rel").isNotNull().cast("int")).cast("long").alias("n_hits"),
    )
    return per_q.select(
        "query_id",
        "dcg_ppm",
        "n_hits",
        F.round(F.col("dcg_ppm") / F.lit(float(_NDCG_IDCG)), 6).alias("ndcg"),
    )


def _sql_retrieval_ndcg() -> str:
    from cs744_big_data_system_spark.workloads.llm import _SQL_COS, _SQL_COS_QN, _SQL_COS_VC

    gains_values = ", ".join(f"({k}, {g})" for k, g in sorted(_NDCG_GAINS.items()))
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id, {_NDCG_K + 1} - rnk AS rel FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({_SQL_COS}, 6) DESC, b.vec_id ASC) AS rnk
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 20
  ) WHERE rnk <= {_NDCG_K}
), cent AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({_SQL_COS_VC}, 6) DESC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN cent c
  ) WHERE rn = 1
), approx AS (
  SELECT query_id, neighbor_id, rnk AS pos FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_SQL_COS_QN}, 6) DESC, n.vec_id ASC) AS rnk
    FROM embeddings q
    JOIN assign qa ON qa.vec_id = q.vec_id
    JOIN assign na ON na.centroid_id = qa.centroid_id
    JOIN embeddings n ON n.vec_id = na.vec_id AND n.vec_id <> q.vec_id
    WHERE q.vec_id < 20
  ) WHERE rnk <= {_NDCG_K}
), gains(k, g) AS (
  VALUES {gains_values}
), terms AS (
  SELECT s.query_id,
         COALESCE(g.g, 0) AS term,
         CASE WHEN t.rel IS NULL THEN 0 ELSE 1 END AS hit
  FROM approx s
  LEFT JOIN truth t ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
  LEFT JOIN gains g ON g.k = t.rel * 100 + s.pos
)
SELECT query_id,
       CAST(sum(term) AS BIGINT) AS dcg_ppm,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       round(CAST(sum(term) AS BIGINT) / {float(_NDCG_IDCG)!r}, 6) AS ndcg
FROM terms GROUP BY query_id
"""


SQL_RETRIEVAL_NDCG = _sql_retrieval_ndcg()


# --- Local clustering coefficient, binned by degree ---
def q_graph_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient on the synthetic hash
    graph — cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — reported as a
    degree-binned profile (degree, n_nodes, sum_tri, mean_cc_ppm), the
    triangle-closure-vs-degree curve that distinguishes clustered from
    random structure.

    Numerics: cc is computed in integer ppm via floor(x + 0.5) —
    IEEE division of identical integers is exactly rounded, and
    floor/+ are exact, so BOTH engines produce bit-identical BIGINTs
    with no round()-mode exposure; the binned mean is again
    integer-over-integer.

    Scale shape: wedges are Σ deg(v)² rows from one self-join of the
    undirected edge list; at web scale the degree-oriented variant
    (graph/triangles.py, O(m^1.5)) bounds this — the per-node profile
    here keeps the straightforward wedge join, keyed by near-uniform
    node ids, and everything after is a two-level integer aggregation."""
    from cs744_big_data_system_spark.workloads.streaming_graph import _hash_graph

    g = _hash_graph(spark).filter(F.col("src") != F.col("dst"))
    canon = g.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    und = canon.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        canon.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    w1 = und.select(F.col("a").alias("node"), F.col("b").alias("x"))
    w2 = und.select(F.col("a").alias("node"), F.col("b").alias("y"))
    wedges = w1.join(w2, "node").filter(F.col("x") < F.col("y"))
    tri = (
        wedges.join(
            canon, (wedges["x"] == canon["u"]) & (wedges["y"] == canon["v"])
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    per_node = (
        deg.join(tri, deg["a"] == tri["node"], "left")
        .select(
            F.col("deg"),
            F.coalesce("tri", F.lit(0)).alias("tri"),
        )
        .withColumn(
            "cc_ppm",
            F.when(
                F.col("deg") >= 2,
                F.floor(
                    F.lit(2000000.0)
                    * F.col("tri")
                    / (F.col("deg") * (F.col("deg") - 1))
                    + F.lit(0.5)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    return (
        per_node.groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("tri").cast("long").alias("sum_tri"),
            F.floor(
                F.sum("cc_ppm") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_cc_ppm"),
        )
        .select(F.col("deg").cast("long").alias("degree"), "n_nodes", "sum_tri", "mean_cc_ppm")
        .orderBy("degree")
    )


def _sql_graph_clustering_coeff() -> str:
    from cs744_big_data_system_spark.workloads.streaming_graph import _SQL_CANON_GRAPH

    return f"""
WITH canon AS ({_SQL_CANON_GRAPH}),
und AS (
  SELECT u AS a, v AS b FROM canon
  UNION ALL
  SELECT v AS a, u AS b FROM canon
), deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY a
), tri AS (
  SELECT w1.a AS node, CAST(count(*) AS BIGINT) AS tri
  FROM und w1
  JOIN und w2 ON w2.a = w1.a AND w1.b < w2.b
  JOIN canon c ON c.u = w1.b AND c.v = w2.b
  GROUP BY w1.a
), per_node AS (
  SELECT d.deg,
         COALESCE(t.tri, 0) AS tri,
         CASE WHEN d.deg >= 2 THEN
           CAST(floor(2000000.0 * COALESCE(t.tri, 0)
                      / (d.deg * (d.deg - 1)) + 0.5) AS BIGINT)
         ELSE 0 END AS cc_ppm
  FROM deg d LEFT JOIN tri t ON t.node = d.a
)
SELECT deg AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(tri) AS BIGINT) AS sum_tri,
       CAST(floor(CAST(sum(cc_ppm) AS BIGINT) * 1.0 / count(*) + 0.5) AS BIGINT) AS mean_cc_ppm
FROM per_node GROUP BY deg ORDER BY deg
"""


SQL_GRAPH_CLUSTERING_COEFF = _sql_graph_clustering_coeff()


# --- 2-D skyline (Pareto frontier) ---
def q_skyline_2d(spark, sf_dir):
    """The Pareto-optimal parts under (minimize p_retailprice,
    maximize p_size): a part is dominated if some other part is no
    worse on both measures and strictly better on one. Computed as the
    classic sort-scan — collapse to one row per price (the per-price
    max size), then keep a price point iff its max size strictly
    exceeds the running max over all cheaper prices — O(n log n) and
    expressible as one aggregation plus one window over the ~|distinct
    prices| table, never the quadratic NOT-EXISTS pair test. The
    oracle IS the quadratic NOT-EXISTS (different algorithm, same
    rows), so the equivalence itself is what's hash-checked.

    Scale shape: one groupBy on price (map-side combinable) + a window
    over the price-distinct table (orders of magnitude smaller than
    the input; a range-partitioned sort at worst) + one semi-join back
    to recover the surviving part rows."""
    part = load_table(spark, sf_dir, "part")
    per_price = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = (
        Window.orderBy(F.col("p_retailprice").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_price.withColumn("rm", F.max("gmax").over(w))
        .filter(F.col("rm").isNull() | (F.col("gmax") > F.col("rm")))
        .select("p_retailprice", F.col("gmax").alias("p_size"))
    )
    return (
        part.join(frontier, ["p_retailprice", "p_size"])
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


SQL_SKYLINE_2D = """
SELECT p_partkey, p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY p_partkey
"""


# --- Link prediction by neighbor Jaccard ---
_LINKPRED_K = 20


def q_graph_link_prediction(spark, sf_dir):
    """Top-k missing-edge predictions on the hash graph by neighbor
    Jaccard — score(u,w) = |N(u)∩N(w)| / |N(u)∪N(w)| over two-hop
    candidate pairs that are NOT already edges, the classic
    common-neighbors recommender. All integer counts until the final
    ppm score (floor(x+0.5) on an IEEE-exact division), so the ranking
    hash-checks.

    Scale shape: candidates come from the same wedge join as the
    triangle/clustering pass (Σ deg² rows, hub-capped at web scale);
    scoring is one count aggregation keyed by the candidate pair, two
    broadcast-size degree joins, and a global top-k (TakeOrdered — no
    full sort)."""
    from cs744_big_data_system_spark.workloads.streaming_graph import _hash_graph

    g = _hash_graph(spark).filter(F.col("src") != F.col("dst"))
    canon = g.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    und = canon.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        canon.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    w1 = und.select(F.col("a").alias("mid"), F.col("b").alias("u"))
    w2 = und.select(F.col("a").alias("mid"), F.col("b").alias("w"))
    edges_uw = canon.select(F.col("u"), F.col("v").alias("w"))
    cand = (
        w1.join(w2, "mid")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(edges_uw, ["u", "w"], "left_anti")
    )
    du = deg.select(F.col("a").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("a").alias("w"), F.col("deg").alias("deg_w"))
    scored = (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dw), "w")
        .select(
            "u",
            "w",
            "common",
            (F.col("deg_u") + F.col("deg_w") - F.col("common")).alias("union_cnt"),
        )
        .withColumn(
            "score_ppm",
            F.floor(
                F.lit(1000000.0) * F.col("common") / F.col("union_cnt") + F.lit(0.5)
            ).cast("long"),
        )
    )
    return (
        scored.orderBy(
            F.col("score_ppm").desc(), F.col("u").asc(), F.col("w").asc()
        )
        .limit(_LINKPRED_K)
        .select(
            F.col("u").cast("long").alias("u"),
            F.col("w").cast("long").alias("w"),
            F.col("common").cast("long").alias("common"),
            F.col("union_cnt").cast("long").alias("union_cnt"),
            "score_ppm",
        )
    )


def _sql_graph_link_prediction() -> str:
    from cs744_big_data_system_spark.workloads.streaming_graph import _SQL_CANON_GRAPH

    return f"""
WITH canon AS ({_SQL_CANON_GRAPH}),
und AS (
  SELECT u AS a, v AS b FROM canon
  UNION ALL
  SELECT v AS a, u AS b FROM canon
), deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY a
), cand AS (
  SELECT w1.b AS u, w2.b AS w, CAST(count(*) AS BIGINT) AS common
  FROM und w1
  JOIN und w2 ON w2.a = w1.a AND w1.b < w2.b
  GROUP BY w1.b, w2.b
), noedge AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM canon e WHERE e.u = c.u AND e.v = c.w)
), scored AS (
  SELECT n.u, n.w, n.common,
         du.deg + dw.deg - n.common AS union_cnt,
         CAST(floor(1000000.0 * n.common / (du.deg + dw.deg - n.common) + 0.5)
              AS BIGINT) AS score_ppm
  FROM noedge n
  JOIN deg du ON du.a = n.u
  JOIN deg dw ON dw.a = n.w
)
SELECT u, w, common, union_cnt, score_ppm
FROM scored
ORDER BY score_ppm DESC, u ASC, w ASC
LIMIT {_LINKPRED_K}
"""


SQL_GRAPH_LINK_PREDICTION = _sql_graph_link_prediction()


# --- Per-source corpus datasheet ("data card") ---
def q_data_card_report(spark, sf_dir):
    """One datasheet row per corpus source — the nutrition label a
    training-data pipeline publishes per ingest: volume (docs, chars,
    whitespace tokens), language spread (distinct langs + dominant
    lang by count with lexicographic tiebreak), exact-duplicate rate
    (md5 text groups), and the exact median length.

    Scale shape: everything reduces through source-keyed map-side-
    combinable aggregates except the exact median (one per-source
    percentile — at 100 TB you'd swap in approx_percentile; the exact
    twin keeps this row hash-checkable) and the dup count (one
    (source, text-hash) pre-aggregation, same key family as
    dedup_exact)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    base = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
    )
    langs = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.min(
                F.struct((F.lit(0) - F.col("n")).alias("neg_n"), F.col("lang").alias("l"))
            )["l"].alias("top_lang"),
        )
    )
    dups = (
        docs.groupBy("source", F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("long").alias("dup_docs"))
    )
    return (
        base.join(langs, "source")
        .join(dups, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            F.round("median_chars", 1).alias("median_chars"),
            "n_langs",
            "top_lang",
            "dup_docs",
        )
        .orderBy("source")
    )


SQL_DATA_CARD_REPORT = """
WITH toks AS (
  SELECT source, doc_id, n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
  FROM documents
), base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         median(n_chars) AS median_chars
  FROM toks GROUP BY source
), lc AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
), langs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
         min(struct_pack(neg_n := 0 - n, l := lang)).l AS top_lang
  FROM lc GROUP BY source
), dups AS (
  SELECT source, CAST(sum(c - 1) AS BIGINT) AS dup_docs FROM (
    SELECT source, md5(text) AS h, count(*) AS c
    FROM documents GROUP BY source, md5(text)
  ) GROUP BY source
)
SELECT b.source, b.n_docs, b.total_chars, b.total_tokens,
       round(b.median_chars, 1) AS median_chars,
       l.n_langs, l.top_lang, d.dup_docs
FROM base b JOIN langs l USING (source) JOIN dups d USING (source)
ORDER BY b.source
"""


# --- Streaming data card: the datasheet maintained on ingest ---
def _data_card_state(docs):
    """Per-source running datasheet via applyInPandasWithState: state =
    (n_docs, total_chars, total_tokens, lang names, lang counts) — all
    MERGEABLE statistics, constant-bounded per source (|langs| entries),
    re-emitted each micro-batch the source appears in. The exact median
    and dup-rate columns of the batch card are deliberately absent:
    they are not mergeable in bounded state (that's stream_dedup's job),
    and the streaming card carries exactly the subset a feed can
    maintain forever."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, chars, toks, langs, counts = state.get
            lc = dict(zip(langs, counts))
        else:
            n, chars, toks, lc = 0, 0, 0, {}
        for pdf in pdf_iter:
            n += len(pdf)
            chars += int(pdf["n_chars"].sum())
            toks += int(pdf["n_toks"].sum())
            for lang, c in pdf["lang"].value_counts().items():
                lc[lang] = lc.get(lang, 0) + int(c)
        ordered = sorted(lc)
        state.update((n, chars, toks, ordered, [lc[l] for l in ordered]))
        top = min((-c, l) for l, c in lc.items())[1]
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_docs": [n],
                "total_chars": [chars],
                "total_tokens": [toks],
                "n_langs": [len(lc)],
                "top_lang": [top],
            }
        )

    return docs.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, n_docs long, total_chars long, "
            "total_tokens long, n_langs long, top_lang string"
        ),
        stateStructType=(
            "n long, chars long, toks long, langs array<string>, counts array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_data_card_replay(spark, sf_dir):
    """The data card maintained ONLINE: documents replayed in three
    micro-batch waves through a per-source bounded state; the final
    emission per source (the one with the full doc count) must equal
    the batch datasheet — the same online/offline-agreement proof as
    stream_cdc_replay, for the ingest-monitoring aggregate family.
    Hash-checked against a mergeable-subset oracle of
    SQL_DATA_CARD_REPORT."""
    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    out = replay_waves_to_batch(spark, waves, _data_card_state, output_mode="update")
    # final card per source = the emission carrying the most docs
    # (n_docs strictly increases across a source's emissions)
    return (
        out.groupBy("source")
        .agg(
            F.max(
                F.struct("n_docs", "total_chars", "total_tokens", "n_langs", "top_lang")
            ).alias("s")
        )
        .select(
            "source",
            F.col("s.n_docs").alias("n_docs"),
            F.col("s.total_chars").alias("total_chars"),
            F.col("s.total_tokens").alias("total_tokens"),
            F.col("s.n_langs").alias("n_langs"),
            F.col("s.top_lang").alias("top_lang"),
        )
    )


SQL_STREAM_DATA_CARD = """
WITH toks AS (
  SELECT source, n_chars, lang,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
  FROM documents
), base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens
  FROM toks GROUP BY source
), lc AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
), langs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
         min(struct_pack(neg_n := 0 - n, l := lang)).l AS top_lang
  FROM lc GROUP BY source
)
SELECT b.source, b.n_docs, b.total_chars, b.total_tokens, l.n_langs, l.top_lang
FROM base b JOIN langs l USING (source)
"""


# --- SCD2 as-of lookup: facts joined to the dimension row valid at event time ---
def q_scd2_asof_lookup(spark, sf_dir):
    """Every line item priced against the customer's order-status RUN
    that was valid on its ship date — the canonical warehouse pattern
    of a fact table joined to a type-2 dimension's validity interval
    (valid_from ≤ event < valid_to). Late/early facts fall outside
    every interval and are reported under status '<none>' rather than
    silently dropped.

    Scale shape: the dim build is the existing scd2_history (one
    window pass per business key); the lookup is an equi-join on the
    business key with a range predicate on ISO-8601 date STRINGS
    (lexicographic = chronological, and string compare is bit-exact on
    both engines) — per-key dim runs are few, so the join fan-out is
    bounded; the rollup after is map-side combinable."""
    from cs744_big_data_system_spark.operators.merge import scd2_history

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    dim = scd2_history(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        key="o_custkey",
        tracked="o_orderstatus",
        order_by=["o_orderdate", "o_orderkey"],
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status_asof"),
        "valid_from",
        "valid_to",
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship")
    )
    facts = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
        "l_orderkey",
    )
    looked = facts.join(
        dim,
        (facts["o_custkey"] == dim["custkey"])
        & (dim["valid_from"] <= facts["ship"])
        & (facts["ship"] < dim["valid_to"]),
        "left",
    )
    return (
        looked.groupBy(F.coalesce("status_asof", F.lit("<none>")).alias("status_asof"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy("status_asof")
    )


SQL_SCD2_ASOF_LOOKUP = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), changed AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM ordered WHERE prev IS NULL OR o_orderstatus <> prev
), dim AS (
  SELECT o_custkey AS custkey, o_orderstatus AS status_asof,
         strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
         coalesce(strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d'),
                  '9999-12-31') AS valid_to
  FROM changed
), facts AS (
  SELECT o.o_custkey, l.l_quantity, strftime(l.l_shipdate, '%Y-%m-%d') AS ship
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT coalesce(d.status_asof, '<none>') AS status_asof,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(f.l_quantity), 4) AS sum_qty
FROM facts f
LEFT JOIN dim d ON d.custkey = f.o_custkey
                AND d.valid_from <= f.ship AND f.ship < d.valid_to
GROUP BY coalesce(d.status_asof, '<none>')
ORDER BY status_asof
"""


# --- PSI drift between two time slices of a numeric measure ---
_PSI_CUT = "2024-01-15 00:00:00"
_PSI_QS = [i / 10.0 for i in range(1, 10)]


def q_quantile_drift_psi(spark, sf_dir):
    """Population Stability Index of events.value between the reference
    slice (before the cut) and the current slice (after): bin edges =
    the reference slice's exact deciles, PSI term per bin =
    (p_i − q_i)·ln(p_i/q_i) with Laplace smoothing — the standard
    ML-serving drift monitor, numeric-quantile based (the token-bucket
    sibling is corpus_drift_kl).

    Numerics: counts are exact integers, p/q are IEEE-exact divisions
    of them, and ln is quantized to integer micro-nats with the
    engine-stable +1e-9 nudge (ml/naive_bayes._q_ln) before the
    product, so each bin's term lands in a BIGINT and the row set
    hash-checks.

    Scale shape: one exact-percentile pass over the reference slice
    (at 100 TB: approx_percentile drop-in), then ONE scan of both
    slices with the 9 edges as broadcast literals and a 10-group
    aggregation."""
    from cs744_big_data_system_spark.ml.naive_bayes import _q_ln

    ev = load_table(spark, sf_dir, "events").select(
        "value", (F.col("ts") < F.lit(_PSI_CUT).cast("timestamp")).alias("is_ref")
    )
    edges = (
        ev.filter("is_ref")
        .agg(F.expr(f"percentile(value, array({', '.join(map(str, _PSI_QS))}))").alias("e"))
    )
    binned = (
        ev.crossJoin(F.broadcast(edges))
        .select(
            "is_ref",
            F.size(F.filter(F.col("e"), lambda x: x <= F.col("value"))).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
            F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
        )
    )
    tot = binned.agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur")
    )
    p = (F.col("n_ref") + 1) / (F.col("tot_ref") + 10)
    q = (F.col("n_cur") + 1) / (F.col("tot_cur") + 10)
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.floor((p - q) * (_q_ln(p) - _q_ln(q)) + F.lit(0.5)).cast("long").alias(
                "psi_term_micro"
            ),
        )
        .orderBy("bin")
    )


SQL_QUANTILE_DRIFT_PSI = f"""
WITH ev AS (
  SELECT value, ts < TIMESTAMP '{_PSI_CUT}' AS is_ref FROM events
), edges AS (
  SELECT quantile_cont(value, [{', '.join(map(str, _PSI_QS))}]) AS e
  FROM ev WHERE is_ref
), binned AS (
  SELECT CAST(len(list_filter(edges.e, x -> x <= ev.value)) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM ev CROSS JOIN edges
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
         CAST(sum(n_cur) AS BIGINT) AS tot_cur
  FROM binned
)
SELECT b.bin, b.n_ref, b.n_cur,
       CAST(floor(
         ((b.n_ref + 1) * 1.0 / (t.tot_ref + 10) - (b.n_cur + 1) * 1.0 / (t.tot_cur + 10))
         * (floor(ln((b.n_ref + 1) * 1.0 / (t.tot_ref + 10)) * 1000000 + 0.5 + 1e-9)
            - floor(ln((b.n_cur + 1) * 1.0 / (t.tot_cur + 10)) * 1000000 + 0.5 + 1e-9))
         + 0.5) AS BIGINT) AS psi_term_micro
FROM binned b CROSS JOIN tot t
ORDER BY b.bin
"""


# --- SQL pipe syntax (Spark 4 front end), sharing Q1's oracle ---
def q_sql_pipe_syntax(spark, sf_dir):
    """TPC-H Q1 written in Spark 4's SQL PIPE syntax (`FROM … |>
    WHERE … |> AGGREGATE … GROUP BY …`) — the linear query style
    Catalyst resolves to the SAME logical plan as agg_sums_q1, proving
    front-end parity exactly like flagship_q3_sql does for classic
    SQL text. Shares Q1's DuckDB oracle verbatim."""
    from cs744_big_data_system_spark.sources.readers import load_table as _lt

    _lt(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql("""
FROM pipe_lineitem
|> AGGREGATE round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
   GROUP BY l_returnflag, l_linestatus
""")


def _sql_pipe_oracle() -> str:
    from cs744_big_data_system_spark.workloads.relational import SQL_AGG_SUMS_Q1

    return SQL_AGG_SUMS_Q1


# --- Cluster-size distribution of the near-dup graph ---
def q_dedup_cluster_stats(spark, sf_dir):
    """Size histogram of the simhash→CC near-dup clusters — the
    duplication-profile report a curation run publishes next to the
    data card: how many clusters of each size, how many docs they
    bind, and how many docs would be removed under keep-one-per-
    cluster. Builds on the simhash→CC table of dedup_clusters; the
    stats are two integer aggregations over its few rows."""
    from cs744_big_data_system_spark.workloads.llm import simhash_cc_clusters

    clusters = simhash_cc_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            (F.col("n_docs") - F.col("n_clusters")).cast("long").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


def _sql_dedup_cluster_stats() -> str:
    from cs744_big_data_system_spark.workloads.llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH clusters AS ({SQL_DEDUP_CLUSTERS})
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) - count(DISTINCT cluster_id) AS BIGINT) AS n_removable
FROM clusters GROUP BY cluster_size ORDER BY cluster_size
"""


SQL_DEDUP_CLUSTER_STATS = _sql_dedup_cluster_stats()


# --- Framed audio features over REAL WAV bytes ---
_AUDIO_RATE = 8000
_AUDIO_SAMPLES = 64
_AUDIO_FRAME = 16


def _synthetic_wav_assets(spark, sf_dir):
    """One deterministic mono 16-bit PCM WAV per document, built
    entirely JVM-side: a literal RIFF/fmt/data header + 128 md5-derived
    sample bytes — the same real-container trick as the PPM builder in
    multimodal_resize, so the decode path runs on REAL WAV bytes
    without any media files in the fixture."""
    import struct

    docs = load_table(spark, sf_dir, "documents")
    n_bytes = _AUDIO_SAMPLES * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + n_bytes, b"WAVE", b"fmt ", 16,
        1, 1, _AUDIO_RATE, _AUDIO_RATE * 2, 2, 16,
        b"data", n_bytes,
    )
    pcm = F.concat(*[
        F.to_binary(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":au{i}"))),
            F.lit("hex"),
        )
        for i in range(n_bytes // 16)
    ])
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(F.lit(header), pcm).alias("payload"),
    )


def q_audio_frame_features(spark, sf_dir):
    """Framed audio analysis over real WAV containers: decode PCM via
    the stdlib path (operators/multimodal._decode_wav), split into
    16-sample frames, and emit per-frame RMS and zero-crossing counts
    — the windowed energy/voicing features an audio curation pipeline
    computes before filtering or captioning. Arrow-batched mapInPandas
    (never per-row Python); integer sample math until the final
    rounded RMS, ZCR as an exact integer count. Rows-only by design
    (SQL can't parse RIFF containers); the frame math is pinned by a
    pure-Python golden test."""
    import pandas as pd

    assets = _synthetic_wav_assets(spark, sf_dir)

    def frames(batches):
        import numpy as np  # noqa: PLC0415 — worker-side

        from cs744_big_data_system_spark.operators.multimodal import _decode_wav

        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "rms": [], "n_zero_cross": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                decoded = _decode_wav(bytes(payload))
                if decoded is None:
                    continue
                _, _, s = decoded
                for f in range(len(s) // _AUDIO_FRAME):
                    fr = s[f * _AUDIO_FRAME : (f + 1) * _AUDIO_FRAME].astype(np.float64)
                    out["asset_id"].append(int(aid))
                    out["frame_idx"].append(f)
                    out["rms"].append(round(float(np.sqrt(np.mean(fr * fr))), 6))
                    out["n_zero_cross"].append(
                        int(np.sum(np.signbit(fr[:-1]) != np.signbit(fr[1:])))
                    )
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        frames, "asset_id long, frame_idx int, rms double, n_zero_cross long"
    )


WORKLOADS = {
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "retrieval_ndcg": (q_retrieval_ndcg, SQL_RETRIEVAL_NDCG),
    "graph_clustering_coeff": (q_graph_clustering_coeff, SQL_GRAPH_CLUSTERING_COEFF),
    "skyline_2d": (q_skyline_2d, SQL_SKYLINE_2D),
    "graph_link_prediction": (q_graph_link_prediction, SQL_GRAPH_LINK_PREDICTION),
    "data_card_report": (q_data_card_report, SQL_DATA_CARD_REPORT),
    "stream_data_card_replay": (q_stream_data_card_replay, SQL_STREAM_DATA_CARD),
    "scd2_asof_lookup": (q_scd2_asof_lookup, SQL_SCD2_ASOF_LOOKUP),
    "quantile_drift_psi": (q_quantile_drift_psi, SQL_QUANTILE_DRIFT_PSI),
    "sql_pipe_syntax": (q_sql_pipe_syntax, _sql_pipe_oracle()),
    "dedup_cluster_stats": (q_dedup_cluster_stats, SQL_DEDUP_CLUSTER_STATS),
    "audio_frame_features": (q_audio_frame_features, None),  # RIFF parse — no SQL oracle
}
