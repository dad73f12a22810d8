"""Corpus-curation batch 4b: the remaining operations a training-data
curation team runs between "near-dup pairs exist" and "the corpus is
ready to train on" — canonical-document selection inside each near-dup
cluster, Bloom-filter benchmark decontamination, entity resolution
(sorted-neighborhood record linkage), an inverted index for corpus
search, margin-based bitext mining (LASER/CCMatrix-style), a recall
audit of the MinHash-LSH candidate generator against exact Jaccard
truth, and CDC change-log application.

Reference parity: the reference corpus-processing surface is the
assignment-1 RDD pipeline (/root/reference/assignment1/*); these
queries extend it with the curation steps a 100 TB pipeline needs,
re-expressed as Catalyst-optimizable DataFrame plans. Every query has
a DuckDB oracle; md5-derived hashing (operators/dedup.md5_int60) keeps
the approximate algorithms bit-reproducible on both engines.

Scale notes are per-query docstrings; the shared invariants:
  * every broadcast is bounded independent of corpus size (the Bloom
    bit table is ≤ m = 2^16 rows by construction; the brute-force
    bitext path is the documented demo twin of the IVF scale path);
  * every self-join is banded/blocked (LSH bands, sorted-neighborhood
    windows) — no all-pairs joins;
  * aggregates use min/max-of-struct picks (map-side combinable), not
    whole-table windows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cs744_big_data_system_spark.functions.text import tokens
from cs744_big_data_system_spark.functions.vectors import dot, l2_norm
from cs744_big_data_system_spark.operators.dedup import (
    md5_int60,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
)
from cs744_big_data_system_spark.sources.readers import load_table
from cs744_big_data_system_spark.workloads.llm import (
    _SQL_CANON_TOKS,
    _SQL_COS,
    _SQL_NGRAM3,
    _SQL_TOKS,
    _sql_md5_int60,
    _sql_minhash_lsh,
    _sql_ngram_jaccard,
    simhash_cc_clusters,
    SQL_DEDUP_CLUSTERS,
)

__all__ = ["WORKLOADS"]


# --- Canonical-document selection per near-dup cluster ---
def q_dedup_keep_best(spark, sf_dir):
    """Dedup is only half the job — inside each transitive near-dup
    cluster exactly one document survives, and the survivor should be
    the *best* copy (longest, then smallest id), not an arbitrary one.

    Scale shape: clusters come from the banded simhash pairs + CC
    (both already 100 TB-audited); the canonical pick is a
    min-of-struct aggregate per cluster_id — map-side combinable, no
    window over the corpus. The final join is cluster_id-keyed,
    cardinality = clustered docs only."""
    docs = load_table(spark, sf_dir, "documents")
    # Checkpointed simhash→CC table (workloads/llm.py): it feeds BOTH
    # the canonical-pick aggregate and the final join here.
    clusters = simhash_cc_clusters(spark, sf_dir)  # doc_id, cluster_id, cluster_size
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = (
        j.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (F.lit(0) - F.col("n_chars")).alias("neg_chars"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("b")
        )
        .select("cluster_id", F.col("b.d").alias("canonical_id"))
    )
    return j.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).cast("int").alias("is_kept"),
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH clusters AS ({SQL_DEDUP_CLUSTERS}),
j AS (
  SELECT c.doc_id, c.cluster_id, c.cluster_size, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
), best AS (
  SELECT cluster_id, doc_id AS canonical_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM j) WHERE rn = 1
)
SELECT j.doc_id, j.cluster_id, j.cluster_size, b.canonical_id,
       CAST(CASE WHEN j.doc_id = b.canonical_id THEN 1 ELSE 0 END AS INT) AS is_kept
FROM j JOIN best b USING (cluster_id)
"""


# --- Bloom-filter benchmark decontamination ---
#: Bloom geometry: m bits / k hash functions. m is a hard, corpus-
#: independent bound on filter size (the set-bit table never exceeds
#: m rows, so it always broadcasts); k=3 md5-derived positions.
BLOOM_M = 1 << 16
BLOOM_K = 3
#: sources whose documents form the held-out "benchmark" set.
BLOOM_BENCH_SOURCES = ("src1", "src2")


def _bloom_bitpos(j_col, shingle_col):
    """Bit position of hash j for a shingle: md5(j ':' shingle) mod m —
    deterministic and mirrored exactly in the DuckDB oracle."""
    return md5_int60(
        F.concat(j_col.cast("string"), F.lit(":"), shingle_col)
    ) % BLOOM_M


def q_bloom_decontaminate(spark, sf_dir):
    """Benchmark decontamination with a Bloom filter instead of an
    exact shingle anti-join: the held-out set's shingles are folded
    into m = 2^16 bits (k = 3 md5 hashes), and a corpus shingle is a
    (possibly false-positive) member iff all k bits are set. This is
    the memory-bounded variant of text_decontaminate — the filter is
    O(m) regardless of benchmark size, so at 100 TB the membership
    side stays a broadcast while the exact anti-join's build side
    would keep growing.

    Scale shape: ONE broadcast join (set-bit table ≤ m rows) against
    the exploded (shingle × k) probes, then two doc_id-keyed aggs.
    No corpus self-join anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, n=3).join(docs.select("doc_id", "source"), "doc_id")
    is_bench = F.col("source").isin(*BLOOM_BENCH_SOURCES)
    ks = F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j")

    bits = (
        sh.filter(is_bench)
        .select(ks, "shingle")
        .select(_bloom_bitpos(F.col("j"), F.col("shingle")).alias("bitpos"))
        .distinct()
    )
    corpus = sh.filter(~is_bench)
    # NOTE (r12 negative result): folding the shingle string to its
    # 60-bit md5 before the membership aggregate (narrower shuffle/agg
    # state, guide §2.2) was built, oracle-verified output-identical,
    # and A/B-measured 0.1-0.2 s SLOWER at 32 cores (the extra per-
    # shingle md5 outweighs the byte saving at this SF) — reverted.
    # The intermittent 10-35 s mode this query showed in r11/r12 full-
    # suite runs was diagnosed instead as collectable cross-rep JVM
    # garbage (see bench.py time_query) and fixed by per-rep GC pacing.
    probe = corpus.select("doc_id", "shingle", ks).withColumn(
        "bitpos", _bloom_bitpos(F.col("j"), F.col("shingle"))
    )
    # count(*), not countDistinct(j): probe rows are unique per
    # (doc_id, shingle, j) by construction (distinct shingles × an
    # exploded literal j range, joined against a DISTINCT bit table on
    # an equi-key), so the two are equal — and countDistinct planned a
    # second, wider hash-aggregate phase keyed (doc_id, shingle, j)
    # whose 32-way concurrent string-keyed maps were the peak-heap
    # driver of the r11 vanilla-sweep OOM.
    members = (
        probe.join(F.broadcast(bits), "bitpos")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") == BLOOM_K)
    )
    per_doc = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = members.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_bloom_hits"), F.lit(0).cast("long")).alias(
                "n_bloom_hits"
            ),
            (F.coalesce(F.col("n_bloom_hits"), F.lit(0)) > 0)
            .cast("int")
            .alias("flagged"),
        )
    )


_SQL_BLOOM_POS = _sql_md5_int60("CAST(j AS VARCHAR) || ':' || gram") + f" % {BLOOM_M}"
_SQL_BENCH_IN = "('" + "', '".join(BLOOM_BENCH_SOURCES) + "')"

SQL_BLOOM_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest({_SQL_NGRAM3}) AS gram FROM toks
), lab AS (
  SELECT g.doc_id, g.gram, d.source FROM grams g JOIN documents d USING (doc_id)
), ks AS (
  SELECT unnest([{", ".join(str(j) for j in range(BLOOM_K))}]) AS j
), bits AS (
  SELECT DISTINCT {_SQL_BLOOM_POS} AS bitpos
  FROM lab CROSS JOIN ks WHERE source IN {_SQL_BENCH_IN}
), probe AS (
  SELECT doc_id, gram, j, {_SQL_BLOOM_POS} AS bitpos
  FROM lab CROSS JOIN ks WHERE source NOT IN {_SQL_BENCH_IN}
), members AS (
  SELECT doc_id, gram FROM probe JOIN bits USING (bitpos)
  GROUP BY doc_id, gram HAVING count(DISTINCT j) = {BLOOM_K}
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
  FROM lab WHERE source NOT IN {_SQL_BENCH_IN} GROUP BY doc_id
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits FROM members GROUP BY doc_id
)
SELECT p.doc_id, p.n_shingles,
       CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       CAST(CASE WHEN COALESCE(h.n_bloom_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS flagged
FROM per_doc p LEFT JOIN hits h USING (doc_id)
"""


# --- Entity resolution: sorted-neighborhood record linkage ---
#: sorted-neighborhood window width (compare each record to the next
#: W records in block-sorted order — the classic SNM bound on the
#: per-block quadratic blowup).
SNM_WINDOW = 3
SNM_MAX_EDIT = 2


def q_entity_match_pairs(spark, sf_dir):
    """Record linkage the way a dedup-before-join pipeline does it:
    block on stable attributes, sort within the block, and compare
    each record only against its W sorted neighbors (Hernandez-Stolfo
    sorted-neighborhood), scoring with Levenshtein edit distance.

    Scale shape: the only shuffle is the block-keyed window sort;
    the neighbor join is rank-banded (|rn_a - rn_b| ≤ W), so per-block
    work is O(B·W), never O(B²). Block key = (nation, segment) here;
    production swaps in a higher-cardinality key without changing the
    plan shape."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_name", "c_custkey"
    )
    r = c.withColumn("rn", F.row_number().over(w))
    a = r.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.col("rn").alias("rn_a"),
    )
    b = r.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        a.join(b, ["nk", "seg"])
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= SNM_WINDOW)
        )
        .select(
            "custkey_a",
            "custkey_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= SNM_MAX_EDIT)
    )


SQL_ENTITY_MATCH_PAIRS = f"""
WITH r AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY c_name, c_custkey) AS rn
  FROM customer
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
FROM r a JOIN r b
  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
 AND b.rn > a.rn AND b.rn - a.rn <= {SNM_WINDOW}
WHERE levenshtein(a.c_name, b.c_name) <= {SNM_MAX_EDIT}
"""


# --- Inverted index (token → postings) ---
def q_inverted_index(spark, sf_dir):
    """Corpus search primitive: token → (df, total tf, sorted posting
    list of doc_ids). Two hash aggregations — (token, doc) for tf,
    then token for the postings — both map-side combinable; the
    posting array is sorted so the result is order-deterministic.

    The posting list is emitted as a comma-joined STRING, not a raw
    array column: the driver's canonicalizer sorts result frames with
    pandas ``sort_values``, whose lexsort cannot hash list values
    (CORRECTNESS_r05 red row — ``TypeError: unhashable type: 'list'``).
    Oracle-backed queries must keep scalar output schemas; the registry
    invariant test enforces this for every oracle-backed entry.

    Scale shape: postings for stop-like tokens grow with the corpus;
    at 100 TB the df-cutoff used by the dedup family (hot-key cap)
    applies unchanged — here the full index is the point, and the
    per-token list is the only output whose size tracks df."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    per = tok.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return per.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda d: d.cast("string"),
            ),
        ).alias("postings"),
    )


SQL_INVERTED_INDEX = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
), per AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
)
SELECT token, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM per GROUP BY token
"""


# --- Margin-based bitext mining (LASER/CCMatrix-style) ---
#: neighborhood size for the margin denominator (avg cosine of the
#: k nearest neighbors on each side).
BITEXT_K = 4
BITEXT_MARGIN_MIN = 1.0
#: src-side shard bound for the demo query — production mining runs
#: shard-by-shard over the full src set (each shard is this shape), so
#: the demo mines one fixed shard rather than timing |src|x|tgt| brute
#: force that the IVF path exists to avoid.
BITEXT_SRC_CAP = 600


def q_bitext_margin_mining(spark, sf_dir):
    """Parallel-corpus mining: split the embedding table into a "src"
    and "tgt" half (vec_id parity stands in for the two languages) and
    keep src→tgt top-1 pairs whose margin score — cosine relative to
    the average cosine of each side's k-NN neighborhood — clears the
    threshold (Artetxe-Schwenk margin criterion). The margin
    denominator uses SUMS of 6dp-rounded cosines (not averages), so
    no value can land on a cross-engine rounding boundary.

    Scale shape: this is the brute-force demo twin of the IVF path
    (sim_cosine_topk_ivf) — the pairs plan broadcasts the src side,
    fine at demo scale; at 100 TB the same margin arithmetic runs on
    IVF candidate lists instead of the cross join. Both direction
    top-k's ride ONE pairs subplan (ReuseExchange), then two
    block-keyed window ranks."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < BITEXT_SRC_CAP)
    ).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("s_emb"),
        l2_norm("embedding").alias("s_n"),
    )
    tgt = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("t_emb"),
        l2_norm("embedding").alias("t_n"),
    )
    denom = F.col("s_n") * F.col("t_n")
    cos = F.when(denom > 0, dot("s_emb", "t_emb") / denom)
    pairs = (
        F.broadcast(src)
        .crossJoin(tgt)
        .select("src_id", "tgt_id", F.round(cos, 6).alias("cosine"))
    )
    # Both k-NN neighborhood sums as CONDITIONAL WINDOW SUMS stacked on
    # the rank windows, not groupBy+join consumers: the r11 executed
    # plan evaluated the ranked-pairs subtree three times (s_sum, t_sum,
    # top1 — 6 embeddings scans; consumer-specific column pruning broke
    # AQE exchange reuse). One linear plan needs exactly TWO exchanges
    # of the pairs table: Exchange(src_id) carries rf and s_sum (same
    # partitioning, windows stack shuffle-free), Exchange(tgt_id)
    # carries rr and t_sum. Values identical: each sum adds the same
    # 6dp-rounded cosines as the old groupBy (per-partition top-K sets),
    # rounded to 6 dp; every partition contributes at least its rank-1
    # row, so the window sums are never NULL — matching the old inner
    # joins, which never dropped a top1 row for the same reason.
    w_f = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("tgt_id").asc()
    )
    w_r = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine").desc(), F.col("src_id").asc()
    )
    ranked = (
        pairs.withColumn("rf", F.row_number().over(w_f))
        .withColumn(
            "s_sum",
            F.round(
                F.sum(F.when(F.col("rf") <= BITEXT_K, F.col("cosine"))).over(
                    Window.partitionBy("src_id")
                ),
                6,
            ),
        )
        .withColumn("rr", F.row_number().over(w_r))
        .withColumn(
            "t_sum",
            F.round(
                F.sum(F.when(F.col("rr") <= BITEXT_K, F.col("cosine"))).over(
                    Window.partitionBy("tgt_id")
                ),
                6,
            ),
        )
    )
    margin = F.round(
        (F.lit(2 * BITEXT_K) * F.col("cosine")) / (F.col("s_sum") + F.col("t_sum")),
        6,
    )
    return (
        ranked.filter(F.col("rf") == 1)
        .select("src_id", "tgt_id", "cosine", margin.alias("margin"))
        .filter(F.col("margin") >= BITEXT_MARGIN_MIN)
    )


SQL_BITEXT_MARGIN_MINING = f"""
WITH pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, round({_SQL_COS}, 6) AS cosine
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id % 2 = 0 AND a.vec_id < {BITEXT_SRC_CAP} AND b.vec_id % 2 = 1
), ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, tgt_id ASC) AS rf,
    row_number() OVER (PARTITION BY tgt_id ORDER BY cosine DESC, src_id ASC) AS rr
  FROM pairs
), s_sum AS (
  SELECT src_id, round(sum(cosine), 6) AS s_sum FROM ranked
  WHERE rf <= {BITEXT_K} GROUP BY src_id
), t_sum AS (
  SELECT tgt_id, round(sum(cosine), 6) AS t_sum FROM ranked
  WHERE rr <= {BITEXT_K} GROUP BY tgt_id
)
SELECT r.src_id, r.tgt_id, r.cosine,
       round(({2 * BITEXT_K} * r.cosine) / (s.s_sum + t.t_sum), 6) AS margin
FROM ranked r
JOIN s_sum s USING (src_id)
JOIN t_sum t USING (tgt_id)
WHERE r.rf = 1
  AND round(({2 * BITEXT_K} * r.cosine) / (s.s_sum + t.t_sum), 6) >= {BITEXT_MARGIN_MIN}
"""


# --- Recall audit of the MinHash-LSH candidate generator ---
#: exact-Jaccard threshold defining the ground-truth duplicate set.
RECALL_TRUTH_JACCARD = 0.35


def q_dedup_recall_eval(spark, sf_dir):
    """The dedup twin of ann_recall_eval: how many of the TRUE
    near-dup pairs (exact n-gram Jaccard ≥ τ) does the banded
    MinHash-LSH candidate generator actually surface? Recall is
    reported in exact integer ppm (floor(hit·10^6 / truth)) so the
    single-row result can never hit a float rounding boundary.

    Scale shape: truth-set computation is the already-audited
    df-cut blocked jaccard join (only feasible as an AUDIT at sampled
    scale — which is exactly how recall audits run in production);
    the candidate side is the banded LSH plan."""
    docs = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(
        docs, n=3, threshold=RECALL_TRUTH_JACCARD, block_col="lang", max_df=50
    ).select("doc_a", "doc_b")
    cand = minhash_lsh_pairs(
        docs, n=3, num_hashes=32, bands=8, threshold=0.0
    ).select("doc_a", "doc_b")
    # ONE pass per subplan: a full-outer join marks each pair's side
    # membership, then a single 1-row aggregate derives all three
    # counts — the naive three-aggregate form evaluated the truth and
    # candidate plans twice each (measured ~2x at sf0.01).
    t = truth.withColumn("in_t", F.lit(1))
    c = cand.withColumn("in_c", F.lit(1))
    m = t.join(c, ["doc_a", "doc_b"], "full_outer")
    row = m.agg(
        F.sum(F.coalesce(F.col("in_t"), F.lit(0))).alias("n_truth"),
        F.sum(F.coalesce(F.col("in_c"), F.lit(0))).alias("n_cand"),
        F.sum(
            F.when((F.col("in_t") == 1) & (F.col("in_c") == 1), 1).otherwise(0)
        ).alias("n_hit"),
    )
    recall_ppm = F.when(
        F.col("n_truth") > 0,
        F.floor(F.col("n_hit") * F.lit(1000000) / F.col("n_truth")),
    ).otherwise(F.lit(0))
    return row.select(
        "n_truth", "n_cand", "n_hit", recall_ppm.cast("long").alias("recall_ppm")
    )


SQL_DEDUP_RECALL_EVAL = f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({_sql_ngram_jaccard(RECALL_TRUTH_JACCARD)})
), cand AS (
  SELECT doc_a, doc_b FROM ({_sql_minhash_lsh(threshold=0.0)})
), counts AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)) AS n_hit
)
SELECT n_truth, n_cand, n_hit,
       CAST(CASE WHEN n_truth > 0
                 THEN floor(n_hit * 1000000.0 / n_truth) ELSE 0 END AS BIGINT) AS recall_ppm
FROM counts
"""


# --- CDC change-log application ---
def q_cdc_apply(spark, sf_dir):
    """Apply an ordered change log to produce current state per key —
    the ingestion step that turns an event stream into a dimension
    snapshot. Ops derive from event_type (signup=insert, error=delete,
    rest=update); the survivor per user is the max-of-struct pick on
    (ts, event_id) — map-side combinable, no per-key window.

    Scale shape: one hash aggregation keyed by user_id. The struct
    max carries op and value along with the ordering fields, so no
    second join back to events is needed."""
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
    )
    tagged = ev.select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), op.alias("op"), F.col("value")
        ).alias("s"),
        F.when(op == "D", 1).otherwise(0).alias("is_del"),
    )
    agg = tagged.groupBy("user_id").agg(
        F.max("s").alias("last"),
        F.count(F.lit(1)).alias("n_ops"),
        F.sum("is_del").alias("n_deletes"),
    )
    return agg.select(
        "user_id",
        F.unix_micros(F.col("last.ts")).alias("last_ts"),
        F.col("last.op").alias("last_op"),
        F.when(F.col("last.op") != "D", F.round(F.col("last.value"), 6)).alias(
            "final_value"
        ),
        "n_ops",
        "n_deletes",
    )


SQL_CDC_APPLY = """
WITH tagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM tagged
), counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ops,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM tagged GROUP BY user_id
)
SELECT r.user_id, epoch_us(r.ts) AS last_ts, r.op AS last_op,
       CASE WHEN r.op <> 'D' THEN round(r.value, 6) END AS final_value,
       c.n_ops, c.n_deletes
FROM ranked r JOIN counts c USING (user_id)
WHERE r.rn = 1
"""


WORKLOADS = {
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "bloom_decontaminate": (q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
    "entity_match_pairs": (q_entity_match_pairs, SQL_ENTITY_MATCH_PAIRS),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "bitext_margin_mining": (q_bitext_margin_mining, SQL_BITEXT_MARGIN_MINING),
    "dedup_recall_eval": (q_dedup_recall_eval, SQL_DEDUP_RECALL_EVAL),
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
}


# --- Temperature-based domain resampling ---
#: mixing temperature: target share of domain d ∝ n_d^ALPHA (α=1 keeps
#: the natural mix, α→0 flattens to uniform — 0.5 is the GPT-3/Pile
#: middle ground).
MIX_ALPHA = 0.5


def q_temperature_resample(spark, sf_dir):
    """Rebalance the corpus toward a temperature-smoothed domain mix:
    target share q_d ∝ n_d^α, per-doc keep probability
    p_d = min(1, q_d·N/n_d), membership decided by the md5-uniform
    draw u(doc) < p_d — fully deterministic, so the SAME docs are kept
    on every engine and every rerun (reproducible corpus builds).

    p_d is rounded to 9 dp BEFORE the comparison on both engines: the
    Σ n^α normalizer is the only order-sensitive float here and 9 dp
    sits ~7 orders above its accumulation noise. u is an exact
    60-bit-over-2^60 dyadic, so ties against the 9 dp grid cannot
    flip across engines.

    Scale shape: the per-domain table is |domains| rows (broadcast);
    the corpus side is one scan + one broadcast join + a scan-side
    filter. No shuffle of the corpus at all."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_d"))
    tot = counts.agg(
        F.sum("n_d").alias("n_tot"),
        F.sum(F.pow(F.col("n_d").cast("double"), F.lit(MIX_ALPHA))).alias("z"),
    )
    p = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_d",
        F.round(
            F.least(
                F.lit(1.0),
                F.pow(F.col("n_d").cast("double"), F.lit(MIX_ALPHA))
                / F.col("z")
                * F.col("n_tot")
                / F.col("n_d"),
            ),
            9,
        ).alias("p_keep"),
    )
    u = md5_int60(F.concat(F.lit("tr:"), F.col("doc_id").cast("string"))) / F.lit(
        float(1 << 60)
    )
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(p), "source")
        .withColumn("u", u)
        .filter(F.col("u") < F.col("p_keep"))
        .select("doc_id", "source", "p_keep")
    )


SQL_TEMPERATURE_RESAMPLE = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_d FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_d) AS BIGINT) AS n_tot,
         sum(pow(CAST(n_d AS DOUBLE), {MIX_ALPHA})) AS z
  FROM counts
), p AS (
  SELECT source, n_d,
         round(least(1.0, pow(CAST(n_d AS DOUBLE), {MIX_ALPHA}) / z * n_tot / n_d), 9) AS p_keep
  FROM counts, tot
)
SELECT d.doc_id, d.source, p.p_keep
FROM documents d JOIN p USING (source)
WHERE {_sql_md5_int60("'tr:' || CAST(d.doc_id AS VARCHAR)")} / {float(1 << 60)!r} < p.p_keep
"""


# --- Weak-label NB quality classifier (fasttext-style filter) ---
#: weak-label predicate: "long-form" docs (>= this many whitespace
#: tokens) are the positive class. Pluggable — production swaps in a
#: curated positive set (e.g. wiki/books vs raw crawl); the synthetic
#: corpus fails Gopher's stopword gate wholesale, so the Gopher
#: conjunction would be a degenerate label here.
QUALITY_MIN_WORDS = 80
QUALITY_VOCAB = 100


def q_quality_classifier_nb(spark, sf_dir):
    """The CCNet/fasttext-style quality filter, trained and scored in
    one relational pipeline: weak binary labels -> multinomial NB with
    Laplace smoothing over a bounded vocab -> per-doc log-odds. Reuses
    the micro-nat quantization discipline of ml/naive_bayes.py (every
    log-prob becomes an integer; all scores are BIGINT sums), so
    training AND scoring hash-check against the DuckDB oracle.

    Scale shape: two corpus passes (vocab count, scoring); the model
    is a |V|-row delta table (log-odds per token) — bounded, broadcast;
    scoring is explode + broadcast join + one (doc_id) sum."""
    from cs744_big_data_system_spark.functions.text import normalized_text
    from cs744_big_data_system_spark.ml.naive_bayes import _q_ln

    # NOTE (r12 negative results, both A/B-killed at 32 cores): a
    # shared per-(doc,token)-counts aggregate (one tokenize pass for
    # all three consumers; the new high-cardinality exchange sits on
    # the dependency chain, 2.6 s -> 3.2 s) and a plain scan fan-out
    # (the bare tokenize is cheaper than the exchange it rides) were
    # built, measured, and reverted — the three independent single-task
    # tokenize branches below overlap on idle cores, the cheapest
    # schedule at this shape. Same experiment as ml/naive_bayes.py.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    )
    labeled = docs.select(
        "doc_id",
        "_tk",
        (F.size("_tk") >= QUALITY_MIN_WORDS).cast("int").alias("y"),
    )
    tok = labeled.select("doc_id", "y", F.explode("_tk").alias("token"))

    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(QUALITY_VOCAB)
        .select("token")
    )
    classes = labeled.groupBy("y").agg(F.count(F.lit(1)).alias("n_docs"))
    total = classes.agg(F.sum("n_docs").alias("n"))
    priors = classes.crossJoin(F.broadcast(total)).select(
        "y", _q_ln(F.col("n_docs") * 1.0 / F.col("n")).alias("prior_i")
    )
    tc = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("y", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = (
        classes.select("y")
        .crossJoin(F.broadcast(vocab))
        .join(tc, ["y", "token"], "left")
        .select("y", "token", F.coalesce("c", F.lit(0)).alias("c"))
    )
    totals = grid.groupBy("y").agg(F.sum("c").alias("total_c"))
    lp = grid.join(totals, "y").select(
        "y",
        "token",
        _q_ln(
            (F.col("c") + F.lit(1.0)) / (F.col("total_c") + F.lit(QUALITY_VOCAB))
        ).alias("lp_i"),
    )
    # |V|-row log-odds delta: lp(token|good) - lp(token|bad)
    delta = (
        lp.groupBy("token")
        .agg(
            F.sum(F.when(F.col("y") == 1, F.col("lp_i")).otherwise(-F.col("lp_i"))).alias(
                "d_i"
            )
        )
    )
    prior_delta = priors.groupBy().agg(
        F.sum(
            F.when(F.col("y") == 1, F.col("prior_i")).otherwise(-F.col("prior_i"))
        ).alias("pd_i")
    )
    sums = (
        tok.select("doc_id", "token")
        .join(F.broadcast(delta), "token")
        .groupBy("doc_id")
        .agg(F.sum("d_i").alias("tok_i"))
    )
    return (
        labeled.select("doc_id", "y")
        .join(sums, "doc_id", "left")
        .crossJoin(F.broadcast(prior_delta))
        .select(
            "doc_id",
            F.col("y").alias("y_weak"),
            (F.col("pd_i") + F.coalesce("tok_i", F.lit(0))).alias("log_odds_unats"),
            (F.col("pd_i") + F.coalesce("tok_i", F.lit(0)) > 0).alias("pred_good"),
        )
    )


def _sql_quality_nb(v: int = QUALITY_VOCAB, min_words: int = QUALITY_MIN_WORDS) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), labeled AS (
  SELECT doc_id, tk, CAST(len(tk) >= {min_words} AS INT) AS y FROM docs
), tok AS (
  SELECT doc_id, y, unnest(tk) AS token FROM labeled
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tok GROUP BY token
    ORDER BY c DESC, token LIMIT {v})
), classes AS (
  SELECT y, count(*) AS n_docs FROM labeled GROUP BY y
), total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM classes),
priors AS (
  SELECT y,
         CAST(floor(ln(n_docs * 1.0 / n) * 1000000 + 0.5 + 1e-9) AS BIGINT) AS prior_i
  FROM classes, total
), tc AS (
  SELECT t.y, t.token, count(*) AS c
  FROM tok t JOIN vocab v USING (token) GROUP BY t.y, t.token
), grid AS (
  SELECT c.y, v.token, COALESCE(tc.c, 0) AS c
  FROM classes c CROSS JOIN vocab v
  LEFT JOIN tc ON tc.y = c.y AND tc.token = v.token
), totals AS (
  SELECT y, CAST(sum(c) AS BIGINT) AS total_c FROM grid GROUP BY y
), lp AS (
  SELECT g.y, g.token,
         CAST(floor(ln((g.c + 1.0) / (t.total_c + {v})) * 1000000 + 0.5 + 1e-9) AS BIGINT) AS lp_i
  FROM grid g JOIN totals t USING (y)
), delta AS (
  SELECT token,
         CAST(sum(CASE WHEN y = 1 THEN lp_i ELSE -lp_i END) AS BIGINT) AS d_i
  FROM lp GROUP BY token
), prior_delta AS (
  SELECT CAST(sum(CASE WHEN y = 1 THEN prior_i ELSE -prior_i END) AS BIGINT) AS pd_i
  FROM priors
), sums AS (
  SELECT tok.doc_id, CAST(sum(d.d_i) AS BIGINT) AS tok_i
  FROM tok JOIN delta d USING (token) GROUP BY tok.doc_id
)
SELECT l.doc_id, l.y AS y_weak,
       pd.pd_i + COALESCE(s.tok_i, 0) AS log_odds_unats,
       (pd.pd_i + COALESCE(s.tok_i, 0)) > 0 AS pred_good
FROM labeled l
LEFT JOIN sums s USING (doc_id)
CROSS JOIN prior_delta pd
"""


SQL_QUALITY_NB = _sql_quality_nb()


# --- Personalized PageRank (seeded trust propagation) ---
PPR_SEEDS = ("signup",)
PPR_ITER = 8
PPR_DAMPING = 0.85


def q_graph_personalized_pagerank(spark, sf_dir):
    """Seeded PageRank on the events-derived event-type graph
    (graph/pagerank.personalized_pagerank): restart mass pinned to the
    seed set, full node vector carried so unreachable nodes report an
    explicit 0.0 — the trusted-seed domain-ranking primitive of web
    corpus curation. Hash-checked against an unrolled-CTE oracle like
    pagerank_events (the damping constants are emitted via Python
    float repr, so both engines use the identical doubles)."""
    from cs744_big_data_system_spark.graph.pagerank import personalized_pagerank
    from cs744_big_data_system_spark.sources.readers import edges_from_events

    edges = edges_from_events(load_table(spark, sf_dir, "events"))
    ranks = personalized_pagerank(
        edges,
        seeds=list(PPR_SEEDS),
        iterations=PPR_ITER,
        damping=PPR_DAMPING,
        num_partitions=4,
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _sql_personalized_pagerank(
    iterations: int = PPR_ITER, damping: float = PPR_DAMPING
) -> str:
    seed_in = "('" + "', '".join(PPR_SEEDS) + "')"
    seed_term = f"CASE WHEN n.node IN {seed_in} THEN 1.0 ELSE 0.0 END"
    parts = [
        f"""e AS (
  SELECT prev_type AS src, event_type AS dst FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  ) WHERE prev_type IS NOT NULL
), links0 AS (
  SELECT src, dst, count(*) AS n_para FROM e GROUP BY 1, 2
), degree AS (
  SELECT src, CAST(sum(n_para) AS BIGINT) AS out_degree FROM links0 GROUP BY 1
), l AS MATERIALIZED (
  SELECT l.src, l.dst, l.n_para, d.out_degree FROM links0 l JOIN degree d USING (src)
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM links0 UNION ALL SELECT dst FROM links0)
), r0 AS (
  SELECT n.node, {seed_term} AS rank FROM nodes n)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
  SELECT n.node,
         {1.0 - damping!r} * {seed_term} + {damping!r} * COALESCE(s.c, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT l.dst AS node, sum(r.rank * l.n_para / l.out_degree) AS c
    FROM l JOIN r{i - 1} r ON r.node = l.src GROUP BY l.dst) s USING (node)
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


SQL_PERSONALIZED_PAGERANK = _sql_personalized_pagerank()


# --- Streaming CDC apply (stateful replay, same oracle as batch) ---
def q_stream_cdc_replay(spark, sf_dir):
    """The streaming twin of cdc_apply: per-key current-row state via
    applyInPandasWithState, replayed in three time-ordered waves; the
    final emission per key equals the batch max-of-struct pick, so the
    replay hash-checks against the SAME oracle (SQL_CDC_APPLY) —
    proving the online and offline CDC formulations agree."""
    from cs744_big_data_system_spark.streaming.stateful import cdc_current_state
    from cs744_big_data_system_spark.streaming.windows import replay_waves_to_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    cuts_us = [
        F.unix_micros(F.lit("2024-01-11 00:00:00").cast("timestamp")),
        F.unix_micros(F.lit("2024-01-21 00:00:00").cast("timestamp")),
    ]
    waves = [
        ev.filter(F.col("ts_us") < cuts_us[0]),
        ev.filter((F.col("ts_us") >= cuts_us[0]) & (F.col("ts_us") < cuts_us[1])),
        ev.filter(F.col("ts_us") >= cuts_us[1]),
    ]
    out = replay_waves_to_batch(spark, waves, cdc_current_state, output_mode="update")
    # one update row per (key, batch-with-activity); the final state is
    # the emission with the highest cumulative n_ops (strictly
    # increasing across a key's emissions)
    final = (
        out.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_ops", "last_ts", "last_op", "value", "n_deletes")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.last_ts").alias("last_ts"),
            F.col("s.last_op").alias("last_op"),
            F.when(
                F.col("s.last_op") != "D", F.round(F.col("s.value"), 6)
            ).alias("final_value"),
            F.col("s.n_ops").alias("n_ops"),
            F.col("s.n_deletes").alias("n_deletes"),
        )
    )
    return final


WORKLOADS.update(
    {
        "temperature_resample": (q_temperature_resample, SQL_TEMPERATURE_RESAMPLE),
        "quality_classifier_nb": (q_quality_classifier_nb, SQL_QUALITY_NB),
        "graph_personalized_pagerank": (
            q_graph_personalized_pagerank,
            SQL_PERSONALIZED_PAGERANK,
        ),
        "stream_cdc_replay": (q_stream_cdc_replay, SQL_CDC_APPLY),
    }
)
