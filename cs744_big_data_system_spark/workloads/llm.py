"""LLM-data-pipeline workloads: dedup family, similarity search, text
analysis — the training-data operators the 100 TB pipeline needs
(BASELINE.json north star; SURVEY.md §2.9 last bullet).

The dedup/similarity hashes are md5-derived (operators/dedup.md5_int60)
specifically so the DuckDB oracle reproduces them bit-for-bit — the
whole MinHash machinery is oracle-checked, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cs744_big_data_system_spark.operators.dedup import (
    embedding_cosine_neardup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from cs744_big_data_system_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from cs744_big_data_system_spark.operators.text_analysis import (
    fingerprints,
    lang_id,
    quality_features,
    token_counts,
)
from cs744_big_data_system_spark.sources.readers import load_table

#: DuckDB fragment: whitespace tokens of ``text`` (mirror of functions/text.tokens).
_SQL_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
#: DuckDB fragment: tokens of the CANONICAL text (dedup family —
#: mirror of operators/dedup._canon_ngrams input).
_SQL_CANON_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),"
    " t -> t <> '')"
)
def _sql_ngram(n: int) -> str:
    """DuckDB fragment: word n-gram shingles from a token list named
    ``tk`` — mirror of functions/text.ngrams_from_tokens."""
    concat = " || ' ' || ".join(f"tk[i+{k}]" if k else "tk[i]" for k in range(n))
    return (
        f"CASE WHEN len(tk) >= {n} THEN list_transform(range(1, len(tk) - {n - 2}),"
        f" i -> {concat}) ELSE [] END"
    )


#: word 3-gram shingles (the dedup family's shingle size).
_SQL_NGRAM3 = _sql_ngram(3)
#: DuckDB mirror of operators/dedup.md5_int60.
def _sql_md5_int60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# --- Exact dedup: hash-groupBy on canonical digest ---
def q_dedup_exact(spark, sf_dir):
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- Exact n-gram Jaccard similar pairs (blocked by lang, df-cut) ---
#: hot-shingle document-frequency cutoff: shingles in more docs than
#: this (within a lang block) are boilerplate, carry no similarity
#: signal, and would fan the self-join out quadratically on one key.
NGRAM_MAX_DF = 50


def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3, threshold=0.05, block_col="lang", max_df=NGRAM_MAX_DF,
    )


def _sql_ngram_jaccard(threshold: float = 0.05) -> str:
    """DuckDB mirror of operators/dedup.ngram_jaccard_pairs at an
    arbitrary threshold (curation.dedup_recall_eval reuses it at the
    truth-set threshold); ``_sql_ngram_jaccard(0.05)`` is byte-identical
    to the original SQL_NGRAM_JACCARD literal."""
    return f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, lang, unnest({_SQL_NGRAM3}) AS gram FROM toks
), sh0 AS (
  -- hash-folded shingles: set semantics on the 60-bit hash, exactly
  -- like operators/dedup.ngram_jaccard_pairs
  SELECT DISTINCT doc_id, lang, {_sql_md5_int60("gram")} AS shingle FROM grams
), hot AS (
  SELECT lang, shingle FROM sh0 GROUP BY lang, shingle HAVING count(*) > {NGRAM_MAX_DF}
), sh AS (
  SELECT s.* FROM sh0 s
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.lang = s.lang AND h.shingle = s.shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= {threshold}
"""


SQL_NGRAM_JACCARD = _sql_ngram_jaccard()


# --- MinHash signature (first 4 hash-family members), oracle-checked ---
def q_minhash_sig(spark, sf_dir):
    sig = minhash_signatures(load_table(spark, sf_dir, "documents"), n=3, num_hashes=4)
    return sig.select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(4)],
    )


def _sql_minhash_member(i: int) -> str:
    from cs744_big_data_system_spark.operators.dedup import MINHASH_PRIME, minhash_params

    a, b = minhash_params(i)
    return f"min(({a} * x + {b}) % {MINHASH_PRIME}) AS h{i}"


SQL_MINHASH_SIG = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SQL_NGRAM3}) AS shingle FROM toks
), hashed AS (
  SELECT doc_id, {_sql_md5_int60("shingle")} % 2147483647 AS x FROM sh
)
SELECT doc_id,
       {_sql_minhash_member(0)},
       {_sql_minhash_member(1)},
       {_sql_minhash_member(2)},
       {_sql_minhash_member(3)}
FROM hashed GROUP BY doc_id
"""


# --- MinHash-LSH candidate pairs (banded) — oracle-checked exactly ---
def q_minhash_lsh(spark, sf_dir):
    """The banding construction is pure integer + md5 math (universal
    hashes mod a fixed prime, band key = md5 of the band's signature
    slice), so despite being an *approximate* near-dup algorithm it is
    fully deterministic and the oracle mirrors it hash-for-hash."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, num_hashes=32, bands=8, threshold=0.4
    )


def _sql_minhash_lsh(num_hashes: int = 32, bands: int = 8, threshold: float = 0.4) -> str:
    """DuckDB mirror of operators/dedup.minhash_lsh_pairs: the same 32
    universal-hash minima, the same md5 band keys over 4-element
    signature slices, the same agreement fraction."""
    from cs744_big_data_system_spark.operators.dedup import MINHASH_PRIME, minhash_params

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
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE round(({agree}) / {float(num_hashes)}, 6) >= {threshold}
"""


SQL_MINHASH_LSH = _sql_minhash_lsh()


# --- SimHash fingerprint (60-bit), oracle-checked bit-for-bit ---
def q_simhash(spark, sf_dir):
    """60 bits — the widest signature whose value and per-band shifts
    stay inside signed int64 on both engines (the md5-folded token
    hash is itself 60 bits)."""
    return simhash(load_table(spark, sf_dir, "documents"), bits=60)


def _sql_simhash(bits: int) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_CANON_TOKS}) AS tok FROM documents
), th AS (
  SELECT doc_id, {_sql_md5_int60("tok")} AS h FROM tok
), bits AS (
  SELECT doc_id, unnest(range(0, {bits})) AS bit, h FROM th
), bitsum AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id
"""


SQL_SIMHASH = _sql_simhash(60)


# --- SimHash hamming-banded near-dup pairs, oracle-checked exactly ---
def q_simhash_pairs(spark, sf_dir):
    """60-bit signatures, 4 × 15-bit pigeonhole bands: the candidate
    join's key space is 4 × 2^15 ≈ 131k (band_idx, band_val) values, so
    bucket sizes — and the per-bucket quadratic self-join — shrink as
    the corpus grows instead of collapsing into ~n/256 buckets the way
    a 32-bit/8-bit-band signature does."""
    from cs744_big_data_system_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), bits=60, max_hamming=3
    )


SQL_SIMHASH_PAIRS = f"""
WITH sig AS ({_sql_simhash(60)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- Transitive near-dup clusters (simhash pairs → connected components) ---
def simhash_cc_clusters(spark, sf_dir):
    """(doc_id, cluster_id, cluster_size) for simhash(bits=60, h<=3)
    near-dup clusters over `documents`, recomputed on every call so a
    rewritten `documents` table is always seen."""
    from cs744_big_data_system_spark.graph.connected_components import dedup_clusters
    from cs744_big_data_system_spark.operators.dedup import simhash_hamming_pairs

    pairs = simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), bits=60, max_hamming=3
    )
    # dedup_clusters returns an eager checkpoint (materialized once);
    # consumers that join it twice (dedup_keep_best) re-scan that table.
    return dedup_clusters(pairs)


def q_dedup_clusters(spark, sf_dir):
    """Candidate pairs only become deduplicatable once closed into
    transitive clusters (A~B, B~C ⇒ one cluster even if A,C never
    collided). SimHash pairs feed min-label-propagation connected
    components (graph/connected_components.py); output one row per
    clustered doc with its canonical (min) id and cluster size."""
    return simhash_cc_clusters(spark, sf_dir)


SQL_DEDUP_CLUSTERS = f"""
WITH sig AS ({_sql_simhash(60)}), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  -- transitive closure of "reachable with a smaller-or-equal label":
  -- min(lab) over all labels that can reach a node = component min
  WITH RECURSIVE r(node, lab) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM und)
    UNION
    SELECT e.b, r.lab FROM r JOIN und e ON e.a = r.node WHERE r.lab < e.b
  )
  SELECT node, min(lab) AS component FROM r GROUP BY node
), sizes AS (
  SELECT component, count(*) AS cluster_size FROM reach GROUP BY component
)
SELECT r.node AS doc_id, r.component AS cluster_id, s.cluster_size
FROM reach r JOIN sizes s USING (component)
"""


# --- Embedding cosine near-dup pairs (blocked by label) ---
def q_embedding_neardup(spark, sf_dir):
    return embedding_cosine_neardup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, block_col="label"
    )


_SQL_NORM_PROD = (
    "(sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * a.embedding[i])))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * b.embedding[i]))))"
)
# NULL on zero-norm vectors, mirroring functions/vectors.cosine_similarity's
# denom > 0 guard — an unguarded division would diverge (NULL vs NaN) if a
# zero vector ever lands in a fixture.
_SQL_COS = (
    f"CASE WHEN {_SQL_NORM_PROD} > 0 THEN "
    "list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))"
    f" / {_SQL_NORM_PROD} END"
)

SQL_EMBEDDING_NEARDUP = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       round({_SQL_COS}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_SQL_COS}, 6) >= 0.4
"""


# --- LSH-banded embedding near-dup (corpus-scale candidate path) ---
def q_embedding_neardup_lsh(spark, sf_dir):
    """Scale twin of dedup_embedding_cosine: banded sign-pattern LSH
    candidates + exact cosine verify, no blocked all-pairs join.
    The hyperplane family is md5-derived (similarity._plane_coeff), so
    the bucket math is deterministic and mirrored exactly in the
    oracle; sign margins on the fixture are ≥1.6e-5, far above any
    float-summation-order noise (≈1e-15), so the two engines cannot
    disagree on a single bucket bit. Recall vs the exact pairs is
    additionally asserted in tests/test_dedup.py on planted near-dups."""
    from cs744_big_data_system_spark.operators.dedup import embedding_cosine_neardup_lsh

    return embedding_cosine_neardup_lsh(
        load_table(spark, sf_dir, "embeddings"),
        dim=64, threshold=0.4, num_bands=8, planes_per_band=10,
    )


def _sql_plane_values(plane_indices, dim: int = 64) -> str:
    """VALUES rows ``(plane_idx, coeffs)`` for the deterministic
    hyperplane family — the literal doubles round-trip exactly
    (repr → parse) so DuckDB sees the same planes as the JVM/numpy."""
    from cs744_big_data_system_spark.operators.similarity import _plane_coeff

    return ",\n  ".join(
        f"({p}, [" + ", ".join(repr(_plane_coeff(p, j)) for j in range(dim)) + "])"
        for p in plane_indices
    )


def _sql_embedding_lsh_buckets(num_bands: int, planes_per_band: int) -> str:
    """CTE fragment computing ``bkt(vec_id, band_idx, bucket)`` — the
    sign-pattern bucket per (vector, band), mirroring
    similarity.lsh_band_buckets_udf: plane p belongs to band
    p // planes_per_band with bit weight 2^(p % planes_per_band)."""
    n_planes = num_bands * planes_per_band
    return f"""planes(plane_idx, coeffs) AS (
  VALUES {_sql_plane_values(range(n_planes))}
), dots AS (
  SELECT e.vec_id,
         p.plane_idx // {planes_per_band} AS band_idx,
         p.plane_idx % {planes_per_band} AS bit,
         list_sum(list_transform(range(1, 65),
                  j -> CAST(e.embedding[j] AS DOUBLE) * p.coeffs[j])) AS d
  FROM embeddings e CROSS JOIN planes p
), bkt AS (
  SELECT vec_id, band_idx,
         CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, band_idx
)"""


SQL_EMBEDDING_NEARDUP_LSH = f"""
WITH {_sql_embedding_lsh_buckets(num_bands=8, planes_per_band=10)}, cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bkt x
  JOIN bkt y ON x.band_idx = y.band_idx AND x.bucket = y.bucket
            AND x.vec_id < y.vec_id
)
SELECT c.vec_a, c.vec_b, round({_SQL_COS}, 6) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE round({_SQL_COS}, 6) >= 0.4
"""


# --- Brute-force cosine top-k (exact ANN baseline) ---
def q_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(queries, emb, k=5)


SQL_COSINE_TOPK = f"""
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_SQL_COS}, 6) AS cosine,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_SQL_COS}, 6) DESC, b.vec_id ASC) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
) WHERE rnk <= 5
"""


# --- ANN recall evaluation: approximate vs exact, inside the gate ---
def q_ann_recall_eval(spark, sf_dir):
    """Per-query recall@5 of the IVF index at nprobe=1 and nprobe=2
    against the exact brute-force top-5 — the eval harness an ANN
    deployment runs before trusting an index, expressed as a left
    join of candidate sets. All three inputs are the already-
    oracle-checked operators, so even the RECALL measurement itself
    hash-checks (nprobe=2 must dominate nprobe=1 by construction;
    pinned in tests)."""
    from cs744_big_data_system_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    ivf1 = (
        cosine_topk_ivf(q, emb, num_centroids=8, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("h1", F.lit(1))
    )
    ivf2 = (
        cosine_topk_ivf(q, emb, num_centroids=8, k=5, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("h2", F.lit(1))
    )
    return (
        exact.join(ivf1, ["query_id", "neighbor_id"], "left")
        .join(ivf2, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("h1").alias("n_hit_ivf1"),
            F.count("h2").alias("n_hit_ivf2"),
            F.round(F.count("h1") / 5.0, 6).alias("recall_ivf1"),
            F.round(F.count("h2") / 5.0, 6).alias("recall_ivf2"),
        )
    )


def _sql_ann_recall() -> str:
    return f"""
WITH exact_tk AS ({SQL_COSINE_TOPK}),
ivf1 AS ({{IVF1}}),
ivf2 AS ({{IVF2}})
SELECT e.query_id,
       CAST(count(i1.neighbor_id) AS BIGINT) AS n_hit_ivf1,
       CAST(count(i2.neighbor_id) AS BIGINT) AS n_hit_ivf2,
       round(count(i1.neighbor_id) / 5.0, 6) AS recall_ivf1,
       round(count(i2.neighbor_id) / 5.0, 6) AS recall_ivf2
FROM exact_tk e
LEFT JOIN ivf1 i1 ON i1.query_id = e.query_id AND i1.neighbor_id = e.neighbor_id
LEFT JOIN ivf2 i2 ON i2.query_id = e.query_id AND i2.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


# --- Hard-negative mining (contrastive-training selection pass) ---
def q_hard_negatives(spark, sf_dir):
    """Top-5 most-similar DIFFERENT-label vectors per query
    (operators/similarity.hard_negative_topk) — the offline mining
    pass behind dual-encoder fine-tuning; label inequality rides the
    join condition so same-label pairs are never scored."""
    from cs744_big_data_system_spark.operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb.filter(F.col("vec_id") < 20), emb, k=5)


SQL_HARD_NEGATIVES = f"""
SELECT query_id, neg_id, cosine, rnk FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neg_id,
         round({_SQL_COS}, 6) AS cosine,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_SQL_COS}, 6) DESC, b.vec_id ASC) AS rnk
  FROM embeddings a JOIN embeddings b ON a.label <> b.label
  WHERE a.vec_id < 20
) WHERE rnk <= 5
"""


# --- IVF-style approximate top-k (deterministic, oracle-checked) ---
def q_cosine_topk_ivf(spark, sf_dir):
    from cs744_big_data_system_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(queries, emb, num_centroids=8, k=5)


# DuckDB mirror of the nprobe=1 IVF: centroids = first 8 vec_ids;
# assign every vector (argmin by rounded cosine, centroid-id tiebreak);
# probe the query's own list; top-5 re-rank inside it.
_SQL_COS_VC = _SQL_COS.replace("b.embedding", "c.embedding").replace("a.embedding", "v.embedding")
_SQL_COS_QN = _SQL_COS.replace("a.embedding", "q.embedding").replace("b.embedding", "n.embedding")

SQL_COSINE_TOPK_IVF = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({_SQL_COS_VC}, 6) DESC, c.centroid_id ASC) AS rn
    FROM embeddings v CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({_SQL_COS_QN}, 6) AS cosine,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY round({_SQL_COS_QN}, 6) DESC, n.vec_id ASC) AS rnk
  FROM embeddings q
  JOIN assign qa ON qa.vec_id = q.vec_id
  JOIN assign na ON na.centroid_id = qa.centroid_id
  JOIN embeddings n ON n.vec_id = na.vec_id AND n.vec_id <> q.vec_id
  WHERE q.vec_id < 20
) WHERE rnk <= 5
"""


# --- IVF with nprobe=2: the recall knob, still oracle-checked ---
def q_cosine_topk_ivf2(spark, sf_dir):
    """Same inverted lists, but each query probes its TWO nearest
    centroids — recall rises toward exact at linear probe cost (the
    standard IVF trade). Deterministic, so still hash-checked."""
    from cs744_big_data_system_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(queries, emb, num_centroids=8, k=5, nprobe=2)


SQL_COSINE_TOPK_IVF2 = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8
), ranked AS (
  SELECT v.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY round({_SQL_COS_VC}, 6) DESC, c.centroid_id ASC) AS rn
  FROM embeddings v CROSS JOIN cent c
), assign1 AS (
  SELECT vec_id, centroid_id FROM ranked WHERE rn = 1
), probe2 AS (
  SELECT vec_id, centroid_id FROM ranked WHERE rn <= 2
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({_SQL_COS_QN}, 6) AS cosine,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY round({_SQL_COS_QN}, 6) DESC, n.vec_id ASC) AS rnk
  FROM embeddings q
  JOIN probe2 qa ON qa.vec_id = q.vec_id
  JOIN assign1 na ON na.centroid_id = qa.centroid_id
  JOIN embeddings n ON n.vec_id = na.vec_id AND n.vec_id <> q.vec_id
  WHERE q.vec_id < 20
) WHERE rnk <= 5
"""


#: the recall-eval oracle nests the three already-checked top-k
#: oracles as CTE bodies (DuckDB supports WITH inside a CTE).
SQL_ANN_RECALL_EVAL = (
    _sql_ann_recall()
    .replace("{IVF1}", SQL_COSINE_TOPK_IVF)
    .replace("{IVF2}", SQL_COSINE_TOPK_IVF2)
)


# --- LSH-bucketed approximate top-k (scale path) — oracle-checked ---
def q_cosine_topk_lsh(spark, sf_dir):
    """Approximate by construction, deterministic by derivation: the 8
    hyperplanes are md5-derived literals, so the bucket assignment —
    and therefore the candidate set and ranking — is exactly
    reproducible and mirrored in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_lsh(queries, emb, dim=64, k=5, num_planes=8)


# Single band of 8 planes → bkt(vec_id, band_idx=0, bucket) mirrors
# similarity.lsh_bucket (bit i ← plane i, d >= 0).
SQL_COSINE_TOPK_LSH = f"""
WITH {_sql_embedding_lsh_buckets(num_bands=1, planes_per_band=8)}
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_SQL_COS}, 6) AS cosine,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({_SQL_COS}, 6) DESC, b.vec_id ASC) AS rnk
  FROM embeddings a
  JOIN bkt ba ON ba.vec_id = a.vec_id
  JOIN bkt bb ON bb.bucket = ba.bucket
  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 20
) WHERE rnk <= 5
"""


# --- Product-quantization ANN (codes + ADC scan) — oracle-checked ---
def q_cosine_topk_pq(spark, sf_dir):
    """PQ: corpus encoded as m=8 small codes, candidates ranked by the
    integer asymmetric-distance LUT sum, exact cosine re-rank of the
    top 32. Training-free codebook (first-16 corpus rows sliced per
    subspace) keeps every code assignment deterministic, so the whole
    ADC pipeline is hash-checked, not just recall-tested."""
    from cs744_big_data_system_spark.operators.similarity import cosine_topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk_pq(queries, emb, dim=64, m=8, kc=16, n_candidates=32, k=5)


def _sql_cosine_topk_pq(
    m: int = 8, kc: int = 16, dsub: int = 8, n_candidates: int = 32, k: int = 5
) -> str:
    """Mirror of operators/similarity.cosine_topk_pq: same slices, same
    integer floor(d·1e6+0.5) partials, same tiebreaks."""
    sqd = (
        f"list_sum(list_transform(range(1, {dsub + 1}), i -> "
        "(CAST(vs.v_sub[i] AS DOUBLE) - b.c_sub[i]) * (CAST(vs.v_sub[i] AS DOUBLE) - b.c_sub[i])))"
    )
    return f"""
WITH cent0 AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {kc}
), cent AS (
  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM cent0
), book AS (
  SELECT r.range AS s, c.code,
         list_slice(c.embedding, r.range * {dsub} + 1, r.range * {dsub} + {dsub}) AS c_sub
  FROM cent c CROSS JOIN range(0, {m}) r
), vsub AS (
  SELECT v.vec_id, r.range AS s,
         list_slice(v.embedding, r.range * {dsub} + 1, r.range * {dsub} + {dsub}) AS v_sub
  FROM embeddings v CROSS JOIN range(0, {m}) r
), pd AS (
  SELECT vs.vec_id, vs.s, b.code,
         CAST(floor({sqd} * 1000000 + 0.5) AS BIGINT) AS pd
  FROM vsub vs JOIN book b ON b.s = vs.s
), enc AS (
  SELECT vec_id AS neighbor_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY pd ASC, code ASC) AS rn
    FROM pd
  ) WHERE rn = 1
), lut AS (
  SELECT vec_id AS query_id, s, code, pd FROM pd WHERE vec_id < 20
), adc AS (
  SELECT l.query_id, e.neighbor_id, sum(l.pd) AS adist
  FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
  WHERE l.query_id <> e.neighbor_id
  GROUP BY 1, 2
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS crn
    FROM adc
  ) WHERE crn <= {n_candidates}
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT c.query_id, c.neighbor_id, round({{cos}}, 6) AS cosine,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY round({{cos}}, 6) DESC, c.neighbor_id ASC) AS rnk
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
) WHERE rnk <= {k}
"""


SQL_COSINE_TOPK_PQ = _sql_cosine_topk_pq().replace("{cos}", _SQL_COS_QN)


# --- Language-ID heuristic ---
def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


_SQL_LANG_SCORE = {
    "de": "len(list_filter(tk, t -> list_contains(['der','die','und','das','ein'], lower(t))))",
    "en": "len(list_filter(tk, t -> list_contains(['the','and','of','to','a'], lower(t))))",
    "es": "len(list_filter(tk, t -> list_contains(['el','la','de','que','los'], lower(t))))",
    "fr": "len(list_filter(tk, t -> list_contains(['le','la','et','les','des'], lower(t))))",
    "zh": "len(list_filter(tk, t -> list_contains(['的','是','了','在','我'], lower(t))))",
}

SQL_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_SQL_LANG_SCORE['de']} AS s_de,
         {_SQL_LANG_SCORE['en']} AS s_en,
         {_SQL_LANG_SCORE['es']} AS s_es,
         {_SQL_LANG_SCORE['fr']} AS s_fr,
         {_SQL_LANG_SCORE['zh']} AS s_zh
  FROM (SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents)
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM scored
"""


# --- Quality scoring ---
def q_quality(spark, sf_dir):
    return quality_features(load_table(spark, sf_dir, "documents"))


SQL_QUALITY = f"""
WITH tk AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_obs,
       round(CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)
             ELSE 0.0 END, 6) AS mean_token_len,
       round(CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, t -> list_contains(['the','and','of','to','a'], lower(t)))) * 1.0 / len(toks)
             ELSE 0.0 END, 6) AS stopword_ratio_en,
       (len(toks) >= 5 AND len(toks) <= 100000 AND
        (CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / length(text)
              ELSE 0.0 END) < 0.3) AS quality_ok
FROM tk
"""


# --- Token counting (whitespace + BPE-ish regex) ---
def q_token_counts(spark, sf_dir):
    return token_counts(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS bpe_ish_tokens
FROM documents
"""


# --- Boilerplate line detection (C4-style repeated-line filter) ---
def q_boilerplate(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import boilerplate_phrases

    return boilerplate_phrases(load_table(spark, sf_dir, "documents"), n=6, min_docs=3)


_SQL_NGRAM6 = _sql_ngram(6)

SQL_BOILERPLATE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, unnest({_SQL_NGRAM6}) AS phrase FROM toks
), hashed AS (
  SELECT doc_id, {_sql_md5_int60("phrase")} AS ph, min(phrase) AS phrase
  FROM grams GROUP BY doc_id, {_sql_md5_int60("phrase")}
), counted AS (
  SELECT ph, count(*) AS n_docs, min(phrase) AS phrase FROM hashed GROUP BY ph
)
SELECT ph AS phrase_key, n_docs, phrase
FROM counted WHERE n_docs >= 3
"""


# --- TF-IDF / BM25 top-k terms per document ---
def q_tfidf(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import tfidf_bm25_topk

    return tfidf_bm25_topk(load_table(spark, sf_dir, "documents"), k=5)


# Formula shapes mirror operators/text_analysis.tfidf_bm25_topk exactly
# (same association order) so round(,6) agrees bit-for-bit.
SQL_TFIDF = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM tk
), terms AS (
  SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk
), tfc AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM terms GROUP BY 1, 2, 3
), dft AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY 1
), scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf,
         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
  FROM tfc JOIN dft USING (term) CROSS JOIN stats
)
SELECT doc_id, term, tf, df, tfidf, bm25, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rnk
      FROM scored)
WHERE rnk <= 5
"""


# --- PMI co-occurrence over the top-V vocabulary ---
def q_pmi(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import cooccurrence_pmi

    return cooccurrence_pmi(load_table(spark, sf_dir, "documents"), vocab_size=64, min_docs=5)


SQL_PMI = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), stats AS (
  SELECT count(*) AS n_docs FROM tk
), dt AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
), dft AS (
  SELECT term, count(*) AS df FROM dt GROUP BY 1
), vocab AS (
  SELECT term, df FROM dft ORDER BY df DESC, term ASC LIMIT 64
), dv AS (
  SELECT dt.doc_id, dt.term, v.df FROM dt JOIN vocab v USING (term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
         count(*) AS n_ab
  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
)
SELECT term_a, term_b, df_a, df_b, n_ab,
       round(ln((n_ab * n_docs) * 1.0 / (df_a * df_b)), 6) AS pmi
FROM pairs CROSS JOIN stats
WHERE n_ab >= 5
"""


# --- Document fingerprinting (content md5 + winnowing-style rolling) ---
def q_fingerprints(spark, sf_dir):
    return fingerprints(load_table(spark, sf_dir, "documents"))


SQL_FINGERPRINTS = f"""
WITH tk AS (
  SELECT doc_id, text, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, text,
         CASE WHEN len(tk) >= 4 THEN list_transform(range(1, len(tk) - 2),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
         ELSE [] END AS g4
  FROM tk
)
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp,
       CASE WHEN len(g4) > 0
            THEN list_min(list_transform(g4, g -> {_sql_md5_int60('g')}))
            END AS rolling_fp
FROM grams
"""


# --- Repetition-ratio quality signal (C4-style) ---
def q_text_repetition(spark, sf_dir):
    """Duplicated-3-gram fraction per doc — the template/spam signal
    the length/punct filters miss (operators/text_analysis.
    repetition_features); pure scan-side column math, zero shuffle."""
    from cs744_big_data_system_spark.operators.text_analysis import repetition_features

    return repetition_features(load_table(spark, sf_dir, "documents"), n=3, threshold=0.2)


SQL_TEXT_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, {_SQL_NGRAM3} AS g FROM toks
)
SELECT doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(g) > 0
             THEN (len(g) - len(list_distinct(g))) * 1.0 / len(g)
             ELSE 0.0 END, 6) AS repetition_ratio,
       CASE WHEN len(g) > 0
            THEN (len(g) - len(list_distinct(g))) * 1.0 / len(g)
            ELSE 0.0 END > 0.2 AS repetitive
FROM grams
"""


# --- Context-window chunking with overlap (retrieval/embedding prep) ---
def q_chunk_documents(spark, sf_dir):
    """64-token chunks advancing by 48 (16-token overlap) per document
    (operators/text_analysis.chunk_documents): tokenize once, one
    sequence+posexplode, slice+array_join per chunk — a pure scan-side
    1→N restructuring with zero shuffle."""
    from cs744_big_data_system_spark.operators.text_analysis import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
), sized AS (
  SELECT doc_id, tk, len(tk) AS n FROM tk WHERE len(tk) > 0
), chunks AS (
  SELECT doc_id, tk, unnest(range(0, n, 48)) AS start FROM sized
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(tk, start + 1, start + 64)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(tk, start + 1, start + 64), ' ') AS chunk_text
FROM chunks
"""


# --- Custom Python Data Source: deterministic corpus generator ---
def q_synthdocs_profile(spark, sf_dir):
    """Read the ``synthdocs`` custom Python Data Source (Spark 4
    ``pyspark.sql.datasource`` API — sources/generator.py: partitioned,
    zero-I/O, md5-deterministic generation) and profile it per doc.
    Because generation is pure hashing, the DuckDB oracle re-derives
    the corpus in SQL and the custom source is hash-checked end-to-end
    — doc text included (via md5 digest)."""
    from cs744_big_data_system_spark.sources.generator import SynthDocsDataSource

    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception:
        pass  # already registered in this session
    docs = (
        spark.read.format("synthdocs")
        .option("n", 500)
        .option("partitions", 8)
        .load()
    )
    return docs.select(
        "doc_id", "lang", "n_words", F.md5("text").alias("text_md5")
    )


def _sql_synthdocs() -> str:
    from cs744_big_data_system_spark.sources.generator import LANGS, VOCAB

    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ", ".join(f"'{lang}'" for lang in LANGS) + "]"
    return f"""
WITH ids AS (
  SELECT CAST(range AS BIGINT) AS doc_id FROM range(500)
), meta AS (
  SELECT doc_id,
         5 + {_sql_md5_int60("'len:' || doc_id")} % 20 AS n_words,
         {langs}[1 + CAST({_sql_md5_int60("'lang:' || doc_id")} % {len(LANGS)} AS INT)] AS lang
  FROM ids
), positions AS (
  SELECT doc_id, n_words, lang, unnest(range(n_words)) AS j FROM meta
), words AS (
  SELECT doc_id, n_words, lang, j,
         {vocab}[1 + CAST({_sql_md5_int60("'w:' || doc_id || ':' || j")} % {len(VOCAB)} AS INT)] AS word
  FROM positions
)
SELECT doc_id, any_value(lang) AS lang, any_value(n_words) AS n_words,
       md5(string_agg(word, ' ' ORDER BY j)) AS text_md5
FROM words GROUP BY doc_id
"""


SQL_SYNTHDOCS_PROFILE = _sql_synthdocs()


# --- Benchmark decontamination: eval-leakage check before shipping ---
def q_text_decontaminate(spark, sf_dir):
    """Per training doc, the fraction of its distinct 6-gram shingles
    that appear anywhere in the benchmark set (stand-in benchmark:
    doc_id % 97 == 0 — a fixed pseudo-random ~1% slice, which also
    exercises the interesting case since the fixture's planted dup
    groups straddle the split). operators/text_analysis.decontaminate;
    the benchmark shingle side broadcasts under AQE."""
    from cs744_big_data_system_spark.operators.text_analysis import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=6, threshold=0.05)


SQL_TEXT_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, unnest({_sql_ngram(6)}) AS gram FROM toks
), sh AS (
  SELECT DISTINCT doc_id, {_sql_md5_int60("gram")} AS sh FROM grams
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
), train AS (
  SELECT * FROM sh WHERE doc_id % 97 <> 0
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
), hits AS (
  SELECT doc_id, count(*) AS n_contaminated FROM train
  WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(COALESCE(h.n_contaminated, 0) * 1.0 / s.n_shingles, 6) AS contamination,
       COALESCE(h.n_contaminated, 0) * 1.0 / s.n_shingles >= 0.05 AS flagged
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


# --- Deterministic stratified sampling: domain-mix rebalancing ---
def q_corpus_sample_stratified(spark, sf_dir):
    """Keep at most 25 docs per lang, chosen by seeded md5 order —
    reproducible per-domain budget capping before corpus mixing
    (operators/text_analysis.sample_stratified). One window shuffle
    keyed by the stratum."""
    from cs744_big_data_system_spark.operators.text_analysis import sample_stratified

    docs = load_table(spark, sf_dir, "documents")
    return sample_stratified(docs, "lang", cap=25).select("doc_id", "lang")


SQL_CORPUS_SAMPLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 25
"""


# --- End-to-end corpus cleaning: the LLM-data-pipeline composite ---
def q_llm_clean_corpus(spark, sf_dir):
    """The full training-data cleaning pass as ONE lazy plan:
    exact dedup (keep min doc_id per canonical digest) → near-dup
    removal (n-gram Jaccard ≥ 0.5 inside lang blocks, drop the higher
    doc_id of each pair) → quality filter (≥5 tokens, punct ratio
    < 0.3). Each stage is the already-oracle-checked operator; the
    composite proves they compose without driver materialization —
    at 100 TB this whole pipeline is 4 shuffles end-to-end.

    The quality stage is INLINE on the deduped stream (same predicate
    and n_tokens expression as operators/text_analysis.quality_features,
    which stays the standalone audited operator): the r11 executed-plan
    audit showed the earlier ``d2.join(quality_features(d2))`` shape
    re-evaluated the ENTIRE upstream subtree — exact dedup plus the
    shingle self-join — a second time just to recover ``lang`` (20
    parquet scans in the final plan; AQE exchange reuse cannot unify
    the two sides because their projections differ). Filtering in place
    keeps one subtree: rows and columns are identical (inner join on
    the unique doc_id = filter), guide §1.2 'don't compute things you
    throw away'."""
    from cs744_big_data_system_spark.functions.text import punct_ratio, token_count
    from cs744_big_data_system_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    d1 = exact_dedup(docs)
    near = (
        ngram_jaccard_pairs(d1, n=3, threshold=0.5, block_col="lang", max_df=NGRAM_MAX_DF)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    d2 = d1.join(near, "doc_id", "left_anti")
    n_tok = token_count("text")
    return (
        d2.withColumn("n_tokens", n_tok)
        .filter(
            (F.col("n_tokens") >= 5)
            & (F.col("n_tokens") <= 100000)
            & (punct_ratio("text") < 0.3)
        )
        .select("doc_id", "lang", "n_tokens")
    )


SQL_LLM_CLEAN_CORPUS = f"""
WITH keep_exact AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
), d1 AS (
  SELECT d.* FROM documents d JOIN keep_exact k USING (doc_id)
), toks AS (
  SELECT doc_id, lang, {_SQL_CANON_TOKS} AS tk FROM d1
), grams AS (
  SELECT doc_id, lang, unnest({_SQL_NGRAM3}) AS gram FROM toks
), sh0 AS (
  SELECT DISTINCT doc_id, lang, {_sql_md5_int60("gram")} AS shingle FROM grams
), hot AS (
  SELECT lang, shingle FROM sh0 GROUP BY lang, shingle HAVING count(*) > {NGRAM_MAX_DF}
), sh AS (
  SELECT s.* FROM sh0 s
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.lang = s.lang AND h.shingle = s.shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), near AS (
  SELECT DISTINCT doc_b FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5
), d2 AS (
  SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_b FROM near)
)
SELECT doc_id, lang, CAST(len({_SQL_TOKS}) AS INT) AS n_tokens
FROM d2
WHERE len({_SQL_TOKS}) >= 5 AND len({_SQL_TOKS}) <= 100000
  AND (CASE WHEN length(text) > 0
       THEN (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / length(text)
       ELSE 0.0 END) < 0.3
"""


# --- JL random projection (deterministic dim cut before ANN) ---
def q_embedding_random_projection(spark, sf_dir):
    """64-d → 16-d Johnson–Lindenstrauss projection onto md5-derived
    directions (operators/similarity.random_projection): the
    projection matrix is plan literals, the whole operator scan-side
    expression work — zero shuffle, zero Python; 6-dp hash-checked."""
    from cs744_big_data_system_spark.operators.similarity import random_projection

    return random_projection(load_table(spark, sf_dir, "embeddings"), out_dim=16)


def _sql_random_projection(out_dim: int = 16) -> str:
    from cs744_big_data_system_spark.operators.similarity import _RP_PLANE_BASE

    planes = _sql_plane_values(range(_RP_PLANE_BASE, _RP_PLANE_BASE + out_dim))
    return f"""
WITH planes(plane_idx, coeffs) AS (
  VALUES {planes}
)
SELECT e.vec_id, CAST(p.plane_idx - {_RP_PLANE_BASE} AS INT) AS j,
       round(list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * p.coeffs[i]))
             / sqrt({out_dim}.0), 6) + 0.0 AS proj
FROM embeddings e CROSS JOIN planes p
"""


SQL_EMBEDDING_RANDOM_PROJECTION = _sql_random_projection()


# --- Exact covariance matrix of the embedding coordinates ---
def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle (i, j, cov) of the 64×64 population covariance
    (operators/similarity.embedding_covariance): one map-side-
    combinable groupBy with dim² groups regardless of corpus size +
    a dim-row broadcast of the means — the input statistic for PCA /
    whitening / Mahalanobis screening, hash-checked at 6 dp."""
    from cs744_big_data_system_spark.operators.similarity import embedding_covariance

    return embedding_covariance(load_table(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_COVARIANCE = """
WITH x AS (
  SELECT vec_id, u.i AS i, u.v AS v FROM (
    SELECT vec_id, unnest(list_transform(embedding,
           (e, k) -> struct_pack(i := k - 1, v := CAST(e AS DOUBLE)))) AS u
    FROM embeddings
  )
), m AS (
  SELECT i, avg(v) AS mv FROM x GROUP BY i
), p AS (
  SELECT a.i AS i, b.i AS j, count(*) AS n, sum(a.v * b.v) AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT p.i, p.j, round(p.sxy / p.n - ma.mv * mb.mv, 6) + 0.0 AS cov
FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
"""


# --- FID-style slice distance (diagonal-Gaussian Fréchet) ---
def q_embedding_frechet(spark, sf_dir):
    """One-row Fréchet distance between the label=0 slice's embedding
    distribution and the rest under the diagonal-Gaussian
    approximation (operators/similarity.embedding_frechet_diag) — the
    FID-shaped drift monitor for embedding batches, kept closed-form
    (no matrix sqrt) so it stays a pure aggregate and hash-checks.
    2·dim aggregate cells regardless of corpus size."""
    from cs744_big_data_system_spark.operators.similarity import embedding_frechet_diag

    return embedding_frechet_diag(load_table(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_FRECHET = """
WITH x AS (
  SELECT (label = 0) AS p, u.d AS d, u.xi AS xi FROM (
    SELECT label, unnest(list_transform(embedding,
           (e, k) -> struct_pack(d := k - 1, xi := CAST(e AS DOUBLE)))) AS u
    FROM embeddings
  )
), per_dim AS (
  SELECT d,
         sum(CASE WHEN p THEN 1 ELSE 0 END) AS n_p,
         sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS n_q,
         sum(CASE WHEN p THEN xi ELSE 0.0 END) AS s_p,
         sum(CASE WHEN NOT p THEN xi ELSE 0.0 END) AS s_q,
         sum(CASE WHEN p THEN xi * xi ELSE 0.0 END) AS ss_p,
         sum(CASE WHEN NOT p THEN xi * xi ELSE 0.0 END) AS ss_q
  FROM x GROUP BY d
), terms AS (
  SELECT n_p, n_q,
         (s_p / n_p - s_q / n_q) * (s_p / n_p - s_q / n_q) AS md2,
         (ss_p / n_p - (s_p / n_p) * (s_p / n_p))
         + (ss_q / n_q - (s_q / n_q) * (s_q / n_q))
         - 2 * sqrt(greatest(
             (ss_p / n_p - (s_p / n_p) * (s_p / n_p))
             * (ss_q / n_q - (s_q / n_q) * (s_q / n_q)), 0.0)) AS cd
  FROM per_dim
)
SELECT CAST(max(n_p) AS BIGINT) AS n_p, CAST(max(n_q) AS BIGINT) AS n_q,
       round(sum(md2), 6) AS mean_dist2,
       round(sum(cd), 6) AS cov_dist,
       round(sum(md2) + sum(cd), 6) AS frechet2
FROM terms
"""


# --- PCA projection (driver-side dim×dim eigensolve; rows-only) ---
def q_embedding_pca(spark, sf_dir):
    """Top-8 principal-component projection
    (operators/similarity.pca_project): covariance reduced
    distributed, eigensolve on the driver over the bounded dim×dim
    matrix, components broadcast back as plan literals with a
    deterministic sign convention. Rows-only in the driver gate (the
    eigensolve is engine-private float work); pinned against numpy PCA
    in tests."""
    from cs744_big_data_system_spark.operators.similarity import pca_project

    return pca_project(load_table(spark, sf_dir, "embeddings"), k=8)


# --- Symmetric int8 quantization of embeddings (ANN shard compression) ---
def q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 quantization (functions/vectors.quantize_int8);
    output the scale and a few probe components plus the checksum of
    the whole quantized vector, all oracle-reproducible."""
    from cs744_big_data_system_spark.functions.vectors import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select("vec_id", quantize_int8("embedding").alias("qz"))
    return qz.select(
        "vec_id",
        F.col("qz.scale").alias("scale"),
        F.element_at("qz.q", 1).alias("q0"),
        F.element_at("qz.q", 64).alias("q63"),
        # null-element filter + 0 seed so empty/null-holding vectors sum
        # identically on both engines (DuckDB list_sum: NULL for empty,
        # skips nulls; Spark fold: 0 for empty, NULL-poisoned by nulls).
        F.aggregate(
            F.filter("qz.q", lambda x: x.isNotNull()),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_sum"),
    )


_SQL_ABSMAX = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
_SQL_QSCALE = f"CASE WHEN {_SQL_ABSMAX} > 0 THEN 127.0 / {_SQL_ABSMAX} ELSE 0.0 END"

SQL_EMBEDDING_QUANTIZE = f"""
WITH scaled AS (
  SELECT vec_id, {_SQL_QSCALE} AS s,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_SQL_QSCALE} + 0.5) AS INT)) AS q
  FROM embeddings
)
SELECT vec_id, round(s, 6) AS scale, q[1] AS q0, q[64] AS q63,
       COALESCE(CAST(list_sum(q) AS BIGINT), 0) AS q_sum
FROM scaled
"""


# --- PII redaction (privacy scrub before a corpus ships) ---
def q_pii_redact(spark, sf_dir):
    """The fixture corpus carries no organic PII, so the query plants
    deterministic doc_id-derived emails/phones/IPs (same construction
    in the oracle) and the operator must count and scrub them all."""
    from cs744_big_data_system_spark.operators.text_analysis import pii_redact

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" or +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 13) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(raw)


#: DuckDB mirrors of operators/text_analysis.PII_* (same RE2/Java-safe syntax).
_SQL_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SQL_PII_PHONE = "\\+?\\d{1,2}-\\d{3}-\\d{3,4}(-\\d{4})?"
_SQL_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

SQL_PII_REDACT = f"""
WITH raw AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail'
              || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 2 = 0
                      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                      ELSE '' END AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_SQL_PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '{_SQL_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM raw
), s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{_SQL_PII_PHONE}')) AS BIGINT) AS n_phones,
         regexp_replace(t1, '{_SQL_PII_PHONE}', '<PHONE>', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_phones,
       CAST(len(regexp_extract_all(t2, '{_SQL_PII_IP}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(t2, '{_SQL_PII_IP}', '<IP>', 'g')) AS redacted_fp
FROM s2
"""


# --- Sequence packing (concat-and-chunk into fixed token budgets) ---
PACK_BUDGET = 512
PACK_SHARDS = 8


def q_seq_pack(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )


SQL_SEQ_PACK = f"""
WITH toks AS (
  SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), off AS (
  SELECT *, COALESCE(sum(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
  FROM toks
)
SELECT doc_id, lang, shard, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(floor(tok_offset / {PACK_BUDGET}) AS BIGINT) AS chunk_first,
       CAST(CASE WHEN n_tokens > 0
                 THEN floor((tok_offset + n_tokens - 1) / {PACK_BUDGET})
                 ELSE floor(tok_offset / {PACK_BUDGET}) END
            - floor(tok_offset / {PACK_BUDGET}) + 1 AS BIGINT) AS n_chunks
FROM off
"""


# --- Token-length histogram (corpus-shape diagnostic) ---
def q_token_histogram(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import token_histogram

    return token_histogram(load_table(spark, sf_dir, "documents"), width=10, n_buckets=20)


SQL_TOKEN_HISTOGRAM = f"""
WITH t AS (
  SELECT lang,
         LEAST(CAST(floor(CAST(len({_SQL_TOKS}) AS BIGINT) / 10) AS BIGINT), 19) AS bucket,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang, bucket, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
FROM t GROUP BY lang, bucket
"""


# --- DSIR importance weights (Xie et al. 2023) ---
def q_dsir_weights(spark, sf_dir):
    """Score every document by how en-like its hashed unigram+bigram
    distribution is (operators/text_analysis.dsir_weights with the
    lang='en' slice as the target corpus) — the importance-resampling
    data selector. Both bucket distributions are 10k-row broadcasts;
    per-doc scoring is one map-side-combinable groupBy over the gram
    explode."""
    from cs744_big_data_system_spark.operators.text_analysis import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"), num_buckets=10000)


SQL_DSIR_WEIGHTS = f"""
WITH tk_all AS (
  SELECT doc_id, lang, {_SQL_CANON_TOKS} AS tk FROM documents
), gr AS (
  SELECT doc_id, lang, unnest(list_concat(tk, {_sql_ngram(2)})) AS gram FROM tk_all
), bk AS (
  SELECT doc_id, lang, {_sql_md5_int60("gram")} % 10000 AS b FROM gr
), raw_dist AS (
  SELECT b, count(*) AS c_r FROM bk GROUP BY b
), tgt_dist AS (
  SELECT b, count(*) AS c_t FROM bk WHERE lang = 'en' GROUP BY b
), raw_tot AS (
  SELECT CAST(sum(c_r) AS DOUBLE) AS t_r FROM raw_dist
), tgt_tot AS (
  SELECT CAST(sum(c_t) AS DOUBLE) AS t_t FROM tgt_dist
), ratio AS (
  SELECT rd.b,
         ln((COALESCE(td.c_t, 0) + 1.0) / (tt.t_t + 10000.0))
         - ln((rd.c_r + 1.0) / (rt.t_r + 10000.0)) AS lr
  FROM raw_dist rd LEFT JOIN tgt_dist td ON rd.b = td.b, raw_tot rt, tgt_tot tt
), pdb AS (
  SELECT doc_id, b, count(*) AS n FROM bk GROUP BY doc_id, b
)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
       round(sum(n * lr), 6) AS dsir_logratio
FROM pdb JOIN ratio USING (b) GROUP BY doc_id
"""


# --- Gopher quality-rule audit (Rae et al. 2021 §A1.1.2) ---
def q_gopher_rules(spark, sf_dir):
    """Per-document booleans for the seven MassiveWeb/Gopher heuristic
    rules plus their conjunction (operators/text_analysis.gopher_rules)
    — word count, mean word length, alpha-word ratio, #/ellipsis
    symbol ratio, bullet/ellipsis line ratios, stop-word presence.
    Every rule compares integer-count ratios, so the booleans are
    bit-deterministic across engines; all signals are scan-side column
    expressions, zero shuffle."""
    from cs744_big_data_system_spark.operators.text_analysis import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"))


SQL_GOPHER_RULES = f"""
WITH t AS (
  SELECT doc_id,
         {_SQL_TOKS} AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
         length(text) - length(replace(text, '#', '')) AS hash_cnt,
         (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt
  FROM documents
), c AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(lines) AS n_lines,
         len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullet_lines,
         len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS ell_lines,
         hash_cnt, ell_cnt,
         len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
             ['the','be','to','of','and','that','have','with'])) AS sw
  FROM t
), r AS (
  SELECT doc_id, n_words,
         (n_words >= 50 AND n_words <= 100000) AS r_word_count,
         (CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END >= 3.0
          AND CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END <= 10.0)
           AS r_mean_word_len,
         (CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words ELSE 0.0 END >= 0.8)
           AS r_alpha_ratio,
         (CASE WHEN n_words > 0 THEN CAST(hash_cnt + ell_cnt AS DOUBLE) / n_words ELSE 0.0 END <= 0.1)
           AS r_symbol_ratio,
         (CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / n_lines ELSE 0.0 END <= 0.9)
           AS r_bullet_lines,
         (CASE WHEN n_lines > 0 THEN CAST(ell_lines AS DOUBLE) / n_lines ELSE 0.0 END <= 0.3)
           AS r_ellipsis_lines,
         (sw >= 2) AS r_stopwords
  FROM c
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       r_word_count, r_mean_word_len, r_alpha_ratio, r_symbol_ratio,
       r_bullet_lines, r_ellipsis_lines, r_stopwords,
       (r_word_count AND r_mean_word_len AND r_alpha_ratio AND r_symbol_ratio
        AND r_bullet_lines AND r_ellipsis_lines AND r_stopwords) AS gopher_ok
FROM r
"""


# --- Deterministic training-shard export + read-back manifest ---
def q_shard_export(spark, sf_dir):
    """The output side of the training pipeline: hash-shard the corpus
    into 8 deterministic shards (md5 of doc_id, so the layout is a
    pure function of the data — not of ingest order or task
    scheduling), write one directory per shard with in-file order
    pinned (sources/writers.write_sharded), then READ THE FILES BACK
    and emit a per-shard manifest whose fingerprint is the md5 of the
    sorted doc-id list. The oracle computes the same manifest from the
    source table, so a hash match proves the written shards carry
    exactly the assigned rows — the roundtrip is verified, not
    assumed."""
    import os
    import tempfile

    from cs744_big_data_system_spark.operators.dedup import md5_int60
    from cs744_big_data_system_spark.sources.writers import write_sharded

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sharded = docs.withColumn(
        "shard", F.pmod(md5_int60(F.col("doc_id").cast("string")), F.lit(8)).cast("int")
    )
    path = os.path.join(tempfile.gettempdir(), f"shard_export_{os.getpid()}")
    write_sharded(sharded, path, "shard", 8, "doc_id")
    back = spark.read.parquet(path)
    ids_sorted = F.array_sort(F.collect_list("doc_id"))
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")))
        .cast("long")
        .alias("sum_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.md5(
            F.concat_ws(",", F.transform(ids_sorted, lambda x: x.cast("string")))
        ).alias("fingerprint"),
    )


SQL_SHARD_EXPORT = f"""
SELECT CAST({_sql_md5_int60("CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS sum_tokens,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS fingerprint
FROM documents GROUP BY 1
"""


# --- Zipf power-law fit (one-row corpus-health gauge) ---
def q_zipf_fit(spark, sf_dir):
    """ln(freq) ~ ln(rank) OLS over the top-200 tokens
    (operators/text_analysis.zipf_fit): natural text sits near slope
    −1; drift flags templated/generated floods at the vocab head. The
    corpus collapses to a vocab-sized groupBy, top-n is distributed
    TakeOrdered, the fit is closed-form sums over 200 rows —
    hash-checked at 6 dp."""
    from cs744_big_data_system_spark.operators.text_analysis import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"), topn=200)


SQL_ZIPF_FIT = f"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS f FROM tok GROUP BY tok
), vocab AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM freq
), top AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r
  FROM freq ORDER BY f DESC, tok ASC LIMIT 200
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(ln(r)) AS sx, sum(ln(f)) AS sy,
         sum(ln(r) * ln(r)) AS sxx, sum(ln(f) * ln(f)) AS syy,
         sum(ln(r) * ln(f)) AS sxy
  FROM top
)
SELECT v.n_vocab, CAST(s.n AS BIGINT) AS n_top,
       round((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx), 6) AS slope,
       round((s.sy - ((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx)) * s.sx) / s.n, 6)
         AS intercept,
       round((s.n * s.sxy - s.sx * s.sy) * (s.n * s.sxy - s.sx * s.sy)
             / ((s.n * s.sxx - s.sx * s.sx) * (s.n * s.syy - s.sy * s.sy)), 6) AS r2
FROM s, vocab v
"""


# --- Domain mixture weights (rebalance to a uniform source mix) ---
def q_domain_mix(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import domain_mix_weights

    return domain_mix_weights(load_table(spark, sf_dir, "documents"))


SQL_DOMAIN_MIX = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
         count(*) AS n_sources FROM per_src
)
SELECT source, n_docs, src_tokens AS n_tokens,
       round(src_tokens * 1.0 / tot_tokens, 6) AS token_share,
       round((1.0 / n_sources) / (src_tokens * 1.0 / tot_tokens), 6) AS mix_weight
FROM per_src, tot
"""


# --- Bigram LM + perplexity filter (CCNet-style fluency scoring) ---
LM_MIN_COUNT = 5
LM_BACKOFF_NLL = 10.0
LM_THRESHOLD = 6.0

_SQL_NGRAM2 = _sql_ngram(2)

#: shared DuckDB fragment: the pruned bigram LM (mirror of
#: operators/text_analysis.bigram_lm).
_SQL_LM = f"""
  WITH t0 AS (
    SELECT {_SQL_CANON_TOKS} AS tk FROM documents
  ), g0 AS (
    SELECT unnest({_SQL_NGRAM2.replace('tk', 'tk')}) AS gram FROM t0
  ), c0 AS (
    SELECT gram, count(*) AS n_big FROM g0 GROUP BY gram
  ), s0 AS (
    SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2, n_big FROM c0
  )
  SELECT w1, w2, n_big,
         CAST(sum(n_big) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
  FROM s0
"""


def q_bigram_lm(spark, sf_dir):
    from cs744_big_data_system_spark.operators.text_analysis import bigram_lm

    return bigram_lm(load_table(spark, sf_dir, "documents"), min_count=LM_MIN_COUNT)


SQL_BIGRAM_LM = f"""
SELECT w1, w2, n_big, n_w1, round(ln(n_big * 1.0 / n_w1), 6) AS logp
FROM ({_SQL_LM}) WHERE n_big >= {LM_MIN_COUNT}
"""


def q_perplexity_filter(spark, sf_dir):
    """Score every doc against the corpus's own pruned bigram LM —
    mean negative log-prob with flat backoff for unseen bigrams
    (operators/text_analysis.perplexity_score). The LM side broadcasts;
    the corpus never shuffles before its per-doc aggregation."""
    from cs744_big_data_system_spark.operators.text_analysis import (
        bigram_lm,
        perplexity_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    lm = bigram_lm(docs, min_count=LM_MIN_COUNT)
    return perplexity_score(
        docs, lm, backoff_nll=LM_BACKOFF_NLL, threshold=LM_THRESHOLD
    )


SQL_PERPLEXITY_FILTER = f"""
WITH lm AS (
  SELECT w1 || ' ' || w2 AS gram, round(ln(n_big * 1.0 / n_w1), 6) AS logp
  FROM ({_SQL_LM}) WHERE n_big >= {LM_MIN_COUNT}
), toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, unnest({_SQL_NGRAM2}) AS gram FROM toks
), scored AS (
  SELECT doc_id, COALESCE(-lm.logp, {LM_BACKOFF_NLL}) AS nll
  FROM grams LEFT JOIN lm USING (gram)
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(nll), 4) AS mean_nll,
       round(avg(nll), 4) > {LM_THRESHOLD} AS flagged
FROM scored GROUP BY doc_id
"""


# --- Element-wise mean embedding per label (gradient-mean analogue, A3/D4) ---
def q_label_mean_embedding(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    return (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mean_x"))
        .select("label", (F.col("pos") + 1).cast("long").alias("pos"), "mean_x")
    )


SQL_LABEL_MEAN_EMBEDDING = """
SELECT label, CAST(pos AS BIGINT) AS pos,
       round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS mean_x
FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
GROUP BY label, pos
"""


# --- BPE merge training (operators/bpe.py) — iterative, rows-only ---
def q_text_bpe_merges(spark, sf_dir):
    """First 8 BPE merges learned from the documents corpus: corpus
    scanned once into a weighted word vocab, then each merge round
    runs over the |V|-row vocab table only (pair explode + argmax +
    Arrow-batched merge apply — operators/bpe.py). Iterative driver
    loop → rows-only; the merge sequence is golden-tested against an
    independent pure-Python BPE reference."""
    from cs744_big_data_system_spark.operators.bpe import bpe_merges_df, bpe_train
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges_df(spark, bpe_train(docs, num_merges=8))


def q_dataset_split(spark, sf_dir):
    """Deterministic 80/10/10 train/validation/test assignment by key
    hash — the split every training pipeline needs: reproducible on
    any engine/cluster (no rand()), disjoint and complete by
    construction, and stable under re-runs so downstream shards never
    leak across splits. Same md5-bucket idiom as hash_sample (D1/D7
    reproducible-sharding parity)."""
    from cs744_big_data_system_spark.operators.dedup import md5_int60
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = F.pmod(md5_int60(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", "lang", split.alias("split"))


SQL_DATASET_SPLIT = """
SELECT doc_id, lang,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM documents
"""


def q_text_bpe_tokenize(spark, sf_dir):
    """Tokenize the corpus under the merges just learned: one
    Arrow-batched pass with per-word memoization (operators/bpe.py).
    Output per doc: whitespace word count vs BPE token count — the
    compression signal a tokenizer-aware pipeline samples by."""
    from cs744_big_data_system_spark.operators.bpe import bpe_tokenize, bpe_train
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8)
    return bpe_tokenize(docs, merges)


# --- Unicode canonicalization (NFC + control-char strip) ---
def q_text_unicode_clean(spark, sf_dir):
    """Strip control/zero-width chars (native regexp) then
    NFC-normalize (Arrow-batched pandas_udf — Spark has no
    normalization builtin). Oracle = DuckDB nfc_normalize over the
    same class regex, so the canonicalization is hash-checked
    byte-for-byte."""
    from cs744_big_data_system_spark.operators.text_analysis import unicode_clean

    return unicode_clean(load_table(spark, sf_dir, "documents"))


SQL_TEXT_UNICODE_CLEAN = r"""
WITH cleaned AS (
  SELECT doc_id,
         nfc_normalize(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F​‌‍﻿]', '', 'g')) AS clean_text,
         text
  FROM documents
)
SELECT doc_id, clean_text, clean_text <> text AS changed,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean
FROM cleaned
"""


# --- Compressibility quality signal (zlib ratio) ---
def q_text_compression_ratio(spark, sf_dir):
    """Per-doc zlib-compressed/raw size ratio — the compressibility
    filter (templated/repetitive text compresses far below prose).
    Fixed level ⇒ deterministic, but no SQL mirror exists, so this is
    rows-only in the driver gate with a golden test pinning scores to
    direct zlib calls (tests/test_text.py)."""
    from cs744_big_data_system_spark.operators.text_analysis import compression_ratio

    return compression_ratio(load_table(spark, sf_dir, "documents"))


# --- Corpus-wide top-k n-grams (vocabulary / boilerplate mining) ---
def q_ngram_topk(spark, sf_dir):
    """Top-30 word trigrams corpus-wide with document frequency —
    the vocabulary-mining companion of text_boilerplate. One explode +
    one count groupBy (map-side combinable on the high-cardinality
    gram key) + TakeOrderedAndProject for the final k — no global
    sort. Ties broken lexicographically so the cut is deterministic."""
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens, tokens
    from cs744_big_data_system_spark.operators.dedup import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", tokens(normalized_text("text")).alias("_tk"))
        .select("doc_id", F.explode(ngrams_from_tokens("_tk", 3)).alias("gram"))
    )
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("gram").asc()
    ).limit(30)


SQL_NGRAM_TOPK = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, unnest({_SQL_NGRAM3}) AS gram FROM toks
)
SELECT gram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC LIMIT 30
"""


# --- Substring-level duplicated-span coverage (Lee et al. 2022) ---
#: window length (tokens) for the positional-shingle substring dedup.
SUBSTR_N = 8


def q_dedup_substring(spark, sf_dir):
    """Per-doc duplicated-span token coverage: positional n-gram windows
    occurring ≥2× corpus-wide, interval-merged per doc (running-max
    window trick) so long duplicated runs count at full length. The
    relational relaxation of suffix-array ExactSubstr dedup — linear in
    corpus positions, no pair blowup."""
    from cs744_big_data_system_spark.operators.dedup import substring_dup_coverage

    return substring_dup_coverage(load_table(spark, sf_dir, "documents"), n=SUBSTR_N)


def _sql_dedup_substring(n: int = SUBSTR_N) -> str:
    concat = " || ' ' || ".join(f"tk[i+{k}]" if k else "tk[i]" for k in range(n))
    ngram = (
        f"CASE WHEN len(tk) >= {n} THEN list_transform(range(1, len(tk) - {n - 2}),"
        f" i -> {concat}) ELSE [] END"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), docs AS (
  SELECT doc_id, len(tk) AS n_tokens, {ngram} AS g FROM toks
), pg AS (
  SELECT doc_id, unnest(list_transform(g, (x, i) -> struct_pack(pos := i - 1, h := x))) AS u
  FROM docs
), ph AS (
  SELECT doc_id, u.pos AS pos, {_sql_md5_int60("u.h")} AS gram_hash FROM pg
), dup AS (
  SELECT gram_hash FROM ph GROUP BY gram_hash HAVING count(*) >= 2
), dpos AS (
  SELECT p.doc_id, p.pos AS s, p.pos + {n} - 1 AS e
  FROM ph p WHERE EXISTS (SELECT 1 FROM dup d WHERE d.gram_hash = p.gram_hash)
), marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS newg
  FROM dpos
), grp AS (
  SELECT doc_id, s, e,
         sum(newg) OVER (PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
), merged AS (
  SELECT doc_id, g, max(e) - min(s) + 1 AS covered FROM grp GROUP BY doc_id, g
), cov AS (
  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens FROM merged GROUP BY doc_id
), ndup AS (
  SELECT doc_id, count(*) AS n_dup_grams FROM dpos GROUP BY doc_id
)
SELECT d.doc_id, d.n_tokens,
       CAST(coalesce(n.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(c.dup_tokens, 0) * 1.0 / d.n_tokens, 6) AS dup_share
FROM docs d LEFT JOIN ndup n USING (doc_id) LEFT JOIN cov c USING (doc_id)
"""


SQL_DEDUP_SUBSTRING = _sql_dedup_substring()


# --- Corpus drift monitor: KL/JS between slice distributions ---
def q_corpus_drift_kl(spark, sf_dir):
    """One-row drift gauge (operators/text_analysis.corpus_drift_kl):
    smoothed KL/JS divergence between the lang='en' slice's hashed
    unigram distribution and the rest of the corpus — tracked across
    ingest batches to catch topic/source drift. Bucket tables are
    4096-row bounded aggregates; hash-checked at 6 dp."""
    from cs744_big_data_system_spark.operators.text_analysis import corpus_drift_kl

    return corpus_drift_kl(load_table(spark, sf_dir, "documents"))


SQL_CORPUS_DRIFT_KL = f"""
WITH tok AS (
  SELECT lang, unnest({_SQL_TOKS}) AS tok FROM documents
), bk AS (
  SELECT lang, {_sql_md5_int60("tok")} % 4096 AS b FROM tok
), counts AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_p,
         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_q
  FROM bk GROUP BY b
), tot AS (
  SELECT CAST(sum(c_p) AS DOUBLE) AS n_p, CAST(sum(c_q) AS DOUBLE) AS n_q
  FROM counts
)
SELECT CAST(t.n_p AS BIGINT) AS n_p, CAST(t.n_q AS BIGINT) AS n_q,
       round(sum(((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
             * ln(((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
                  / ((c.c_q + 0.5) / (t.n_q + 0.5 * 4096)))), 6) AS kl_pq,
       round(sum(((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))
             * ln(((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))
                  / ((c.c_p + 0.5) / (t.n_p + 0.5 * 4096)))), 6) AS kl_qp,
       round((sum(((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
              * ln(((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
                   / ((((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
                       + ((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))) / 2)))
            + sum(((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))
              * ln(((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))
                   / ((((c.c_p + 0.5) / (t.n_p + 0.5 * 4096))
                       + ((c.c_q + 0.5) / (t.n_q + 0.5 * 4096))) / 2)))) / 2,
             6) AS js
FROM counts c, tot t GROUP BY t.n_p, t.n_q
"""


# --- N-gram novelty: first-seen share per doc (recycled-text screen) ---
def q_text_novelty(spark, sf_dir):
    """Per-doc share of distinct 3-gram shingles first seen (by
    ascending doc_id) in that very document
    (operators/text_analysis.ngram_novelty) — the recycled-content
    screen: late docs full of already-seen shingles are
    recombinations. Two near-uniform shuffles, no self-join."""
    from cs744_big_data_system_spark.operators.text_analysis import ngram_novelty

    return ngram_novelty(load_table(spark, sf_dir, "documents"), n=3)


SQL_TEXT_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, {_sql_md5_int60("gram")} AS shingle FROM (
    SELECT doc_id, unnest({_sql_ngram(3)}) AS gram FROM toks
  )
), fs AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh0 GROUP BY shingle
)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM sh0 s JOIN fs f USING (shingle) GROUP BY s.doc_id
"""


# --- Winnowing fingerprints (Schleimer et al. 2003 / MOSS) ---
def q_text_winnowing(spark, sf_dir):
    """Per-document winnowing fingerprint sets
    (operators/text_analysis.winnowing_fingerprints, k=4 w=4): the MOSS
    selection — window minimum, rightmost tie — guarantees a shared
    fingerprint for any shared run ≥ 7 tokens while keeping ~2/(w+1)
    of the grams. One bounded per-doc window pass + distinct;
    hash-checked against a windowed-self-join oracle."""
    from cs744_big_data_system_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    return winnowing_fingerprints(load_table(spark, sf_dir, "documents"), k=4, window=4)


def _sql_text_winnowing(k: int = 4, window: int = 4) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), g AS (
  SELECT doc_id, {_sql_ngram(k)} AS grams FROM toks
), ph AS (
  SELECT doc_id, u.pos AS pos, {_sql_md5_int60("u.g")} AS gh FROM (
    SELECT doc_id, unnest(list_transform(grams,
           (x, i) -> struct_pack(pos := i - 1, g := x))) AS u
    FROM g
  )
), win AS (
  SELECT e.doc_id, e.pos AS wend, m.gh, m.pos,
         row_number() OVER (PARTITION BY e.doc_id, e.pos
                            ORDER BY m.gh ASC, m.pos DESC) AS rn
  FROM ph e JOIN ph m ON m.doc_id = e.doc_id
        AND m.pos BETWEEN e.pos - {window - 1} AND e.pos
  WHERE e.pos >= {window - 1}
)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, gh AS gram_hash
FROM win WHERE rn = 1
"""


SQL_TEXT_WINNOWING = _sql_text_winnowing()


# --- Feature hashing (hashing-trick BOW) ---
def q_feature_hash(spark, sf_dir):
    """Stateless signed feature hashing into 256 buckets
    (operators/text_analysis.feature_hash_bow): no vocabulary pass, no
    model table — one explode + one (doc_id, bucket) aggregation.
    md5-derived buckets/signs make the sparse COO output
    hash-checkable."""
    from cs744_big_data_system_spark.operators.text_analysis import feature_hash_bow

    return feature_hash_bow(load_table(spark, sf_dir, "documents"), dim=256)


SQL_FEATURE_HASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_CANON_TOKS}) AS token FROM documents
), h AS (
  SELECT doc_id, {_sql_md5_int60('token')} AS th,
         CAST(('0x' || substr(md5(token), 16, 1)) AS BIGINT) % 2 AS sbit
  FROM tok
)
SELECT doc_id, th % 256 AS bucket,
       CAST(sum(CASE WHEN sbit = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
FROM h GROUP BY doc_id, th % 256
HAVING sum(CASE WHEN sbit = 0 THEN 1 ELSE -1 END) <> 0
ORDER BY doc_id, bucket
"""


# --- Asymmetric containment near-dup (quote / boilerplate-wrap screen) ---
def q_dedup_containment(spark, sf_dir):
    """Ordered pairs where doc_inner's 3-gram shingle set is ≥10%
    inside doc_outer's — Broder's containment resemblance, the
    asymmetric screen Jaccard misses (a doc quoted whole inside a much
    longer page scores ~|A|/|B| Jaccard but 1.0 containment). Same
    blocked + df-cut shingle self-join shape as dedup_ngram_jaccard."""
    from cs744_big_data_system_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3, threshold=0.1, block_col="lang", max_df=NGRAM_MAX_DF,
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_CANON_TOKS} AS tk FROM documents
), grams AS (
  SELECT doc_id, lang, unnest({_SQL_NGRAM3}) AS gram FROM toks
), sh0 AS (
  SELECT DISTINCT doc_id, lang, {_sql_md5_int60("gram")} AS shingle FROM grams
), hot AS (
  SELECT lang, shingle FROM sh0 GROUP BY lang, shingle HAVING count(*) > {NGRAM_MAX_DF}
), sh AS (
  SELECT s.* FROM sh0 s
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.lang = s.lang AND h.shingle = s.shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_lo, b.doc_id AS doc_hi, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), directed AS (
  SELECT doc_lo AS doc_inner, doc_hi AS doc_outer, n_common FROM common
  UNION ALL
  SELECT doc_hi, doc_lo, n_common FROM common
)
SELECT doc_inner, doc_outer,
       round(n_common * 1.0 / s.n, 6) AS containment
FROM directed d JOIN sizes s ON s.doc_id = d.doc_inner
WHERE round(n_common * 1.0 / s.n, 6) >= 0.1
"""


# --- Deterministic stratified train/valid/test split ---
def q_train_test_split(spark, sf_dir):
    """80/10/10 split assigned by md5(doc_id) — deterministic,
    reshuffle-free, and stable under corpus growth (a doc's split never
    changes when other docs arrive — the property random-number splits
    lack). Reported per (lang, split) with counts and char volume: the
    stratification audit a training pipeline runs before every export.
    Pure scan-side projection + one aggregation — no shuffle beyond the
    ~15-group rollup."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


SQL_TRAIN_TEST_SPLIT = """
WITH assigned AS (
  SELECT lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS b
  FROM documents
)
SELECT lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY 1, 2
ORDER BY lang, split
"""


WORKLOADS = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "train_test_split": (q_train_test_split, SQL_TRAIN_TEST_SPLIT),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "dedup_minhash_sig": (q_minhash_sig, SQL_MINHASH_SIG),
    "dedup_minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "dedup_simhash": (q_simhash, SQL_SIMHASH),
    "dedup_simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_embedding_cosine": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "dedup_embedding_cosine_lsh": (q_embedding_neardup_lsh, SQL_EMBEDDING_NEARDUP_LSH),
    "sim_cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "sim_cosine_topk_ivf": (q_cosine_topk_ivf, SQL_COSINE_TOPK_IVF),
    "sim_cosine_topk_ivf2": (q_cosine_topk_ivf2, SQL_COSINE_TOPK_IVF2),
    "sim_cosine_topk_lsh": (q_cosine_topk_lsh, SQL_COSINE_TOPK_LSH),
    "text_lang_id": (q_lang_id, SQL_LANG_ID),
    "text_quality": (q_quality, SQL_QUALITY),
    "text_token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "text_fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "text_tfidf_bm25": (q_tfidf, SQL_TFIDF),
    "text_pmi_cooccurrence": (q_pmi, SQL_PMI),
    "text_boilerplate": (q_boilerplate, SQL_BOILERPLATE),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "synthdocs_profile": (q_synthdocs_profile, SQL_SYNTHDOCS_PROFILE),
    "text_decontaminate": (q_text_decontaminate, SQL_TEXT_DECONTAMINATE),
    "corpus_sample_stratified": (q_corpus_sample_stratified, SQL_CORPUS_SAMPLE_STRATIFIED),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "seq_pack_chunks": (q_seq_pack, SQL_SEQ_PACK),
    "feature_hash_bow": (q_feature_hash, SQL_FEATURE_HASH),
    "token_histogram": (q_token_histogram, SQL_TOKEN_HISTOGRAM),
    "zipf_fit": (q_zipf_fit, SQL_ZIPF_FIT),
    "shard_export": (q_shard_export, SQL_SHARD_EXPORT),
    "text_gopher_rules": (q_gopher_rules, SQL_GOPHER_RULES),
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "text_winnowing": (q_text_winnowing, SQL_TEXT_WINNOWING),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "ann_recall_eval": (q_ann_recall_eval, SQL_ANN_RECALL_EVAL),
    "corpus_drift_kl": (q_corpus_drift_kl, SQL_CORPUS_DRIFT_KL),
    "text_novelty": (q_text_novelty, SQL_TEXT_NOVELTY),
    "embedding_frechet": (q_embedding_frechet, SQL_EMBEDDING_FRECHET),
    "domain_mix_weights": (q_domain_mix, SQL_DOMAIN_MIX),
    "text_bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "text_perplexity_filter": (q_perplexity_filter, SQL_PERPLEXITY_FILTER),
    "llm_clean_corpus": (q_llm_clean_corpus, SQL_LLM_CLEAN_CORPUS),
    "label_mean_embedding": (q_label_mean_embedding, SQL_LABEL_MEAN_EMBEDDING),
    "embedding_quantize": (q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    "embedding_random_projection": (
        q_embedding_random_projection,
        SQL_EMBEDDING_RANDOM_PROJECTION,
    ),
    "embedding_covariance": (q_embedding_covariance, SQL_EMBEDDING_COVARIANCE),
    "embedding_pca": (q_embedding_pca, None),  # driver-side eigensolve
    "dataset_split": (q_dataset_split, SQL_DATASET_SPLIT),
    "text_bpe_merges": (q_text_bpe_merges, None),  # iterative driver loop
    "text_bpe_tokenize": (q_text_bpe_tokenize, None),  # depends on learned merges
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "sim_cosine_topk_pq": (q_cosine_topk_pq, SQL_COSINE_TOPK_PQ),
    "ngram_topk": (q_ngram_topk, SQL_NGRAM_TOPK),
    "text_unicode_clean": (q_text_unicode_clean, SQL_TEXT_UNICODE_CLEAN),
    "text_compression_ratio": (q_text_compression_ratio, None),  # no SQL zlib
}
