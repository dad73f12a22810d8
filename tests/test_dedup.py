"""Dedup family on planted duplicates (SURVEY.md §5.2: approximate ops
are tested via planted near-duplicates with known similarity)."""

from __future__ import annotations

import pytest

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm mat near the old oak door in the quiet house"
)
NEAR = BASE.replace("quiet house", "noisy barn")  # small suffix edit
UNRELATED = "completely different words about spark engines and columnar parquet scans at massive scale"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en", "s0", len(BASE)),
        (1, BASE.upper(), "en", "s1", len(BASE)),          # exact dup modulo case
        (2, "  " + BASE.replace(" ", "  ") + " ", "en", "s2", len(BASE)),  # whitespace variant
        (3, NEAR, "en", "s3", len(NEAR)),                  # near dup
        (4, UNRELATED, "en", "s4", len(UNRELATED)),
        (5, "", "en", "s5", 0),                            # empty text
        (6, "short", "en", "s6", 5),                       # < shingle size
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_exact_dedup_canonicalization(spark, docs):
    from cs744_big_data_system_spark.operators.dedup import exact_dedup, exact_dedup_groups

    groups = {r.keep_doc_id: r.n_copies for r in exact_dedup_groups(docs).collect()}
    assert groups[0] == 3  # 0, 1 (case), 2 (whitespace) collapse
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [0, 3, 4, 5, 6]


def test_ngram_jaccard_finds_planted_pair(spark, docs):
    from cs744_big_data_system_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3, block_col=None).collect()
    }
    assert (0, 3) in pairs  # BASE vs NEAR share most shingles
    assert pairs[(0, 3)] > 0.7
    assert (0, 4) not in pairs  # unrelated


def test_minhash_lsh_finds_planted_pair(spark, docs):
    from cs744_big_data_system_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in
             minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.4).collect()}
    # exact dups agree on every minhash
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] > 0.5
    assert (0, 4) not in pairs


def test_simhash_near_dup_hamming(spark, docs):
    from cs744_big_data_system_spark.operators.dedup import simhash

    h = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(h[0], h[3]) <= 4       # near-dup: few bits differ
    assert ham(h[0], h[4]) >= ham(h[0], h[3])  # unrelated at least as far
    assert h[0] == h[1] == h[2]       # canonical-token-identical docs


def test_embedding_cosine_neardup(spark):
    from cs744_big_data_system_spark.operators.dedup import embedding_cosine_neardup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),    # orthogonal
        (3, [1.0, 0.0, 0.0, 0.0], 1),    # same as 0 but other block
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = {(r.vec_a, r.vec_b) for r in
             embedding_cosine_neardup(df, threshold=0.95, block_col="label").collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs
    assert (0, 3) not in pairs  # blocked away


def test_empty_and_short_docs_survive(spark, docs):
    from cs744_big_data_system_spark.operators.dedup import minhash_signatures, simhash

    # docs 5 (empty) and 6 (< n tokens) have no shingles → no signature
    # row, but must not crash anything.
    sigs = {r.doc_id for r in minhash_signatures(docs, n=3, num_hashes=4).collect()}
    assert 5 not in sigs and 6 not in sigs and 0 in sigs
    sh = {r.doc_id for r in simhash(docs, bits=8).collect()}
    assert 5 not in sh and 6 in sh  # simhash is token-level: 'short' has one token


def test_simhash_band_key_cardinality_scales(spark):
    """The band join's key space must grow with the corpus — a narrow
    signature (32-bit → 4×2^8 = 1024 keys) pins bucket sizes at ~n/256
    and the per-bucket self-join goes quadratic at scale. With 60-bit
    signatures (4 × 15-bit bands) distinct band keys track corpus size."""
    import pyspark.sql.functions as F

    from cs744_big_data_system_spark.operators.dedup import simhash

    def distinct_band_keys(n_docs: int, bits: int) -> int:
        import hashlib

        # Disjoint pseudo-random token sets per doc (simhash is a
        # similarity hash — overlapping vocabularies would rightly
        # yield colliding bands and hide the cardinality effect).
        def text(i: int) -> str:
            return " ".join(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:10] for j in range(12))

        rows = [(i, text(i), "en", f"s{i}", 40) for i in range(n_docs)]
        docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
        bands, band_bits = 4, bits // 4
        mask = (1 << band_bits) - 1
        sig = simhash(docs, bits=bits)
        entries = sig.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright("simhash", i * band_bits).bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for i in range(bands)
            ])).alias("b")
        ).select("b.band_idx", "b.band_val")
        return entries.distinct().count()

    small, large = distinct_band_keys(100, 60), distinct_band_keys(400, 60)
    # 60-bit / 15-bit bands: essentially every (doc, band) lands in its
    # own bucket at this size — key count scales ~linearly with corpus.
    assert small >= 0.9 * 4 * 100
    assert large >= 0.9 * 4 * 400
    assert large > 3 * small


def test_ngram_jaccard_max_df_cuts_stop_shingles(spark):
    """A boilerplate shingle shared by every doc must not create pairs
    (or join fan-out) once max_df prunes it; genuinely similar docs —
    which share doc-specific shingles — still pair up."""
    import hashlib

    from cs744_big_data_system_spark.operators.dedup import ngram_jaccard_pairs

    BOILER = "subscribe to our newsletter"  # planted stop-shingle source

    def body(i: int) -> str:
        return " ".join(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8] for j in range(10))

    rows = [(i, f"{body(i)} {BOILER}", "en", f"s{i}", 80) for i in range(20)]
    # 20 and 21 are near-dups of 0 and of each other (same body).
    rows.append((20, f"{body(0)} extra {BOILER}", "en", "s20", 80))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

    without = ngram_jaccard_pairs(docs, n=3, threshold=0.01, block_col="lang").collect()
    with_cut = ngram_jaccard_pairs(
        docs, n=3, threshold=0.01, block_col="lang", max_df=5
    ).collect()

    # Without the cutoff the shared boilerplate pairs EVERY doc with
    # every other — quadratic fan-out (the scale killer).
    assert len(without) == 21 * 20 // 2
    # With it, only the planted near-dup pair survives, at a higher
    # jaccard (pruned sets exclude the no-signal hot shingles).
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in with_cut}
    assert set(pairs) == {(0, 20)}
    assert pairs[(0, 20)] > 0.5


def test_embedding_neardup_lsh_recall(spark):
    """Banded sign-pattern LSH must recover ~all true near-dup pairs
    (cosine >= 0.9) that the exact blocked all-pairs join finds, without
    any O(n^2) join."""
    import math
    import random

    from cs744_big_data_system_spark.operators.dedup import (
        embedding_cosine_neardup,
        embedding_cosine_neardup_lsh,
    )

    rng = random.Random(744)
    dim = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    vid = 0
    for base_i in range(40):
        base = unit([rng.gauss(0, 1) for _ in range(dim)])
        rows.append((vid, base, 0)); vid += 1
        # planted near-dup: small perturbation, cosine ~0.99
        near = unit([x + rng.gauss(0, 0.05) for x in base])
        rows.append((vid, near, 0)); vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    exact = {(r.vec_a, r.vec_b) for r in
             embedding_cosine_neardup(df, threshold=0.9, block_col=None).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in
           embedding_cosine_neardup_lsh(
               df, dim=dim, threshold=0.9, num_bands=8, planes_per_band=4
           ).collect()}

    assert len(exact) >= 40              # every planted pair is a true near-dup
    assert lsh <= exact                  # verify step: no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


def test_substring_coverage_planted_span(spark):
    from cs744_big_data_system_spark.operators.dedup import substring_dup_coverage

    shared = " ".join(f"s{i}" for i in range(12))  # 12-token duplicated run
    rows = [
        (1, "u1 u2 u3 u4 u5 " + shared + " v1 v2 v3 v4 v5"),
        (2, "w1 w2 w3 w4 w5 " + shared + " x1 x2 x3 x4 x5"),
        (3, " ".join(f"z{i}" for i in range(22))),  # clean doc, same length
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in substring_dup_coverage(docs, n=8).collect()}
    # 5 duplicated 8-windows inside the shared run merge back to the
    # full 12-token span; the clean doc reports zeros but still appears.
    for d in (1, 2):
        assert got[d].n_dup_grams == 5
        assert got[d].dup_tokens == 12
        assert abs(got[d].dup_share - 12 / 22) < 1e-6
    assert got[3].dup_tokens == 0 and got[3].dup_share == 0.0
    assert got[3].n_tokens == 22


def test_containment_detects_quote_inside_longer_doc(spark):
    """A short doc quoted whole inside a much longer one: Jaccard is
    small (|A|/|B|), containment(A→B) is 1.0 — the asymmetric screen.
    The reverse orientation (B inside A) must score low, and unrelated
    docs must not pair at all."""
    from cs744_big_data_system_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog near the old oak door"
    filler = (
        "many unrelated filler words describe completely other topics "
        "including weather mountains rivers cities music painting "
        "history science galaxies particles molecules gardens recipes "
        "travel maps bridges tunnels trains airports harbors markets"
    )
    rows = [
        (0, quote, "en", "s0", len(quote)),
        (1, filler + " " + quote + " " + filler, "en", "s1", 0),
        (2, "totally disjoint text about parquet scans and shuffle exchanges at scale", "en", "s2", 0),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    cont = {
        (r.doc_inner, r.doc_outer): r.containment
        for r in containment_pairs(docs, n=3, threshold=0.5, block_col=None).collect()
    }
    assert cont[(0, 1)] == 1.0          # quote fully inside the long doc
    assert (1, 0) not in cont           # long doc is NOT inside the quote
    assert not any(2 in k for k in cont)
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0, block_col=None).collect()
    }
    assert jac[(0, 1)] < 0.5            # symmetric measure misses it


def test_containment_blocking_and_df_cutoff(spark):
    """Cross-language pairs never form (blocking) and a boilerplate
    shingle shared by every doc can't create pairs once max_df cuts it."""
    from cs744_big_data_system_spark.operators.dedup import containment_pairs

    boiler = "all rights reserved contact us for more"
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, boiler + " " + shared, "en", "s", 0),
        (1, boiler + " one two three four five six seven", "en", "s", 0),
        (2, boiler + " " + shared + " extra tail words here", "en", "s", 0),
        (3, boiler + " " + shared, "fr", "s", 0),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    cont = {
        (r.doc_inner, r.doc_outer)
        for r in containment_pairs(
            docs, n=3, threshold=0.3, block_col="lang", max_df=2
        ).collect()
    }
    # boilerplate shingles hit df=3 within en and are cut: doc 1 (only
    # boilerplate in common) pairs with nothing; 0 and 2 still pair on
    # their doc-specific shared shingles; the fr twin of doc 0 never
    # crosses the lang block.
    assert (0, 2) in cont
    assert not any(1 in k or 3 in k for k in cont), cont


def test_row_minhash_bands_equal_grouped_path(spark, docs):
    """The scan-side per-row band computation (streaming-safe: no
    shuffle) must equal the explode→groupBy signature path band for
    band — duplicates in the gram array can't move a min, and docs
    without shingles drop out of both."""
    from cs744_big_data_system_spark.operators.dedup import (
        minhash_signatures,
        row_minhash_bands,
    )
    from pyspark.sql import functions as F

    sig = minhash_signatures(docs, n=3, num_hashes=16)
    rpb = 16 // 4
    grouped = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws(",", *[
                    F.element_at("sig", b * rpb + r + 1).cast("string")
                    for r in range(rpb)
                ])).alias("band_hash"),
            )
            for b in range(4)
        ])).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    a = {tuple(r) for r in grouped.collect()}
    b = {tuple(r) for r in row_minhash_bands(docs, n=3, num_hashes=16, bands=4).collect()}
    assert a == b and len(a) > 0


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """SemDeDup: two well-separated directions in R^4; each holds one
    planted near-dup (cos ≈ 0.995) and one moderately-similar member
    (cos ≈ 0.90-0.94). At threshold 0.98 exactly the two planted dups
    are removed, each attributed to its own cluster's base vector."""
    from cs744_big_data_system_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),    # cluster-A base (init centroid 0)
        (1, [0.0, 1.0, 0.0, 0.0], 0),    # cluster-B base (init centroid 1)
        (2, [0.99, 0.1, 0.0, 0.0], 0),   # near-dup of 0
        (3, [0.1, 0.99, 0.0, 0.0], 0),   # near-dup of 1
        (4, [0.9, 0.43, 0.0, 0.0], 0),   # same cell as 0, cos ~0.90
        (5, [0.0, 0.9, 0.43, 0.0], 0),   # same cell as 1, cos ~0.90
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.vec_id: r for r in
           semantic_dedup(df, k=2, iterations=2, threshold=0.98).collect()}
    assert set(out) == {2, 3}
    assert out[2].dup_of == 0 and out[3].dup_of == 1
    assert out[2].cluster != out[3].cluster
    assert out[2].cosine > 0.99 and out[3].cosine > 0.99


def test_dedup_clusters_see_a_rewritten_documents_table(spark, tmp_path):
    """q_dedup_clusters reads `documents` on every call: rewriting the
    table in place within one session changes the clusters it returns
    (no per-session memo serves the old table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs744_big_data_system_spark.workloads.llm import q_dedup_clusters

    def write_docs(texts):
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": [f"s{i}" for i in range(len(texts))],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            tmp_path / "documents.parquet",
        )

    def clusters():
        rows = q_dedup_clusters(spark, str(tmp_path)).collect()
        return {(r.doc_id, r.cluster_id, r.cluster_size) for r in rows}

    write_docs([BASE, BASE, UNRELATED])
    assert clusters() == {(0, 0, 2), (1, 0, 2)}
    write_docs([BASE, BASE, UNRELATED, BASE])
    assert clusters() == {(0, 0, 3), (1, 0, 3), (3, 0, 3)}
