"""Deduplication family over the ``documents`` table.

Five public techniques, each expressed Spark-first (native Column ops,
shuffle-conscious), sized for a 100 TB corpus:

  exact        — hash-groupBy on a canonical text digest. One shuffle on
                 a well-distributed 128-bit key; no skew by construction.
  minhash-LSH  — shingle → k minhashes → b bands → band-bucket self-join.
                 The self-join happens only inside (band, signature)
                 buckets, so the shuffle key is the band hash — the
                 classic way to avoid the O(n²) pair explosion.
  simhash      — 60-bit weighted-bit fingerprint; near-dups share most
                 bits. Deterministic md5-based hashing so the DuckDB
                 oracle can reproduce it bit-for-bit. 60 (not 64) so
                 the signature and every band shift stay inside signed
                 int64 on BOTH engines (DuckDB BIGINT errors, rather
                 than wraps, on overflow).
  n-gram Jaccard — exact set-similarity via a shingle equi-join inside
                 blocking groups (lang), counting common shingles.
  embedding cosine — near-dup pairs by cosine ≥ τ inside label blocks
                 (see operators/similarity.py for the k-NN variant).

Reference anchor: the reference has no dedup (SURVEY.md §2.9); its
closest primitives are groupByKey/reduceByKey
(assignment1/part3/task1/task1.py:34,52), which are the same
hash-shuffle building blocks used here.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs744_big_data_system_spark.functions.text import (
    ngrams_from_tokens,
    normalized_text,
    tokens,
)

# 60-bit space: 15 hex digits always fits a signed int64 (no overflow on
# either engine); md5 (not xxhash64) because the oracle must reproduce it.
_HEX_DIGITS = 15


def md5_int60(col) -> "F.Column":
    """Deterministic 60-bit integer hash of a string column, identical in
    Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    (`('0x'||substr(md5(x),1,15))::BIGINT`)."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_DIGITS), 16, 10).cast("long")


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """One row per distinct canonical text: digest, kept doc_id (min),
    duplicate count. Single hash-shuffle on the digest."""
    return (
        documents.select(
            F.md5(normalized_text("text")).alias("text_hash"),
            F.col("doc_id"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Documents with exact duplicates removed; keeps the min doc_id per
    canonical text (deterministic, unlike dropDuplicates)."""
    keep = exact_dedup_groups(documents).select(F.col("keep_doc_id").alias("doc_id"))
    # No broadcast hint: the keep-list is ~one row per distinct doc —
    # unbounded at corpus scale. AQE broadcasts it when (and only
    # when) the runtime size allows.
    return documents.join(keep, "doc_id", "left_semi")


def _with_canon_tokens(documents: DataFrame, *keep_cols: str) -> DataFrame:
    """Materialize the canonical token array (lowercased, whitespace
    collapsed — matching exact_dedup's canonicalization) as a real
    column. Near-dup detection must be insensitive to trivial byte
    differences; materializing (vs inlining the split expression) is
    what keeps the downstream n-gram transform from re-running the
    regex per element — measured 10× at sf0.1."""
    return documents.select(*keep_cols, tokens(normalized_text("text")).alias("_tk"))


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with set semantics — distinct canonical word
    n-grams per doc. explode is native; distinct is one shuffle keyed
    by (doc_id, shingle), which is high-cardinality and skew-free."""
    return (
        _with_canon_tokens(documents, "doc_id")
        .select("doc_id", F.explode(ngrams_from_tokens("_tk", n)).alias("shingle"))
        .distinct()
    )


def pruned_shingle_table(
    documents: DataFrame,
    n: int = 3,
    block_col: str | None = "lang",
    max_df: int | None = None,
) -> DataFrame:
    """The (doc_id [, block], shingle-hash) table that the shingle
    self-joins consume — shared by ngram_jaccard_pairs and
    containment_pairs, and exposed so the skew-stress tests can assert
    the df-cutoff invariant on the EXACT table the join sees (post-
    cutoff df ≤ max_df ⇒ heaviest join bucket ≤ max_df·(max_df−1)/2
    candidate rows, whatever the corpus skew).

    Shingles are folded to 60-bit hashes BEFORE the distinct and the
    self-join: the shuffle/join key becomes 8 bytes instead of a
    3-word string (collision probability ~n²/2^61 — and the oracle
    hashes identically, so even a collision matches). Set semantics
    (distinct per doc) are on the hash.

    ``max_df``: document frequency as a window count over the join
    key — ONE repartition of the shingle table into (block, shingle)
    partitioning, which is exactly what the downstream self-join
    requires, so both join sides then need no further Exchange (vs a
    separate df-aggregate + anti-join, which costs an extra pass and
    leaves the join to re-shuffle anyway; ~12% on the sf0.1 bench, and
    one fewer full-table exchange at scale).
    """
    doc_cols = ["doc_id"] + ([block_col] if block_col else [])
    sh = (
        _with_canon_tokens(documents, *doc_cols)
        .select(
            *doc_cols,
            F.explode(
                F.transform(ngrams_from_tokens("_tk", n), md5_int60)
            ).alias("shingle"),
        )
        # Explicit not-null on every key the downstream self-join
        # touches, BEFORE the distinct. The join infers these
        # (doc_a < doc_b, shingle/block equality) and pushes them below
        # the distinct's exchange on the two pair sides but not on the
        # per-doc sizes side, leaving sizes on its own scan of the whole
        # tokenize→ngram→md5 subtree (r11 executed-plan audit: 2 scans,
        # sizes re-deriving everything). With the filters explicit, all
        # consumers canonicalize identically and AQE reuses ONE distinct
        # exchange. Semantics unchanged: doc_id and the md5-folded
        # shingle are never null by construction, and null-block docs
        # can never appear in a pair, so their sizes rows were
        # unreachable through the inner joins anyway.
        .filter(
            reduce(
                lambda a, b: a & b,
                [F.col(c).isNotNull() for c in [*doc_cols, "shingle"]],
            )
        )
        .distinct()
    )
    if max_df is not None:
        from pyspark.sql import Window

        df_keys = ([block_col] if block_col else []) + ["shingle"]
        w = Window.partitionBy(*df_keys)
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    return sh


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    block_col: str | None = "lang",
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle equi-join.

    jaccard(A,B) = |A∩B| / (|A|+|B|−|A∩B|), computed relationally:
    self-join the distinct-shingle table on shingle (+ optional blocking
    column to bound fan-out at scale), count common shingles per pair,
    join per-doc shingle counts, filter by threshold.

    ``max_df`` drops shingles whose document frequency (within the
    blocking group) exceeds the cutoff BEFORE the self-join — a
    boilerplate n-gram shared by 10⁶ docs would otherwise fan the join
    out to 10¹² rows on that one key. Per-doc sizes are computed after
    the cutoff, so the result is the true Jaccard of the PRUNED shingle
    sets (hot shingles carry no similarity signal — this is the n-gram
    twin of a stop-word list, and the standard fix at corpus scale).

    At 100 TB blocking bounds cross-language fan-out and ``max_df``
    bounds per-key fan-out; pair counting is a groupBy on
    (doc_a, doc_b) with map-side partial aggregation.
    """
    sh = pruned_shingle_table(documents, n=n, block_col=block_col, max_df=max_df)
    # No persist here: the three consumers (sizes, both join sides)
    # share the distinct's shuffle via ReuseExchange, and a persist
    # inside a lazily-returned operator can never be unpersisted —
    # repeated invocations in one session would leak cached blocks.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    left = sh.select(
        F.col("doc_id").alias("doc_a"),
        *( [F.col(block_col)] if block_col else [] ),
        "shingle",
    )
    right = sh.select(
        F.col("doc_id").alias("doc_b"),
        *( [F.col(block_col).alias(f"{block_col}_b")] if block_col else [] ),
        "shingle",
    )
    join_cond = [left.shingle == right.shingle, left.doc_a < right.doc_b]
    if block_col:
        join_cond.append(F.col(block_col) == F.col(f"{block_col}_b"))
    common = (
        left.join(right, join_cond)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = "lang",
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs where doc_inner's shingle set
    is mostly inside doc_outer's — containment(A→B) = |A∩B| / |A|.

    Jaccard misses subset relationships (a doc quoted whole inside a
    10x-longer page scores |A|/|B| ≈ 0.1 Jaccard but 1.0 containment),
    and containment is the standard screen for quote/boilerplate-wrap
    duplication in training corpora (the measure behind Broder's
    "containment" resemblance variant). Relationally it is the SAME
    bounded shingle self-join as ngram_jaccard_pairs — one undirected
    common-shingle count per pair, then both orientations emitted and
    filtered — so the scale shape (blocking + ``max_df`` df-cutoff
    bounding per-key fan-out) is identical; no new shuffle is added
    beyond the pair-count groupBy.
    """
    sh = pruned_shingle_table(documents, n=n, block_col=block_col, max_df=max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    left = sh.select(
        F.col("doc_id").alias("doc_lo"),
        *([F.col(block_col)] if block_col else []),
        "shingle",
    )
    right = sh.select(
        F.col("doc_id").alias("doc_hi"),
        *([F.col(block_col).alias(f"{block_col}_b")] if block_col else []),
        "shingle",
    )
    join_cond = [left.shingle == right.shingle, left.doc_lo < right.doc_hi]
    if block_col:
        join_cond.append(F.col(block_col) == F.col(f"{block_col}_b"))
    common = (
        left.join(right, join_cond)
        .groupBy("doc_lo", "doc_hi")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # one undirected count → both ordered orientations, each scored by
    # ITS inner side's set size
    directed = common.select(
        F.col("doc_lo").alias("doc_inner"), F.col("doc_hi").alias("doc_outer"), "n_common"
    ).unionByName(
        common.select(
            F.col("doc_hi").alias("doc_inner"), F.col("doc_lo").alias("doc_outer"), "n_common"
        )
    )
    si = sizes.select(F.col("doc_id").alias("doc_inner"), F.col("n_shingles").alias("n_inner"))
    return (
        directed.join(si, "doc_inner")
        .select(
            "doc_inner",
            "doc_outer",
            F.round(F.col("n_common") / F.col("n_inner"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


#: Mersenne prime 2^31−1: the universal-hash modulus. (a·x + b) mod p
#: with x,a,b < p keeps every product under 2^62 — no int64 overflow in
#: Spark AND no INT128 widening surprises in the DuckDB oracle.
MINHASH_PRIME = 2147483647


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash-family member i, derived from md5
    so both engines can embed the same literals."""
    import hashlib

    a = int(hashlib.md5(f"mh-a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
    b = int(hashlib.md5(f"mh-b{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
    return a, b


def minhash_signatures(documents: DataFrame, n: int = 3, num_hashes: int = 32) -> DataFrame:
    """(doc_id, sig: array<long>) — k minhashes per doc.

    The shingle is hashed ONCE (md5 folded to 60 bits, reduced mod p);
    family member i is the universal hash (aᵢ·x + bᵢ) mod p — k
    multiply-adds per shingle instead of k md5 evaluations, which is
    what makes k=32+ affordable at corpus scale. Signature = min per
    member over the doc's shingle set: one explode + groupBy(doc_id)
    with ``min`` aggregates — a single shuffle keyed by doc_id,
    partials combined map-side, independent of k. No MLlib dependency,
    no Python in the loop, fully deterministic.
    """
    sh = shingles(documents, n).select(
        "doc_id", (md5_int60(F.col("shingle")) % MINHASH_PRIME).alias("x")
    )
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        aggs.append(F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}"))
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def row_minhash_bands(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) computed entirely SCAN-SIDE — no
    shuffle, no aggregation — so it composes with Structured Streaming
    (stateful ops forbid a pre-aggregation) and any per-row map stage.

    Numerically identical to minhash_signatures + the
    minhash_lsh_pairs banding: duplicates in the per-row gram array
    don't affect the min, so skipping the distinct changes nothing;
    docs with no shingles (empty/short text) are dropped exactly as
    the explode path drops them. The equivalence is pinned by
    tests/test_dedup.py::test_row_minhash_bands_equal_grouped_path."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    d = _with_canon_tokens(documents, "doc_id").filter(F.size("_tk") >= n)
    # The per-gram md5 must run per ROW here. Two traps measured at
    # sf0.1: (1) a Catalyst F.transform lambda is an INTERPRETED
    # HigherOrderFunction — 7.9s; (2) building the gram array JVM-side
    # and shipping it to a pandas_udf Arrow-serializes ~3x the corpus
    # bytes (every word copied into 3 grams) — 7.5s, the transfer
    # dominating. Shipping the TOKEN array (1x bytes, already
    # materialized by the canonical tokenizer) and forming grams inside
    # the Arrow batch gets the whole projection to ~1.5s — on par with
    # the exploded/codegen'd grouped path — while staying a STATELESS
    # map, which is what the streaming plan requires. Gram semantics
    # (' '.join of n consecutive tokens) are pinned to
    # functions/text.ngrams_from_tokens by the equivalence test.
    params = [minhash_params(i) for i in range(num_hashes)]

    @F.pandas_udf("array<long>")
    def sig_udf(toks):
        import hashlib  # noqa: PLC0415 — worker-side

        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        A = np.array([p[0] for p in params], dtype=np.int64)[:, None]
        B = np.array([p[1] for p in params], dtype=np.int64)[:, None]
        hexd, prime = _HEX_DIGITS, MINHASH_PRIME
        out = []
        for ts in toks:
            ts = list(ts)
            m = len(ts) - 2
            xs = np.fromiter(
                (
                    int(
                        hashlib.md5(" ".join(ts[i : i + 3]).encode()).hexdigest()[:hexd],
                        16,
                    )
                    % prime
                    for i in range(m)
                ),
                dtype=np.int64,
                count=m,
            )
            out.append(((A * xs[None, :] + B) % prime).min(axis=1))
        return pd.Series(out)

    if n != 3:  # the Arrow kernel inlines n=3 (the engine-wide shingle size)
        raise NotImplementedError("row_minhash_bands supports n=3 shingles")
    sig = d.select("doc_id", sig_udf("_tk").alias("_sig"))
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("_sig", b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


def _minhash_band_entries(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, sig, band_idx, band_hash): one row per (doc, band),
    band key = md5 of the band's signature slice — the shared banding
    expression behind minhash_lsh_pairs (self-join dedup) and
    incremental_lsh_dedup (batch-vs-corpus dedup)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_hash")


def incremental_lsh_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """Incremental-ingest dedup: flag each NEW (batch) document that
    near-duplicates the EXISTING corpus — the shape a 100 TB pipeline
    actually runs day to day, where re-self-joining the whole corpus
    per arriving shard would be quadratic over the pipeline's lifetime.

    The corpus side is banded once into an LSH index keyed by
    (band_idx, band_hash); the batch side bands itself the same way and
    joins AGAINST that index — the only shuffle is ~|batch| × bands
    probe rows against near-uniform hash keys, independent of corpus
    row order, and at scale the corpus index is the thing you persist
    between runs (here both sides derive from the same fixture scan).
    Candidates verify by exact signature agreement (same statistic as
    minhash_lsh_pairs); the best match per batch doc is a
    min-of-struct aggregate on INTEGER keys (32 - agree, corpus_id) —
    map-side combinable, no window.

    Returns one row per batch doc_id: (doc_id, is_dup, match_id,
    est_jaccard, n_matches); docs with no verified corpus match (or too
    short to shingle) report is_dup = 0 with NULL match columns.
    """
    assert num_hashes % bands == 0
    sig_c = minhash_signatures(corpus, n, num_hashes)
    sig_b = minhash_signatures(batch, n, num_hashes)
    idx = _minhash_band_entries(sig_c, num_hashes, bands).select(
        F.col("doc_id").alias("match_id"),
        F.col("sig").alias("sig_c"),
        "band_idx",
        "band_hash",
    )
    probe = _minhash_band_entries(sig_b, num_hashes, bands).select(
        F.col("doc_id").alias("batch_id"),
        F.col("sig").alias("sig_b"),
        "band_idx",
        "band_hash",
    )
    cand = (
        probe.join(idx, ["band_idx", "band_hash"])
        .select("batch_id", "match_id", "sig_b", "sig_c")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_b", "sig_c", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    verified = cand.select(
        "batch_id", "match_id", agree.alias("agree")
    ).filter(F.round(F.col("agree") / F.lit(float(num_hashes)), 6) >= threshold)
    best = verified.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min(
            F.struct(
                (F.lit(num_hashes) - F.col("agree")).alias("neg_agree"),
                F.col("match_id").alias("m"),
            )
        ).alias("b"),
    )
    return (
        batch.select("doc_id")
        .join(best, batch["doc_id"] == best["batch_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("batch_id").isNotNull(), 1).otherwise(0).alias("is_dup"),
            F.col("b.m").alias("match_id"),
            F.round(
                (F.lit(num_hashes) - F.col("b.neg_agree")) / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, then exact-ish
    verification by signature agreement.

    b bands × r rows (r = num_hashes/b): docs agreeing on ALL r hashes
    of any band collide. The self-join key is (band_idx, band_hash) —
    at 100 TB that is the only shuffle that matters and its
    cardinality is ~num_docs × b with near-uniform distribution.

    Returns (doc_a, doc_b, est_jaccard) where est_jaccard = fraction of
    agreeing minhashes, filtered at ``threshold``.
    """
    assert num_hashes % bands == 0
    # No persist (see ngram_jaccard_pairs) — the band self-join's two
    # sides are the same subplan; ReuseExchange computes it once.
    sig = minhash_signatures(documents, n, num_hashes)
    band_entries = _minhash_band_entries(sig, num_hashes, bands)

    a = band_entries.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "band_idx", "band_hash",
    )
    b_ = band_entries.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band_idx", "band_hash",
    )
    cand = (
        a.join(b_, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    est = agree.cast("double") / F.lit(num_hashes)
    return (
        cand.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(documents: DataFrame, bits: int = 60) -> DataFrame:
    """(doc_id, simhash) — classic Charikar simhash over whitespace
    tokens, ``bits`` wide (max 60: the md5-folded token hash is 60 bits
    so both engines stay inside signed int64; the oracle reproduces it
    exactly since the token hash is md5-based).

    Plan shape: explode tokens (1→N), explode bit positions (1→bits),
    single groupBy(doc_id, bit) sum, then a pivot-free reassembly via
    conditional sum — two narrow shuffles, both keyed by doc_id.
    """
    # explode_OUTER + not-null: see substring_dup_coverage.
    tok = _with_canon_tokens(documents, "doc_id").select(
        "doc_id", F.explode_outer("_tk").alias("tok")
    ).filter(F.col("tok").isNotNull())
    tok = tok.withColumn("th", md5_int60(F.col("tok")))
    # One conditional-sum aggregate per bit instead of a bit-explode:
    # the explode version shuffles |tokens|·bits rows; this shuffles
    # |tokens| rows once with ``bits`` map-side partial sums riding the
    # same exchange — measured ~3× at sf0.1 for bits=32.
    bit_aggs = [
        F.sum(
            F.when(F.expr(f"shiftright(th, {i}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(bits)
    ]
    bitsums = tok.groupBy("doc_id").agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return bitsums.select("doc_id", sim.alias("simhash"))


def simhash_hamming_pairs(
    documents: DataFrame,
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose simhashes differ in ≤ ``max_hamming`` bits,
    via pigeonhole banding: split the ``bits``-wide signature into
    (max_hamming + 1) bands — any pair within the hamming budget must
    agree EXACTLY on at least one band, so candidates are found with an
    equi-join on (band_idx, band_value) instead of an O(n²) cross join.
    Exact hamming (bit_count of xor) verifies candidates.

    Band width is the scale knob: the candidate join's key space is
    bands × 2^(bits/bands), and every bucket self-joins quadratically.
    The 60-bit default gives 4 × 2^15 ≈ 131k keys at max_hamming=3 —
    narrow signatures (e.g. 32-bit → 4 × 2^8 = 1024 keys) collapse
    into ~n/256-sized buckets at corpus scale and go quadratic.

    At 100 TB the band join is the only shuffle and its key is
    near-uniform (band values of a hash); the verify step is a narrow
    projection. This is the simhash twin of minhash_lsh_pairs.
    """
    bands = max_hamming + 1
    assert bits % bands == 0, "bits must divide into max_hamming+1 bands"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig = simhash(documents, bits)
    # No explicit repartition on the (band_idx, band_val) join key: it
    # was tried in r11 and dropped (commit bfef8dd) — forcing both
    # sides through a band-key exchange put an extra shuffle on the
    # critical path and cost ~1 s at sf0.1.
    entries = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    (F.shiftright("simhash", i * band_bits).bitwiseAND(F.lit(mask))).alias("band_val"),
                )
                for i in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = entries.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val"
    )
    b = entries.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val"
    )
    # Verify BEFORE the dedup exchange: compute the exact hamming on
    # the joined row and drop non-pairs first, so the distinct shuffles
    # only TRUE pairs and only (doc_a, doc_b, hamming) — not every
    # multi-band candidate with two 8-byte signatures (guide §2.3,
    # 'shuffle fewer bytes'). hamming is a pure function of the pair,
    # so distinct-on-three-columns has the cardinality of the pair set.
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_cosine_neardup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = "label",
) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ threshold inside blocking
    groups (label). Exact but O(n²/L) in the block size — this is the
    small-scale oracle baseline; the corpus-scale candidate generator
    is embedding_cosine_neardup_lsh below."""
    from cs744_big_data_system_spark.functions.vectors import cosine_similarity

    cols_a = [F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")]
    cols_b = [F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")]
    if block_col:
        cols_a.append(F.col(block_col))
        cols_b.append(F.col(block_col).alias(f"{block_col}_b"))
    a = embeddings.select(*cols_a)
    b = embeddings.select(*cols_b)
    cond = [F.col("vec_a") < F.col("vec_b")]
    if block_col:
        cond.append(F.col(block_col) == F.col(f"{block_col}_b"))
    pairs = a.join(b, cond)
    cos = cosine_similarity("emb_a", "emb_b")
    out_cols = ["vec_a", "vec_b"] + ([block_col] if block_col else [])
    return (
        pairs.select(*out_cols, F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_neardup_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    num_bands: int = 8,
    planes_per_band: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-scale near-duplicate vector pairs: banded random-hyperplane
    LSH candidates, exact cosine verification.

    Each vector gets ``num_bands`` sign-pattern bucket keys from
    disjoint slices of the deterministic hyperplane family
    (similarity.lsh_bucket); a pair is a candidate iff it collides in
    ANY band — the minhash-banding construction applied to angular
    distance. For cosine ≥ 0.9 (angle ≈ 26°), P(one plane agrees)
    ≈ 1 − θ/π ≈ 0.857, so 8 bands × 10 planes give recall
    1 − (1 − 0.857¹⁰)⁸ ≈ 0.86 (≈ 1.0 at cosine 0.97+), while an
    unrelated pair (p = 0.5) collides anywhere with probability
    8 × 0.5¹⁰ ≈ 0.8%.

    ``planes_per_band`` is the scale knob — size it ≈ log₂(corpus /
    wanted-bucket-size): each band has 2^planes buckets, and per-bucket
    candidates grow quadratically (10 planes = 1024 buckets per band;
    4 planes = 16, which collapses exactly like a too-narrow simhash
    band). Candidates are deduped on the ID pair ONLY — an 16-byte
    shuffle key — and the embeddings re-join for the verify step (two
    hash joins the optimizer can broadcast when the vector table side
    allows), instead of dragging both float arrays through the
    distinct. Recall vs the exact pairs is asserted in
    tests/test_dedup.py.
    """
    from cs744_big_data_system_spark.functions.vectors import cosine_similarity
    from cs744_big_data_system_spark.operators.similarity import lsh_band_buckets_udf

    # All bands' buckets in one Arrow-batched numpy matmul (see
    # lsh_band_buckets_udf — the interpreted zip_with/aggregate path is
    # ~100× slower at num_bands × planes_per_band dot products per row),
    # then posexplode to (band_idx, bucket) rows.
    buckets = lsh_band_buckets_udf(dim, num_bands, planes_per_band)
    entries = embeddings.select(
        F.col(id_col), F.posexplode(buckets(F.col(vec_col).cast("array<double>"))).alias(
            "band_idx", "bucket"
        )
    )
    a = entries.select(F.col(id_col).alias("vec_a"), "band_idx", "bucket")
    b = entries.select(F.col(id_col).alias("vec_b"), "band_idx", "bucket")
    cand = (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    e_a = embeddings.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("emb_a"))
    e_b = embeddings.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("emb_b"))
    cos = cosine_similarity("emb_a", "emb_b")
    return (
        cand.join(e_a, "vec_a")
        .join(e_b, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def substring_dup_coverage(
    documents: DataFrame,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-SPAN coverage via positional shingles —
    the substring-level exact-dedup signal ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022) expressed
    relationally instead of via a monolithic suffix array.

    A token position is *duplicated* when some ``n``-token window
    covering it occurs ≥ ``min_count`` times corpus-wide. Steps:

      1. positional shingles: (doc_id, pos, hash(gram)) via posexplode
         — pos is the 0-based start-token index, so the gram covers
         tokens [pos, pos+n-1];
      2. duplicated grams: a COUNT window partitioned on the 60-bit
         gram hash, filtered ≥ min_count — one shuffle keyed on the
         well-distributed hash and, crucially, ONE evaluation of the
         expensive tokenize→ngram→md5 subtree (the groupBy + semi-join
         formulation re-derives that subtree once per consumer, which
         benched 4× slower at sf0.1);
      3. span merge: per-doc interval union of the duplicated windows
         with the classic running-max(end) window trick (new group
         when start > max end of all earlier intervals), then
         covered = max(end)−min(start)+1 per merged group — and the
         per-group gram count rides the same aggregate, so the per-doc
         rollup (covered tokens AND duplicated-gram count) folds out of
         one chain instead of re-scanning the spans;
      4. per-doc rollup joined back onto ALL docs (zeros for clean
         docs), dup_share = covered tokens / total tokens.

    Scale shape: one shuffle keyed by gram hash (step 2), one keyed by
    doc_id for the interval windows (the (doc_id, _grp) and doc_id
    aggregates that follow are hierarchical rollups of that same key),
    one doc_id join against the cheap (doc_id, n_tokens) side. No
    per-pair blowup anywhere — the cost is linear in total corpus
    positions, which is why this is the substring analogue of the
    banded-LSH family above. A suffix-array build would find
    arbitrary-length duplicated substrings; fixing the window at ``n``
    tokens is the standard relational relaxation (spans longer than n
    are unions of overlapping n-windows and merge back together in
    step 3, so long duplicated runs are still measured at full
    length).
    """
    from pyspark.sql import Window

    docs = _with_canon_tokens(documents, "doc_id").select(
        "doc_id",
        F.size("_tk").alias("n_tokens"),
        ngrams_from_tokens("_tk", n).alias("_g"),
    )
    # posexplode_OUTER, then drop the null row: a plain (pos)explode
    # of a column makes the planner insert an implicit `size(_g) > 0`
    # pre-filter, which is pushed below the projection and evaluates
    # the whole tokenize→ngram chain a second time. The outer form
    # needs no pre-filter; the explicit pos-not-null filter is one null
    # check per row and drops exactly the rows posexplode skipped.
    pos = (
        docs.select(
            "doc_id",
            F.posexplode_outer("_g").alias("pos", "gram"),
        )
        .filter(F.col("pos").isNotNull())
        .select("doc_id", "pos", md5_int60("gram").alias("gram_hash"))
    )
    wdf = Window.partitionBy("gram_hash")
    spans = (
        pos.withColumn("_df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("_df") >= min_count)
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e"))
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grouped = (
        spans.withColumn(
            "_newg", (F.col("s") > F.coalesce(prev_max_e, F.lit(-1))).cast("int")
        )
        .withColumn("_grp", F.sum("_newg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    merged = grouped.groupBy("doc_id", "_grp").agg(
        (F.max("e") - F.min("s") + 1).alias("_covered"),
        F.count(F.lit(1)).alias("_n_grams"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum("_covered").alias("dup_tokens"),
        F.sum("_n_grams").alias("n_dup_grams"),
    )
    return (
        docs.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_share"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 16,
    iterations: int = 2,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embedding space, then within each cluster drop every vector
    whose cosine to a LOWER-ID cluster-mate reaches the threshold.

    This is the cluster-bounded alternative to a blocked all-pairs
    cosine screen (embedding_cosine_neardup): instead of trusting a
    metadata blocking column, the geometry itself provides the blocks,
    and near-dups that straddle metadata blocks are still caught as
    long as they land in the same centroid cell. Returns one removal
    verdict per pruned vector — (id, cluster, dup_of, cosine) where
    ``dup_of`` is the best-matching earlier cluster-mate (max cosine,
    lowest id on ties) — so the caller can either anti-join to dedup
    or audit the evidence.

    Determinism/oracle: clustering is ml/kmeans_relational (first-k
    init, 6-dp distance rounding, 9-dp centroid rounding — a pure
    function of the data), and the prune cosine is rounded to 6 dp, so
    the whole operator hash-checks against an unrolled-CTE DuckDB
    oracle like the other iterative kernels.

    Scale shape: the paper runs k ≈ 10⁵ on LAION — k grows with the
    corpus so per-cell membership c stays bounded; the k-means stage is
    one broadcast of k centroids + a (code, dim) groupBy per
    iteration, and the prune is the paper's per-cell MATRIX
    formulation via applyInPandas: one shuffle keyed by cluster moves
    c·d doubles per cell, the pairwise screen is a BLAS gram matrix
    in-task (a relational pair self-join would materialize and shuffle
    c²·2d doubles per cell instead). A cell must fit one task — that
    is the same c-bounded contract the clustering is sized for. No
    all-pairs join at any size.
    """
    from cs744_big_data_system_spark.ml.kmeans_relational import kmeans_relational

    asg = kmeans_relational(
        embeddings, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    # No materialization of the assignment: it once fed BOTH sides of a
    # relational prune self-join (hence an eager localCheckpoint), but
    # the matrix formulation below consumes it exactly ONCE, so the
    # checkpoint only cost a corpus-sized block-manager write. The
    # kmeans centroids are already driver-side literals, so the single
    # consumer's lineage is flat.
    v = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    m = asg.join(v, id_col)

    # Per-cell prune as the paper's matrix formulation: ONE shuffle
    # keyed by cluster brings each cell's c vectors (c·d doubles) to a
    # task, then the whole pairwise screen is a BLAS gram matrix
    # (c²·d flops in-memory) — vs the relational pair self-join that
    # materializes and shuffles c²·2d doubles per cell. Cosines are
    # rounded to 6 dp, and the best earlier mate is the FIRST argmax
    # along ascending ids (= max cosine, lowest id on ties), so the
    # output is value-identical to the row_number oracle.
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.array(pdf["_v"].tolist(), dtype=np.float64)[order]
        norms = np.linalg.norm(V, axis=1)
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (V @ V.T) / denom, -np.inf)
        cos = np.round(cos, 6)
        # candidates: strictly-lower triangle (earlier ids only)
        tri = np.tril(cos, -1)
        tri[np.triu_indices_from(tri)] = -np.inf
        best_j = tri.argmax(axis=1)  # first max = lowest id on ties
        best_v = tri[np.arange(len(ids)), best_j]
        keep = best_v >= threshold
        n_keep = int(keep.sum())
        return pd.DataFrame(
            {
                id_col: ids[keep],
                "cluster": np.full(n_keep, pdf["cluster"].iloc[0], dtype="int64"),
                "dup_of": ids[best_j[keep]],
                "cosine": best_v[keep],
            }
        )

    return m.groupBy("cluster").applyInPandas(
        prune, schema=f"{id_col} long, cluster int, dup_of long, cosine double"
    )
