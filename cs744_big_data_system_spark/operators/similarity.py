"""Similarity search over an ``array<float>`` embedding column.

Two paths (both pure DataFrame ops, no Python UDF in the scoring loop):

  brute-force top-k — exact: query set × corpus, cosine via
      zip_with/aggregate, per-query top-k via window row_number. The
      query side is broadcast (it is small by definition); the corpus
      is never shuffled. This is the correctness baseline.

  random-hyperplane LSH — scale path: sign-pattern bucket per vector
      from h fixed pseudo-random hyperplanes; candidates = bucket
      collisions (multi-probe by hamming-adjacent buckets optional);
      exact cosine re-rank of candidates only. Hyperplane coefficients
      are derived deterministically from md5, so results are
      reproducible run-to-run and the planes never leave the JVM.

At 100 TB the brute-force path is O(|Q|·|corpus|) — fine for small Q
(it is a broadcast-nested-loop with vectorized scoring); the LSH path
bounds the candidate set so the re-rank join is the only shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cs744_big_data_system_spark.functions.vectors import cosine_similarity
from cs744_big_data_system_spark.operators.dedup import md5_int60


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rnk). Ranking is on the
    ROUNDED cosine with neighbor_id tiebreak so the result is exactly
    reproducible (and oracle-comparable) despite float associativity.
    """
    from cs744_big_data_system_spark.functions.vectors import dot, l2_norm

    # Norms are materialized per side BEFORE the join — computed once
    # per vector instead of once per (query, neighbor) pair. The
    # division below is the same expression order as
    # cosine_similarity, so scores stay bit-identical to the oracle.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        l2_norm(vec_col).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        l2_norm(vec_col).alias("_cn"),
    )
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("_qn") * F.col("_cn")
    cos = F.when(denom > 0, dot("q_emb", "c_emb") / denom)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> "F.Column":
    """Deterministic pseudo-random hyperplane as an array<double> literal:
    coefficient j = (md5_int60(f"plane:{i}:{j}") % 2001 - 1000)/1000
    ∈ [-1, 1]. The md5 is evaluated HERE in Python (same value as the
    Spark-side md5_int60 expression) and emitted as plain double
    literals — building it from md5() Column expressions costs Catalyst
    thousands of nodes to fold once dim × planes × join-sides multiply
    out (measured: 48s → 8s on the banded near-dup at sf0.01)."""
    import hashlib

    coeffs = [
        (int(hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for j in range(dim)
    ]
    return F.array(*[F.lit(c) for c in coeffs])


def lsh_bucket(vec_col, dim: int, num_planes: int = 8, plane_offset: int = 0) -> "F.Column":
    """Sign-pattern bucket id (0..2^num_planes-1) for a vector column.
    ``plane_offset`` selects a disjoint slice of the deterministic
    hyperplane family so callers can build independent bands."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = v.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i in range(num_planes):
        plane = _hyperplane(dim, plane_offset + i)
        d = F.aggregate(F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bucket = bucket + F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
    return bucket


def _plane_coeff(plane_idx: int, j: int) -> float:
    """The deterministic hyperplane coefficient, computed host-side —
    same value _hyperplane emits as a literal."""
    import hashlib

    return (
        int(hashlib.md5(f"plane:{plane_idx}:{j}".encode()).hexdigest()[:15], 16) % 2001 - 1000
    ) / 1000.0


def lsh_band_buckets_udf(dim: int, num_bands: int, planes_per_band: int):
    """Arrow-batched bucket computation for MANY bands at once:
    ``array<long>`` of one sign-pattern bucket per band.

    The native-Column lsh_bucket is right for a handful of planes, but
    banded near-dup needs num_bands × planes_per_band dot products per
    row (e.g. 80 × dim 64 = 5k multiply-adds), and Catalyst evaluates
    aggregate/zip_with lambdas interpreted, per element. Here the whole
    batch is ONE numpy matmul (batch × dim) @ (dim × planes) — BLAS
    against Arrow buffers, ~100× the throughput, identical hyperplanes
    (coefficients are the same md5-derived values)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_planes = num_bands * planes_per_band
    planes = np.array(
        [[_plane_coeff(p, j) for j in range(dim)] for p in range(n_planes)]
    )  # (P, dim)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)  # bit i per plane-in-band

    # NOTE: the legacy PandasUDFType form is deliberate — this module
    # uses `from __future__ import annotations`, which stringizes the
    # type hints pandas_udf's inference path needs, so the type-hint
    # style raises UNSUPPORTED_SIGNATURE here.
    @pandas_udf(ArrayType(LongType()), PandasUDFType.SCALAR)
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.array(v.tolist(), dtype=np.float64)  # (batch, dim)
        signs = (mat @ planes.T) >= 0  # (batch, P)
        per_band = signs.reshape(len(mat), num_bands, planes_per_band)
        ids = (per_band * weights).sum(axis=2)  # (batch, num_bands)
        return pd.Series(list(ids))

    return buckets


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 1,
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids by
    cosine (IVF coarse quantization; nprobe=1 for building the inverted
    lists, >1 on the query side to widen recall). Centroids are
    broadcast (they are small by definition); assignment is a
    broadcast-nested-loop + per-vector rank window — the corpus itself
    never shuffles until the final per-cluster re-rank. Ranking uses
    the ROUNDED cosine with centroid-id tiebreak so assignment is
    exactly reproducible.
    """
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("_v_emb"))
    c = centroids.select(
        F.col(centroid_id_col), F.col(vec_col).alias("_c_emb")
    )
    scored = v.join(F.broadcast(c)).select(
        id_col,
        centroid_id_col,
        F.round(cosine_similarity("_v_emb", "_c_emb"), 6).alias("_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col(centroid_id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, centroid_id_col)
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    num_centroids: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into
    ``num_centroids`` inverted lists by nearest centroid, probe the
    query's ``nprobe`` nearest lists, exact cosine re-rank inside them.
    Raising nprobe trades probe cost for recall linearly — the standard
    IVF recall knob; each corpus vector lives in exactly one list, so
    candidates never duplicate.

    Centroids are taken deterministically as the first ``num_centroids``
    corpus vectors by id — a training-free coarse quantizer that keeps
    the whole operator oracle-reproducible (a k-means refinement would
    drop in here without changing the plan shape). At scale the corpus
    can be written bucketed by cluster id, making the probe a
    partition-pruned scan instead of a shuffle.
    """
    centroids = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(num_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
    )
    corpus_asn = ivf_assign(corpus, centroids, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    query_asn = ivf_assign(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).withColumnRenamed(id_col, "query_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_emb")).join(
        corpus_asn, "neighbor_id"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")).join(
        query_asn, "query_id"
    )
    cand = F.broadcast(q).join(c, "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine re-rank. One equi-join on bucket instead of a cross
    join — the 100 TB path. Recall is tested against the brute-force
    baseline in tests/test_similarity.py."""
    bq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        lsh_bucket(vec_col, dim, num_planes).alias("bucket"),
    )
    bc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        lsh_bucket(vec_col, dim, num_planes).alias("bucket"),
    )
    cand = bq.join(bc, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def pq_codebook(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    kc: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebook: (s, code, c_sub) — for each of the
    ``m`` subspaces, ``kc`` centroid sub-vectors of length dim/m.

    Centroids are the first ``kc`` corpus vectors by id, sliced per
    subspace — the same training-free, fully-relational quantizer choice
    as cosine_topk_ivf's coarse centroids, which keeps every downstream
    code assignment oracle-reproducible (a per-subspace k-means
    refinement would drop in here without changing the plan). kc·m rows
    total — broadcast-sized by construction.
    """
    dsub = dim // m
    w = Window.orderBy(F.col(id_col).asc())
    cent = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(kc)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
        .withColumn("code", F.row_number().over(w) - 1)
    )
    return cent.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
        "code",
        "_cv",
    ).select(
        "s", "code", F.slice("_cv", F.col("s") * dsub + 1, dsub).alias("c_sub")
    )


def _pq_subspace_dist_int(v_sub, c_sub) -> "F.Column":
    """Squared L2 distance between two sub-vectors, scaled to an exact
    integer (floor(d·1e6 + 0.5)). Integer partials sum EXACTLY, so the
    ADC distance — a sum of m partials — is identical regardless of
    accumulation order on either engine; float partials would make the
    candidate ranking sensitive to summation order."""
    diffs = F.zip_with(v_sub, c_sub, lambda x, y: (x - y) * (x - y))
    d = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    return F.floor(d * 1000000 + F.lit(0.5)).cast("long")


def _pq_subspace_partials(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, s, code, pd): integer sub-distance from every vector's
    subspace slice to every centroid of that subspace — the shared
    building block of encoding (argmin over code) and the query LUT
    (keep all kc rows). Codebook is broadcast; the corpus never
    shuffles here."""
    dsub = dim // m
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
        "_v",
    ).select(
        id_col, "s", F.slice("_v", F.col("s") * dsub + 1, dsub).alias("v_sub")
    )
    return v.join(F.broadcast(codebook), "s").select(
        id_col, "s", "code", _pq_subspace_dist_int("v_sub", "c_sub").alias("pd")
    )


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codes: (id, s, code) — per subspace, the centroid minimizing
    the integer sub-distance (code asc tiebreak, so assignment is
    exactly reproducible). m small ints per vector ≈ dim/m × 32-bit
    compression — the representation that lets a billion-vector shard
    sit in executor memory."""
    pd = _pq_subspace_partials(vectors, codebook, dim, m, id_col, vec_col)
    w = Window.partitionBy(id_col, "s").orderBy(F.col("pd").asc(), F.col("code").asc())
    return (
        pd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "s", "code")
    )


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    kc: int = 16,
    n_candidates: int = 32,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011) — the third scale path next to
    IVF (coarse pruning) and LSH (bucket collision):

      1. codebook: kc centroid sub-vectors per subspace (broadcast);
      2. encode the corpus once: m small codes per vector (the 100 TB
         move — the scan that ranks candidates reads CODES, not raw
         vectors, an ~m·log2(kc)-bit representation);
      3. asymmetric distance (ADC): per query, a LUT of kc·m integer
         sub-distances; candidate distance = Σ_s LUT[s, code_s] via one
         (s, code) equi-join + sum — map-side combinable, integer-exact;
      4. exact cosine re-rank of the top ``n_candidates`` only.

    Every step is deterministic relational math (training-free codebook,
    integer ADC partials, id tiebreaks), so unlike classical PQ this
    instance is oracle-checked bit-for-bit, while recall vs the
    brute-force baseline is asserted separately in tests.
    """
    book = pq_codebook(corpus, dim, m, kc, id_col, vec_col)
    codes = pq_encode(corpus, book, dim, m, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    lut = _pq_subspace_partials(queries, book, dim, m, id_col, vec_col).withColumnRenamed(
        id_col, "query_id"
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd").alias("adist"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        adc.withColumn("_crn", F.row_number().over(wc))
        .filter(F.col("_crn") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_emb"))
    scored = cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("q_emb", "c_emb"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: x ∈ R^dim →
    y_j = ⟨x, r_j⟩ / √out_dim for ``out_dim`` deterministic md5-derived
    directions (the same family as the LSH hyperplanes, offset into
    their own namespace) — the cheap dimensionality cut applied before
    ANN indexing or pairwise screening when 64-d is still too wide at
    corpus scale.

    Returns long-format (id, j, proj) rounded to 6 dp so both engines
    hash-match; the projection matrix is embedded as plan literals
    (out_dim×dim doubles, corpus-independent) and the whole operator
    is scan-side expression work — zero shuffle, zero Python.
    """
    projs = []
    for j in range(out_dim):
        coeffs = F.array(
            *[F.lit(_plane_coeff(_RP_PLANE_BASE + j, t)) for t in range(dim)]
        )
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # + 0.0 normalizes IEEE -0.0 (a tiny negative dot rounds to
        # signed zero; driver hashes distinguish it from DuckDB's 0.0).
        projs.append(F.round(dot / float(out_dim) ** 0.5, 6) + F.lit(0.0))
    return embeddings.select(
        F.col(id_col), F.posexplode(F.array(*projs)).alias("j", "proj")
    )


#: plane-index namespace offset for random_projection, so projection
#: directions never alias the LSH bucketing planes.
_RP_PLANE_BASE = 10000


def embedding_covariance(
    embeddings: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact population covariance of the embedding coordinates —
    long-format upper triangle (i, j, cov) with
    cov_ij = E[x_i x_j] − E[x_i]E[x_j], rounded to 6 dp.

    The summary statistic PCA / whitening / Mahalanobis screening all
    start from. Scale shape: the corpus collapses through ONE
    map-side-combinable groupBy keyed by (i, j) — dim·(dim+1)/2 groups
    regardless of corpus size — built from a per-row coordinate-pair
    explode; the per-dimension means are a dim-row broadcast join. No
    driver collect, no window.
    """
    x = embeddings.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "xi"),
    )
    y = x.select(
        F.col("_id"), F.col("i").alias("j"), F.col("xi").alias("xj")
    )
    pairs = x.join(y, "_id").filter(F.col("i") <= F.col("j"))
    stats = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("xi") * F.col("xj")).alias("sxy")
    )
    means = x.groupBy("i").agg(F.avg("xi").alias("m"))
    ma = means.select(F.col("i"), F.col("m").alias("mi"))
    mb = means.select(F.col("i").alias("j"), F.col("m").alias("mj"))
    return (
        stats.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            # + 0.0: near-zero covariances can round to IEEE -0.0.
            (
                F.round(F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj"), 6)
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_project(
    embeddings: DataFrame,
    k: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA projection onto the top-``k`` principal components: the
    covariance matrix is reduced distributed (embedding_covariance —
    bounded dim² output), eigendecomposed ON THE DRIVER (dim×dim is
    corpus-independent, the legitimate bounded driver-side regime, like
    ALS's bounded factor side), and the components are broadcast back
    as plan literals for a scan-side projection.

    Sign convention: each component is flipped so its
    largest-|coefficient| entry is positive (ties broken by lower
    index), making the output deterministic across eigensolvers up to
    float noise. Returns (id, j, proj, explained_var_ratio) long-format,
    6 dp. Driver-gate check is rows-only (the eigensolve is
    engine-private float work); correctness is pinned by tests against
    numpy PCA on the collected matrix.
    """
    import numpy as np

    cov_rows = embedding_covariance(
        embeddings, dim=dim, id_col=id_col, vec_col=vec_col
    ).collect()  # dim*(dim+1)/2 rows — bounded, corpus-independent
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r.i, r.j] = r.cov
        C[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(vals)[::-1][:k]
    total = float(vals.sum()) if float(vals.sum()) != 0.0 else 1.0
    comps, ratios = [], []
    for j, idx in enumerate(order):
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(c) for c in v])
        ratios.append(float(vals[idx]) / total)
    projs = []
    for j in range(k):
        coeffs = F.array(*[F.lit(c) for c in comps[j]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        projs.append(
            F.struct(
                F.round(dot, 6).alias("proj"),
                F.lit(round(ratios[j], 6)).alias("explained_var_ratio"),
            )
        )
    return embeddings.select(
        F.col(id_col), F.posexplode(F.array(*projs)).alias("j", "_s")
    ).select(id_col, "j", F.col("_s.proj").alias("proj"),
             F.col("_s.explained_var_ratio").alias("explained_var_ratio"))


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector, the top-``k`` most-similar corpus vectors with a DIFFERENT
    label — the highest-loss negatives an embedding model should train
    against (the standard offline mining pass behind dual-encoder /
    retrieval fine-tuning).

    Same shape as the brute-force ANN baseline: the query side
    broadcasts, norms are materialized once per vector before the
    join, ranking is on the 6-dp rounded cosine with id tie-break so
    the mined set is reproducible. The label inequality rides the join
    condition, so same-label pairs are never scored. For corpus-scale
    mining swap the crossJoin for the IVF/LSH candidate generators and
    keep this ranking tail.
    """
    from cs744_big_data_system_spark.functions.vectors import dot, l2_norm

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("q_emb"),
        l2_norm(vec_col).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("n_label"),
        F.col(vec_col).alias("c_emb"),
        l2_norm(vec_col).alias("_cn"),
    )
    pairs = F.broadcast(q).join(c, F.col("q_label") != F.col("n_label"))
    denom = F.col("_qn") * F.col("_cn")
    cos = F.when(denom > 0, dot("q_emb", "c_emb") / denom)
    scored = pairs.select(
        "query_id", "neg_id", F.round(cos, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def embedding_frechet_diag(
    embeddings: DataFrame,
    slice_col: str = "label",
    slice_value: int = 0,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FID-style corpus distance between two embedding slices under
    the diagonal-Gaussian approximation: with per-dimension means μ
    and variances σ² of slice P (``slice_col = slice_value``) and the
    complement Q,

        d² = Σ_d (μP_d − μQ_d)² + Σ_d (σ²P_d + σ²Q_d − 2·√(σ²P_d·σ²Q_d))

    — the Fréchet inception distance with the full covariance replaced
    by its diagonal, which keeps the statistic a pure closed-form
    aggregate (full-covariance FID needs a matrix sqrt; the diagonal
    form is the standard cheap monitor for embedding-distribution
    drift between corpus slices or ingest batches).

    Returns ONE row (n_p, n_q, mean_dist2, cov_dist, frechet2) at
    6 dp. Scale shape: one (dim)-keyed groupBy over the coordinate
    explode — 2·dim aggregate cells regardless of corpus size — and a
    dim-row final reduce.
    """
    x = embeddings.select(
        (F.col(slice_col) == slice_value).alias("_p"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "xi"),
    )
    per_dim = x.groupBy("d").agg(
        F.sum(F.when(F.col("_p"), 1).otherwise(0)).alias("n_p"),
        F.sum(F.when(~F.col("_p"), 1).otherwise(0)).alias("n_q"),
        F.sum(F.when(F.col("_p"), F.col("xi")).otherwise(0.0)).alias("s_p"),
        F.sum(F.when(~F.col("_p"), F.col("xi")).otherwise(0.0)).alias("s_q"),
        F.sum(F.when(F.col("_p"), F.col("xi") * F.col("xi")).otherwise(0.0)).alias("ss_p"),
        F.sum(F.when(~F.col("_p"), F.col("xi") * F.col("xi")).otherwise(0.0)).alias("ss_q"),
    )
    mu_p = F.col("s_p") / F.col("n_p")
    mu_q = F.col("s_q") / F.col("n_q")
    var_p = F.col("ss_p") / F.col("n_p") - mu_p * mu_p
    var_q = F.col("ss_q") / F.col("n_q") - mu_q * mu_q
    terms = per_dim.select(
        "n_p",
        "n_q",
        ((mu_p - mu_q) * (mu_p - mu_q)).alias("md2"),
        (var_p + var_q - 2 * F.sqrt(F.greatest(var_p * var_q, F.lit(0.0)))).alias("cd"),
    )
    # per-dim counts already equal the slice sizes (one coordinate row
    # per vector per dim)
    return terms.agg(
        F.max("n_p").cast("long").alias("n_p"),
        F.max("n_q").cast("long").alias("n_q"),
        F.round(F.sum("md2"), 6).alias("mean_dist2"),
        F.round(F.sum("cd"), 6).alias("cov_dist"),
        F.round(F.sum("md2") + F.sum("cd"), 6).alias("frechet2"),
    )
