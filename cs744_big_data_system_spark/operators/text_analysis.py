"""Text analysis over ``documents``: language-ID, quality scoring,
token counting, document fingerprinting.

All four are single-pass column expressions (one codegen stage per doc,
no shuffle at all) — the shape you want when the corpus is 100 TB: the
scan is the cost, everything else rides along.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cs744_big_data_system_spark.functions.text import (
    STOPWORDS,
    normalized_text,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)
from cs744_big_data_system_spark.operators.dedup import md5_int60

#: "BPE-ish" token pattern: word pieces or single non-space symbols.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"

#: Deterministic language order for argmax tie-breaks.
LANGS = ("de", "en", "es", "fr", "zh")


def lang_scores(text_col) -> dict[str, Column]:
    """Per-language stopword-hit counts (the n-gram-free heuristic:
    count tokens that are members of each language's stopword list)."""
    toks = tokens(text_col)
    out = {}
    for lang in LANGS:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return out


def lang_id(text_col) -> Column:
    """Predicted language = argmax stopword score; ties resolve in
    LANGS alphabetical order; all-zero scores → 'und' (undetermined).
    Pure CASE/greatest expression so the DuckDB oracle can mirror it."""
    scores = lang_scores(text_col)
    best = F.greatest(*[scores[lang] for lang in LANGS])
    expr = F.lit("und")
    for lang in reversed(LANGS):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_obs, mean_token_len, punct_ratio,
    stopword_ratio_en, quality_ok) — the standard cheap pre-filter
    features for a training-data pipeline."""
    n_tok = token_count("text")
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(tokens("text"), F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    pr = punct_ratio("text")
    swr = stopword_ratio("text", "en")
    ok = (n_tok >= 5) & (n_tok <= 100000) & (pr < 0.3)
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_obs"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(swr, 6).alias("stopword_ratio_en"),
        ok.alias("quality_ok"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    return documents.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)).alias("bpe_ish_tokens"),
    )


def boilerplate_phrases(documents: DataFrame, n: int = 6, min_docs: int = 3) -> DataFrame:
    """(phrase_hash, n_docs, phrase) for canonical word ``n``-grams
    appearing in ≥ ``min_docs`` DISTINCT documents — the C4-style
    boilerplate detector (nav bars, cookie banners, license headers
    repeat across pages; organic content doesn't). Downstream cleaning
    strips or down-weights docs dominated by these phrases.

    Long-ish n-grams (default 6) make cross-doc repetition a strong
    boilerplate signal; the plan is one explode + distinct + count —
    a single shuffle keyed by the phrase, near-uniform.

    (Not built on dedup.shingles() deliberately: that operator
    distincts on the phrase STRING; here the hash-fold happens before
    the per-doc dedup so both shuffles are keyed by 8 bytes.)"""
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens, tokens

    grams = (
        documents
        .select("doc_id", tokens(normalized_text("text")).alias("_tk"))
        .select("doc_id", F.explode(ngrams_from_tokens("_tk", n)).alias("phrase"))
    )
    # Fold the phrase to a 60-bit key before the shuffles (same move
    # as ngram_jaccard_pairs): distinct + count are keyed by 8 bytes,
    # not a 6-word string; min(phrase) keeps one representative.
    hashed = grams.select("doc_id", md5_int60(F.col("phrase")).alias("ph"), "phrase")
    per_doc = hashed.groupBy("ph", "doc_id").agg(F.min("phrase").alias("phrase"))
    return (
        per_doc.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("phrase").alias("phrase"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("ph").alias("phrase_key"), "n_docs", "phrase")
    )


def tfidf_bm25_topk(
    documents: DataFrame, k: int = 5, k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """Top-``k`` scoring terms per document under smoothed TF-IDF and
    BM25 — (doc_id, term, tf, df, tfidf, bm25, rnk).

    The relevance-scoring half of a training-data pipeline (keyword
    extraction, quality weighting, near-topic filtering). Reference has
    no text scoring (SURVEY.md §2.9); formulas are the textbook ones:
      tfidf = tf * (ln((N+1)/(df+1)) + 1)
      bm25  = ln((N-df+0.5)/(df+0.5) + 1) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))

    Scale shape: term counts shuffle on (doc_id, term) with map-side
    partials; document frequency shuffles on term (near-uniform — the
    skew of natural-language stopwords is bounded by the per-doc
    distinct over md5-free string terms, and AQE handles residual
    skew); the corpus-level (N, avgdl) scalar row is broadcast, never
    collected; top-k per doc is one row_number window. Doc length
    rides through the explode, so no per-doc join is needed.
    """
    canon = documents.select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    )
    stats = canon.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("_tk")).alias("avgdl")
    )
    # explode_OUTER + not-null: a plain explode of the _tk column gets
    # an implicit size()>0 pre-filter that is pushed below the
    # projection and runs the tokenizer a second time.
    terms = canon.select(
        "doc_id", F.size("_tk").alias("dl"), F.explode_outer("_tk").alias("term")
    ).filter(F.col("term").isNotNull())
    tfc = terms.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    joined = tfc.join(dft, "term").crossJoin(F.broadcast(stats))
    idf_tfidf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    idf_bm25 = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
    scored = joined.select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * idf_tfidf, 6).alias("tfidf"),
        F.round(idf_bm25 * F.col("tf") * (k1 + 1.0) / denom, 6).alias("bm25"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), F.col("term").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def cooccurrence_pmi(
    documents: DataFrame, vocab_size: int = 64, min_docs: int = 5
) -> DataFrame:
    """Pointwise mutual information between top-``vocab_size`` terms,
    from document-level co-occurrence — (term_a, term_b, df_a, df_b,
    n_ab, pmi) for unordered pairs appearing together in ≥ ``min_docs``
    documents.  pmi = ln( (n_ab/N) / (df_a/N · df_b/N) ).

    Corpus statistics for phrase mining / topic drift checks. Scale
    shape: the vocabulary is a deterministic top-k (df desc, term asc
    — TakeOrderedAndProject, no full sort) and is tiny by
    construction, so it broadcasts; the only real shuffles are the
    distinct on (doc_id, term) and the per-doc self-join keyed by
    doc_id, whose fan-out is bounded by vocab_size²/2 pairs per doc
    regardless of corpus size. The corpus-size scalar is broadcast,
    never collected.
    """
    canon = documents.select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    )
    stats = canon.agg(F.count(F.lit(1)).alias("n_docs"))
    dt = (
        # explode_OUTER + not-null: see tfidf_bm25_topk
        canon.select("doc_id", F.explode_outer("_tk").alias("term"))
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    dft = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dft.orderBy(F.col("df").desc(), F.col("term").asc()).limit(vocab_size)
    dv = dt.join(F.broadcast(vocab), "term")
    a, b = dv.alias("a"), dv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .filter(F.col("n_ab") >= min_docs)
        .select(
            "term_a",
            "term_b",
            "df_a",
            "df_b",
            "n_ab",
            F.round(
                F.log((F.col("n_ab") * F.col("n_docs")) * 1.0 / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Two fingerprints per doc:
      content_fp  — md5 hex of the canonical text (exact-dup key);
      rolling_fp  — min over a 4-token rolling window of 60-bit window
                    hashes (winnowing-style; robust to local edits).
    Both reproducible in SQL, so oracle-checkable."""
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens, tokens

    # Materialize canonical text + tokens first — an inlined tokenizer
    # would re-run the regex split per n-gram element (see
    # functions/text.ngrams_from_tokens).
    canon = documents.select(
        "doc_id",
        normalized_text("text").alias("_ct"),
        tokens(normalized_text("text")).alias("_tk"),
    )
    win_hashes = F.transform(ngrams_from_tokens("_tk", 4), md5_int60)
    rolling = F.when(F.size(win_hashes) > 0, F.array_min(win_hashes))
    return canon.select(
        "doc_id",
        F.md5("_ct").alias("content_fp"),
        rolling.alias("rolling_fp"),
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 6,
    threshold: float = 0.05,
) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct word n-gram shingles that appear ANYWHERE in the benchmark
    set — the standard eval-leakage check a training-data pipeline runs
    before a corpus ships (flag/drop docs that quote the benchmark).

    Returns (doc_id, n_shingles, n_contaminated, contamination,
    flagged) for every training doc that has at least one shingle.

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (an eval suite, not a second corpus), so the overlap join's
    build side broadcasts under AQE; the corpus-side shingle table is
    the one shuffle, keyed by the 60-bit shingle hash. 6-grams (vs the
    dedup family's 3-grams) keep accidental matches near zero while
    still catching verbatim quotes.
    """
    from cs744_big_data_system_spark.operators.dedup import shingles

    doc_sh = shingles(documents, n).select(
        "doc_id", md5_int60(F.col("shingle")).alias("sh")
    )
    bench_sh = (
        shingles(benchmark, n)
        .select(md5_int60(F.col("shingle")).alias("sh"))
        .distinct()
    )
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_sh.join(bench_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    ratio = F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles")
    return (
        sizes.join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(ratio, 6).alias("contamination"),
            (ratio >= threshold).alias("flagged"),
        )
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    cap: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum cap — domain-mix rebalancing for a
    training corpus: keep at most ``cap`` rows per stratum, chosen by a
    seeded hash order (md5 of the id) so the sample is reproducible,
    unbiased by storage order, and identical on any engine.

    One window shuffle keyed by the stratum; at scale this is the
    standard way to pin a per-domain token budget before mixing.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(order_col).cast("string")).asc(), F.col(order_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


#: PII patterns — restricted to syntax that Java regex (Spark) and RE2
#: (DuckDB) parse IDENTICALLY, so redaction is oracle-reproducible.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{1,2}-\d{3}-\d{3,4}(-\d{4})?"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub PII before a corpus ships: count and redact emails, phone
    numbers, and IPv4 addresses with typed placeholders — the standard
    pre-release privacy pass of a training-data pipeline.

    Returns (id, n_emails, n_phones, n_ips, redacted_fp) where
    ``redacted_fp`` is the md5 of the scrubbed text (small enough to
    hash-compare, proves the rewrite byte-for-byte).

    Pure per-row regexp column math — no shuffle, the scan is the whole
    cost at 100 TB, same posture as the quality family. Order matters:
    emails first (they contain dots and digits that the IP/phone
    patterns could nibble), then phones, then IPs.
    """
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0))
    after_email = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(after_email, F.lit(PII_PHONE), 0))
    after_phone = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    n_ips = F.size(F.regexp_extract_all(after_phone, F.lit(PII_IP), 0))
    redacted = F.regexp_replace(after_phone, PII_IP, "<IP>")
    return df.select(
        id_col,
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        F.md5(redacted).alias("redacted_fp"),
    )


def pack_sequences(
    documents: DataFrame, budget: int = 512, n_shards: int = 8
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a cleaned
    corpus into fixed-width training sequences: documents are laid out
    back-to-back in a deterministic order and cut every ``budget``
    tokens; a doc whose span crosses a cut contributes to several
    chunks.

    Returns (doc_id, lang, shard, n_tokens, tok_offset, chunk_first,
    n_chunks): ``tok_offset`` is the doc's start position in its shard's
    token stream, ``chunk_first`` the first chunk it lands in,
    ``n_chunks`` how many chunks its span touches.

    Scale shape: packing is a running sum — a serial recurrence — so a
    single global stream would serialize the corpus through one task.
    Instead each (lang, shard) packs independently into its own chunk
    stream (chunk boundaries don't need to be globally contiguous, only
    deterministic), giving ``langs × n_shards`` parallel recurrences:
    one window shuffle, partitions bounded at corpus/(L·S). At 100 TB
    raise ``n_shards`` to O(cores); determinism is unaffected because
    the shard key and order are content-derived (doc_id), not
    storage-order.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id",
        "lang",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    chunk_first = F.floor(off / budget)
    chunk_last = F.when(
        F.col("n_tokens") > 0, F.floor((off + F.col("n_tokens") - 1) / budget)
    ).otherwise(chunk_first)
    return toks.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        off.cast("long").alias("tok_offset"),
        chunk_first.cast("long").alias("chunk_first"),
        (chunk_last - chunk_first + 1).cast("long").alias("n_chunks"),
    )


def token_histogram(
    documents: DataFrame, width: int = 10, n_buckets: int = 20
) -> DataFrame:
    """Token-length histogram per language — the corpus-shape
    diagnostic run before choosing packing budgets and length filters.
    Bucket = min(floor(tokens/width), n_buckets-1) (last bucket is
    open-ended). One near-uniform groupBy shuffle on (lang, bucket) —
    at most langs × n_buckets groups regardless of corpus size."""
    n_tok = token_count("text").cast("long")
    bucket = F.least(F.floor(n_tok / width), F.lit(n_buckets - 1)).cast("long")
    return (
        documents.select("lang", bucket.alias("bucket"), n_tok.alias("n_tokens"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def domain_mix_weights(documents: DataFrame) -> DataFrame:
    """Per-source sampling weights that would rebalance the corpus to a
    uniform domain mixture — the knob a pretraining pipeline turns to
    hit a target data mix. weight = target_share / actual_token_share
    (>1 ⇒ upsample, <1 ⇒ downsample).

    One groupBy shuffle to ~n_sources rows; corpus totals ride along as
    a broadcast scalar row (never collected to the driver)."""
    per_src = documents.select(
        "source", token_count("text").cast("long").alias("n_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("src_tokens")
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("src_tokens") / F.col("tot_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.col("src_tokens").alias("n_tokens"),
        F.round(share, 6).alias("token_share"),
        F.round(target / share, 6).alias("mix_weight"),
    )


def bigram_lm(documents: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus bigram language model: (w1, w2, n_big, n_w1, logp) for
    token bigrams occurring >= ``min_count`` times, with
    logp = ln(c(w1,w2) / c(w1,*)) — the count-based LM a CCNet-style
    quality filter scores documents against.

    Scale shape: one explode + count keyed by the bigram (near-uniform
    after the min_count prune), then a window sum co-keyed on w1 (no
    extra table join for the denominator). The pruned LM is small by
    construction — it broadcasts into the scoring join.
    """
    from pyspark.sql import Window

    canon = documents.select(tokens(normalized_text("text")).alias("_tk"))
    grams = canon.select(F.explode(ngrams_from_tokens_2("_tk")).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_big"))
    w1 = F.substring_index("gram", " ", 1)
    with_w1 = counts.select(w1.alias("w1"), F.substring_index("gram", " ", -1).alias("w2"), "n_big")
    # denominator = total bigram occurrences starting with w1, BEFORE
    # the min_count prune would bias it — computed over all bigrams.
    tot = Window.partitionBy("w1")
    return (
        with_w1.withColumn("n_w1", F.sum("n_big").over(tot))
        .filter(F.col("n_big") >= min_count)
        .select(
            "w1",
            "w2",
            "n_big",
            "n_w1",
            F.round(F.log(F.col("n_big") / F.col("n_w1")), 6).alias("logp"),
        )
    )


def ngrams_from_tokens_2(tok_col) -> Column:
    """Bigrams from a materialized token array (see
    functions/text.ngrams_from_tokens for the materialize-first rule)."""
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens

    return ngrams_from_tokens(tok_col, 2)


def perplexity_score(
    documents: DataFrame,
    lm: DataFrame,
    backoff_nll: float = 10.0,
    threshold: float = 6.0,
) -> DataFrame:
    """Score each document's fluency against a bigram LM: mean negative
    log-probability of its bigrams, unknown bigrams charged a flat
    ``backoff_nll`` — the CCNet/KenLM-style perplexity filter that
    separates fluent prose from gibberish and boilerplate.

    Returns (doc_id, n_bigrams, mean_nll, flagged) for docs with at
    least one bigram; flagged = mean_nll > threshold (would be dropped
    by the cleaning pipeline).

    Scale shape: the pruned LM broadcasts (it is min_count-pruned and
    vocabulary-bounded); the corpus side explodes to (doc_id, bigram)
    and joins WITHOUT shuffling the corpus — then one groupBy(doc_id)
    aggregation. At 100 TB the scan + explode dominates; nothing else
    grows with corpus size.
    """
    canon = documents.select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    )
    grams = canon.select(
        "doc_id", F.explode(ngrams_from_tokens_2("_tk")).alias("gram")
    )
    lm_k = lm.select(
        F.concat_ws(" ", "w1", "w2").alias("gram"), F.col("logp")
    )
    nll = F.coalesce(-F.col("logp"), F.lit(float(backoff_nll)))
    scored = grams.join(F.broadcast(lm_k), "gram", "left_outer").select(
        "doc_id", nll.alias("_nll")
    )
    mean_nll = F.round(F.avg("_nll"), 4)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        mean_nll.alias("mean_nll"),
        (mean_nll > threshold).alias("flagged"),
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking with overlap: each document's token
    sequence is cut into ``chunk_tokens``-sized windows advancing by
    ``chunk_tokens - overlap`` — the standard retrieval/embedding prep
    step (every chunk shares ``overlap`` tokens with its predecessor so
    no semantic boundary is lost to a hard cut).

    Pure per-row restructuring: tokenize once, one ``sequence`` of
    chunk starts, one explode, ``slice`` + ``array_join`` per chunk —
    no shuffle, no Python; at 100 TB the scan is the whole cost and
    the 1→N explode parallelizes with the partition. Empty documents
    yield no chunks. Deterministic and fully SQL-expressible (oracle:
    workloads/llm.py::SQL_CHUNK_DOCUMENTS).
    """
    if overlap >= chunk_tokens:
        raise ValueError("chunk_documents: overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    tk = documents.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk")).select(
        id_col, "_tk", F.size("_tk").alias("_n")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride))
    chunks = tk.filter(F.col("_n") > 0).select(
        id_col,
        "_tk",
        "_n",
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    piece = F.slice("_tk", F.col("_start") + 1, chunk_tokens)
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def repetition_features(
    documents: DataFrame, n: int = 3, threshold: float = 0.2
) -> DataFrame:
    """C4-style repetition signal: the fraction of a doc's word n-grams
    that are duplicates (1 − distinct/total) — high values mark
    low-quality template/spam text that token-count and punct-ratio
    filters miss.

    Pure per-row column math (token array materialized ONCE, then two
    sizes) — no shuffle; at 100 TB the scan is the whole cost, like the
    rest of the quality family.
    """
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens

    with_grams = documents.select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    ).select("doc_id", ngrams_from_tokens("_tk", n).alias("_g"))
    n_grams = F.size("_g")
    n_distinct = F.size(F.array_distinct("_g"))
    ratio = F.when(
        n_grams > 0, (n_grams - n_distinct) / n_grams.cast("double")
    ).otherwise(F.lit(0.0))
    return with_grams.select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(ratio, 6).alias("repetition_ratio"),
        (ratio > threshold).alias("repetitive"),
    )


#: control chars (C0 minus \t\n\r, DEL) + zero-width/space marks — the
#: bytes a crawl pipeline strips before any tokenization; the same
#: class literal is mirrored in the DuckDB oracle (RE2 and Java agree
#: on these escapes).
_CTRL_ZW_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F​‌‍﻿]"


def strip_control_chars(col) -> "F.Column":
    """Remove control and zero-width characters — native regexp, zero
    Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _CTRL_ZW_CLASS, "")


def nfc_normalize_udf():
    """Arrow-batched NFC normalization (pandas Series.str.normalize —
    vectorized ICU-equivalent via Python's unicodedata tables). Spark
    has no normalization builtin; this is the one genuinely
    Python-bound step of text canonicalization, batched so the cost is
    per-buffer, not per-row."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # explicit SCALAR form: the module's `from __future__ import
    # annotations` turns hints into strings pyspark can't resolve
    # (same workaround as similarity.lsh_band_buckets_udf)
    @pandas_udf("string", PandasUDFType.SCALAR)
    def nfc(s):
        return s.str.normalize("NFC")

    return nfc


def unicode_clean(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical Unicode cleanup: strip control/zero-width chars
    (native), then NFC-normalize (Arrow batch). Returns doc_id, the
    cleaned text, whether anything changed, and the cleaned length —
    the normalization pass every multilingual corpus gets before
    dedup/tokenization (bytes that differ only by combining-mark
    composition must hash identically downstream)."""
    nfc = nfc_normalize_udf()
    cleaned = nfc(strip_control_chars(text_col))
    return documents.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (cleaned != F.col(text_col)).alias("changed"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    )


def compression_ratio(documents: DataFrame, text_col: str = "text", level: int = 6) -> DataFrame:
    """zlib-compressed-size / raw-size per document — the
    compressibility quality signal (highly repetitive or templated
    text compresses far below natural prose; natural-language corpora
    filter on it). zlib with a FIXED level is deterministic across
    platforms, so the score is reproducible run-to-run; there is no
    SQL mirror (rows-only in the driver gate), and a golden unit test
    pins the scores against direct zlib calls."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.SCALAR)
    def ratio(s):
        import zlib

        def one(t):
            if not t:
                return 0.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return s.map(one)

    return documents.select(
        "doc_id",
        F.length(text_col).cast("long").alias("n_chars_obs"),
        ratio(F.col(text_col)).alias("zlib_ratio"),
    )


def feature_hash_bow(
    documents: DataFrame, dim: int = 1024, text_col: str = "text"
) -> DataFrame:
    """Hashing-trick bag-of-words (the HashingVectorizer / VW
    pattern): each token maps to ``bucket = md5_60(token) % dim`` with
    a sign bit drawn from the next hash bit, summed per (doc, bucket)
    into a signed sparse vector — collisions cancel in expectation
    instead of biasing upward.

    Returns (doc_id, bucket, weight) with zero weights dropped — the
    sparse COO relation downstream training joins against.

    Scale shape: STATELESS featurization — no vocabulary pass, no
    model table, no broadcast; one explode + one (doc_id, bucket)
    aggregation whose map-side partials absorb in-doc repeats. That
    statelessness is the whole point of the hashing trick at corpus
    scale (and why it composes with streaming ingestion, unlike
    vocab-indexed BOW). md5-derived buckets keep it reproducible and
    SQL-mirrorable (cf. operators/dedup.md5_int60).
    """
    from cs744_big_data_system_spark.functions.text import normalized_text, tokens
    from cs744_big_data_system_spark.operators.dedup import md5_int60

    tok = documents.select(
        "doc_id", F.explode(tokens(normalized_text(text_col))).alias("token")
    )
    h = md5_int60(F.col("token"))
    # sign from the 16th md5 hex digit — INDEPENDENT of the 60-bit
    # bucket hash, and integer-exact (dividing the 60-bit h goes
    # through double and corrupts parity above 2^53)
    sign_digit = F.conv(F.substring(F.md5(F.col("token")), 16, 1), 16, 10).cast("long")
    sign = F.when(F.pmod(sign_digit, 2) == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", F.pmod(h, F.lit(dim)).alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "bucket")
    )


def zipf_fit(documents: DataFrame, topn: int = 200) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency distribution:
    OLS of ln(frequency) on ln(rank) over the top-``topn`` tokens.
    Natural text follows freq ∝ rank^s with s ≈ −1; a corpus whose
    fitted slope drifts far from −1 (or whose r² collapses) is the
    classic symptom of templated/generated text flooding the head of
    the vocabulary — this is the one-row corpus-health gauge run
    alongside the per-doc quality filters.

    Returns ONE row: (n_vocab, n_top, slope, intercept, r2), all fit
    stats rounded to 6 dp so the closed-form sums hash-check against
    the SQL oracle despite summation-order float noise (~1e-13 on
    ``topn`` terms).

    Scale shape: the corpus collapses to a vocab-sized table in one
    map-side-combinable (token) groupBy; the global top-n is
    orderBy+limit (distributed TakeOrdered — no single-partition
    window; the only row_number window runs on the ``topn``-row
    result); the OLS is a single aggregate over ``topn`` rows plus a
    broadcast of the 1-row vocab count.
    """
    from pyspark.sql import Window

    freq = (
        documents.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    n_vocab = freq.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    top = freq.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(topn)
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())  # bounded: ≤ topn rows
    xy = (
        top.withColumn("r", F.row_number().over(w))
        .select(F.log("r").alias("x"), F.log("f").alias("y"))
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num / den_x
    return (
        s.crossJoin(F.broadcast(n_vocab))
        .select(
            "n_vocab",
            F.col("n").cast("long").alias("n_top"),
            F.round(slope, 6).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
            F.round(num * num / (den_x * den_y), 6).alias("r2"),
        )
    )


#: Gopher's stop-word presence list (Rae et al. 2021, §A1.1.2): a doc
#: must contain ≥2 of these to look like running English prose.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher quality-rule audit (Rae et al. 2021 §A1.1.2, the
    heuristic filter set MassiveWeb popularized and most open corpora
    reuse): per-document booleans for each rule plus the conjunction,
    so the caller can both filter and see WHY a doc failed.

    Every rule reduces to comparisons between integer counts (token
    counts, character counts, line counts) divided pairwise — both
    engines divide the same two ints in double precision, so the
    booleans are bit-deterministic with no rounding escape hatch
    needed. All signals are per-row column expressions (scan-side,
    codegen'd, zero shuffle, zero Python).
    """
    toks = tokens("text")
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_len = F.when(n_words > 0, sum_len.cast("double") / n_words).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, alpha_words.cast("double") / n_words).otherwise(F.lit(0.0))
    hash_cnt = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (hash_cnt + ell_cnt).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    lines = F.filter(F.split("text", "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    bullet_ratio = F.when(n_lines > 0, bullet_lines.cast("double") / n_lines).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(
        n_lines > 0, ellipsis_lines.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    sw = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, lambda t: F.lower(t))),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_mean = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    r_alpha = alpha_ratio >= min_alpha_ratio
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_bullet = bullet_ratio <= max_bullet_ratio
    r_ellipsis = ellipsis_ratio <= max_ellipsis_ratio
    r_stop = sw >= min_stopwords
    return documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        r_words.alias("r_word_count"),
        r_mean.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_symbol.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"),
        r_stop.alias("r_stopwords"),
        (r_words & r_mean & r_alpha & r_symbol & r_bullet & r_ellipsis & r_stop).alias(
            "gopher_ok"
        ),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    num_buckets: int = 10000,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by how target-like its hashed n-gram
    distribution is — the importance-resampling selector used to pick
    pretraining data matching a high-quality target corpus.

    Features are md5-hashed unigram+bigram buckets (``num_buckets``);
    the target and raw corpora each induce an add-``alpha`` smoothed
    bucket distribution, and a document's weight is
    Σ_g [ln p_target(b_g) − ln p_raw(b_g)] over its gram occurrences
    (counts, not distinct — the paper's bag-of-hashed-ngrams model).

    Returns (doc_id, n_grams, dsir_logratio) for every raw doc;
    resample ∝ exp(logratio) downstream.

    Scale shape: both distributions are ``num_buckets``-row tables
    built by one map-side-combinable groupBy each and BROADCAST (their
    size is corpus-independent); the per-doc score is one more
    map-side-combinable groupBy over the gram explode. No shuffle ever
    carries more than (doc, bucket) pairs; nothing collects to the
    driver. The 6-dp rounding absorbs cross-engine ln()/summation
    noise (~1e-13) for the oracle hash check.
    """
    def doc_buckets(df: DataFrame) -> DataFrame:
        tk = df.select(
            "doc_id", tokens(normalized_text("text")).alias("_tk")
        )
        from cs744_big_data_system_spark.functions.text import ngrams_from_tokens

        grams = tk.select(
            "doc_id",
            F.explode(
                F.concat(F.col("_tk"), ngrams_from_tokens("_tk", 2))
            ).alias("gram"),
        )
        return grams.select(
            "doc_id", F.pmod(md5_int60(F.col("gram")), F.lit(num_buckets)).alias("b")
        )

    raw_b = doc_buckets(raw)
    tgt_b = doc_buckets(target)
    raw_dist = raw_b.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt_dist = tgt_b.groupBy("b").agg(F.count(F.lit(1)).alias("c_t"))
    raw_tot = raw_dist.agg(F.sum("c_r").alias("t_r"))
    tgt_tot = tgt_dist.agg(F.sum("c_t").alias("t_t"))
    ratio = (
        raw_dist.join(tgt_dist, "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + alpha)
                    / (F.col("t_t") + alpha * num_buckets)
                )
                - F.log((F.col("c_r") + alpha) / (F.col("t_r") + alpha * num_buckets))
            ).alias("lr"),
        )
    )
    per_doc_b = raw_b.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_doc_b.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("n") * F.col("lr")), 6).alias("dsir_logratio"),
        )
    )


def winnowing_fingerprints(
    documents: DataFrame, k: int = 4, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    document-fingerprint algorithm): positional k-gram hashes, and in
    every sliding window of ``window`` consecutive hashes keep the
    minimum (rightmost position on ties). The distinct kept
    (hash, pos) pairs are the document's fingerprint set, with the
    paper's guarantee: any token run of length ≥ k + window − 1 shared
    between two documents contributes at least one shared fingerprint
    hash — so fingerprint matching has no false negatives above the
    guarantee threshold while storing only ~2/(window+1) of the grams.

    Returns (doc_id, pos, gram_hash). Scale shape: one per-doc window
    pass (partitioned by doc_id, frame bounded by ``window``) + a
    distinct — no cross-doc work here at all; downstream match-finding
    is a groupBy on gram_hash exactly like the substring-dedup join.
    The rightmost-tie argmin is min-of-struct((hash, −pos)) over the
    frame, the same map-friendly trick as the kmeans assignment.
    """
    tk = documents.select(
        "doc_id", tokens(normalized_text("text")).alias("_tk")
    )
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens

    ph = tk.select(
        "doc_id",
        F.posexplode(
            F.transform(ngrams_from_tokens("_tk", k), md5_int60)
        ).alias("pos", "gh"),
    )
    from pyspark.sql import Window

    w1 = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("pos").asc())
        .rowsBetween(-(window - 1), 0)
    )
    sel = F.min(F.struct(F.col("gh"), (-F.col("pos")).alias("np"))).over(w1)
    full = F.count(F.lit(1)).over(w1)
    return (
        ph.select(
            "doc_id", sel.alias("_s"), full.alias("_n")
        )
        .filter(F.col("_n") == window)
        .select(
            "doc_id",
            (-F.col("_s.np")).cast("long").alias("pos"),
            F.col("_s.gh").alias("gram_hash"),
        )
        .distinct()
    )


def corpus_drift_kl(
    documents: DataFrame,
    slice_col: str = "lang",
    slice_value: str = "en",
    num_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus drift monitor: smoothed KL and Jensen–Shannon divergence
    between the hashed-unigram distribution of one corpus slice
    (``slice_col = slice_value``) and the rest — the one-row gauge a
    pipeline tracks across ingest batches to catch topic/source drift
    before it poisons a data mix.

    Distributions are add-``alpha`` smoothed over md5-hash buckets
    (both corpora share the full bucket union, so KL is finite by
    construction). Returns ONE row: (n_p, n_q, kl_pq, kl_qp, js),
    divergences in nats rounded to 6 dp — the bucket tables are
    ``num_buckets``-row bounded aggregates, the final reduce is a
    single sum over them; nothing scales with the corpus except the
    one token-explode groupBy.
    """
    tok = (
        documents
        .select(F.col(slice_col).alias("_s"), F.explode(tokens("text")).alias("tok"))
        .select("_s", F.pmod(md5_int60(F.col("tok")), F.lit(num_buckets)).alias("b"))
    )
    counts = tok.groupBy("b").agg(
        F.sum(F.when(F.col("_s") == slice_value, 1).otherwise(0)).alias("c_p"),
        F.sum(F.when(F.col("_s") != slice_value, 1).otherwise(0)).alias("c_q"),
    )
    tot = counts.agg(
        F.sum("c_p").alias("n_p"), F.sum("c_q").alias("n_q")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = (F.col("c_p") + alpha) / (F.col("n_p") + alpha * num_buckets)
    q = (F.col("c_q") + alpha) / (F.col("n_q") + alpha * num_buckets)
    m = (p + q) / 2
    return j.agg(
        F.max("n_p").cast("long").alias("n_p"),
        F.max("n_q").cast("long").alias("n_q"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_pq"),
        F.round(F.sum(q * F.log(q / p)), 6).alias("kl_qp"),
        F.round(
            (F.sum(p * F.log(p / m)) + F.sum(q * F.log(q / m))) / 2, 6
        ).alias("js"),
    )


def doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — each doc's DISTINCT hashed n-gram shingles
    over the canonical tokenization. This cardinality is the work
    driver for ``ngram_novelty`` (both of its shuffles key on it), so
    the sf1 scale smoke counts it as the measured input-growth
    denominator when adjudicating that query's time ratio."""
    from cs744_big_data_system_spark.functions.text import ngrams_from_tokens

    return (
        documents.select(
            "doc_id", tokens(normalized_text("text")).alias("_tk")
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(ngrams_from_tokens("_tk", n), md5_int60)
            ).alias("shingle"),
        )
        .distinct()
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct n-gram
    shingles whose FIRST appearance in the corpus (by ascending
    doc_id — the ingest-order proxy) is this very document. Curation
    uses it to separate generative/fresh content from recycled text:
    a late doc full of already-seen shingles is a recombination.

    Returns (doc_id, n_shingles, n_novel, novelty) with novelty
    rounded to 6 dp. Scale shape: first-seen is one min(doc_id)
    groupBy over the shingle explode (map-side combinable, keyed by
    the 60-bit hash), joined back to the per-doc distinct shingles —
    two near-uniform shuffles, no self-join, no window.
    """
    sh = doc_shingles(documents, n)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )
