"""Late-round-5 batch: engine surfaces a 100 TB pipeline leans on that
the r01-r05 registry didn't yet cover —

  * ``sql_recursive_cte`` — Spark 4 recursive CTEs (WITH RECURSIVE), the
    hierarchical-traversal front end, run as the SAME SQL text on both
    engines;
  * ``timeseries_ohlc`` — open/high/low/close downsampling per time
    bucket (the hypertable rollup shape) via min_by/max_by argmin
    aggregates instead of window shuffles;
  * ``interval_overlap_join`` — session-interval overlap pairs through
    bucket decomposition (the scalable interval join) vs the oracle's
    quadratic inequality join;
  * ``bm25_search_topk`` — multi-term BM25 retrieval: broadcast query
    set, posting-list join, integer micro-unit scores, top-k per query.

Every query here is oracle-backed; per the registry ordering invariant
they are APPENDED after the never-attested block and enter the driver's
window in round 6+.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs744_big_data_system_spark.operators.relational import sessionize
from cs744_big_data_system_spark.sources.readers import load_table
from cs744_big_data_system_spark.workloads.llm import _SQL_CANON_TOKS

__all__ = ["WORKLOADS"]


# --- Spark 4 recursive CTE: hierarchy traversal as plain SQL ---
def q_sql_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE over the implicit binary hierarchy parent(k) =
    floor(k/2) on customer keys: breadth-first from the root, one
    recursive step per tree level (depth grows with log N, so the
    iteration count — and Spark's recursion limit — is safe at any
    corpus size; each level is one equi-join on the parent key).
    The SAME query text runs on DuckDB: this is the portable
    hierarchical-traversal front end (org charts, category trees,
    bill-of-materials) that Spark 4 added and the reference's RDD
    surface never had. Output is the per-depth roll-up so the result
    stays small at every sf."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rec_customer")
    return spark.sql(_RECURSIVE_SQL.format(table="rec_customer"))


_RECURSIVE_SQL = """
WITH RECURSIVE tree(node, depth) AS (
  SELECT c_custkey AS node, 0 AS depth FROM {table} WHERE c_custkey = 0
  UNION ALL
  SELECT c.c_custkey, t.depth + 1
  FROM tree t JOIN {table} c
    ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = t.node
  WHERE c.c_custkey >= 1
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS sum_keys,
       CAST(min(node) AS BIGINT) AS min_key,
       CAST(max(node) AS BIGINT) AS max_key
FROM tree GROUP BY depth
"""

SQL_SQL_RECURSIVE_CTE = _RECURSIVE_SQL.format(table="customer")


# --- OHLC time-bucket rollup (hypertable downsampling) ---
def q_timeseries_ohlc(spark, sf_dir):
    """Open/high/low/close + volume per (event_type, hour bucket) —
    the canonical time-series downsample. open/close are deterministic
    argmin/argmax via min_by/max_by over the (ts, event_id) struct:
    map-side-combinable aggregates, ONE shuffle on the bucket key and
    no window (a row_number approach would shuffle the same data but
    sort every partition; min_by folds in the combiner). The oracle
    mirrors the pick with row_number, proving the struct-ordering
    semantics agree."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    tie = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        bucket.alias("bucket_start"), "event_type"
    ).agg(
        F.round(F.min_by("value", tie), 6).alias("open_value"),
        F.round(F.max("value"), 6).alias("high_value"),
        F.round(F.min("value"), 6).alias("low_value"),
        F.round(F.max_by("value", tie), 6).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_TIMESERIES_OHLC = """
WITH ranked AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
         event_type, value,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT bucket_start, event_type,
       round(min(CASE WHEN rn_first = 1 THEN value END), 6) AS open_value,
       round(max(value), 6) AS high_value,
       round(min(value), 6) AS low_value,
       round(min(CASE WHEN rn_last = 1 THEN value END), 6) AS close_value,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM ranked GROUP BY bucket_start, event_type
"""


# --- Interval-overlap join via bucket decomposition ---
_HOUR_US = 3_600 * 1_000_000


def q_interval_overlap_join(spark, sf_dir):
    """Which pairs of user sessions overlapped in time, across two
    user populations? Intervals are 30-min-gap sessions (≥ 2 events);
    population A = even user ids, B = odd. The naive formulation is an
    inequality join (quadratic — what the oracle runs at sf0.01); the
    engine decomposes each interval into the hour buckets it spans
    (sequence + explode) and equi-joins on the bucket, counting a pair
    ONLY in the bucket that contains max(starts) — every overlapping
    pair lands in exactly that one common bucket, so no distinct pass
    is needed. Candidate fan-in per bucket is bounded by concurrent
    sessions per hour (a property of the workload, not the corpus
    size), which is what makes this the 100 TB interval-join shape."""
    ev = load_table(spark, sf_dir, "events")
    sess = (
        sessionize(ev, gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") >= 2)
    )
    spans = sess.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("start_us") / _HOUR_US).cast("long"),
                (F.col("end_us") / _HOUR_US).cast("long"),
            )
        ),
    )
    a = spans.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("user_a"),
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
        "bucket",
    )
    b = spans.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("user_b"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
        "bucket",
    )
    pairs = a.join(b, "bucket").filter(
        (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
        # dedup-free uniqueness: emit the pair only in the bucket
        # holding the later of the two starts (both spans contain it).
        & (
            F.col("bucket")
            == (F.greatest("a_start", "b_start") / _HOUR_US).cast("long")
        )
    )
    overlap = F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(overlap).alias("sum_overlap_us"),
    )


SQL_INTERVAL_OVERLAP_JOIN = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM marked
), sess AS (
  SELECT user_id, session_id,
         epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
         count(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
  HAVING count(*) >= 2
), a AS (SELECT * FROM sess WHERE user_id % 2 = 0),
   b AS (SELECT * FROM sess WHERE user_id % 2 = 1)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us))
            AS BIGINT) AS sum_overlap_us
FROM a JOIN b ON a.start_us <= b.end_us AND b.start_us <= a.end_us
GROUP BY 1, 2
"""


# --- BM25 multi-term retrieval: broadcast queries, top-k per query ---
#: (query_id, term) pairs — the literal query workload, identical on
#: both engines.
_BM25_QUERIES = [
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "agg"),
    (3, "sort"), (3, "merge"), (3, "join"),
    (4, "stream"), (4, "batch"),
    (5, "vector"), (5, "scan"),
]
_BM25_K = 10


def q_bm25_search_topk(spark, sf_dir):
    """Multi-term BM25 retrieval (the query-time half of
    text_tfidf_bm25's index-time scoring): a broadcast query-term
    table joins the posting lists, per-term BM25 scores quantize to
    integer micro-units (floor(x·1e6 + .5 + 1e-9) — IEEE-identical on
    both engines, and a BIGINT sum is then associativity-free), and
    one row_number window takes the top-10 docs per query. Corpus-side
    cost is the same one (doc, term) shuffle the index build pays; the
    query table is O(queries) and broadcasts at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    from cs744_big_data_system_spark.functions.text import normalized_text, tokens

    k1, b = 1.2, 0.75
    # NOTE (r12 negative result, A/B-killed at 32 cores): a repartition
    # + non-nullable keys (to AQE-share the (doc,term) counts exchange
    # between its two consumers) measured 1.83 s -> 2.25 s — the bare
    # tokenize chain here is cheaper than the exchange it rides, and
    # the duplicated branches overlap on idle cores.
    canon = docs.select("doc_id", tokens(normalized_text("text")).alias("_tk"))
    stats = canon.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("_tk")).alias("avgdl")
    )
    terms = canon.select(
        "doc_id", F.size("_tk").alias("dl"), F.explode("_tk").alias("term")
    )
    tfc = terms.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    qterms = spark.createDataFrame(_BM25_QUERIES, "query_id INT, term STRING")
    qtf = tfc.join(F.broadcast(qterms), "term")
    # document frequency of the query terms (counted over the full
    # corpus — qtf already holds every posting for those terms)
    dft = qtf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    joined = qtf.join(F.broadcast(dft), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
    term_micro = F.floor(
        idf * F.col("tf") * (k1 + 1.0) / denom * 1e6 + 0.5 + 1e-9
    ).cast("long")
    scored = joined.select("query_id", "doc_id", term_micro.alias("m"))
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("m").alias("score_micro"), F.count(F.lit(1)).alias("n_terms")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _BM25_K)
        .select("query_id", "rnk", "doc_id", "score_micro", "n_terms")
    )


def _sql_bm25_search() -> str:
    values = ", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QUERIES)
    return f"""
WITH q(query_id, term) AS (VALUES {values}),
tk AS (
  SELECT doc_id, {_SQL_CANON_TOKS} AS tk FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM tk
), terms AS (
  SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tk
), tfc AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM terms GROUP BY 1, 2, 3
), qtf AS (
  SELECT q.query_id, tfc.* FROM tfc JOIN q USING (term)
), dft AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT DISTINCT term, doc_id FROM qtf) GROUP BY 1
), scored AS (
  SELECT query_id, doc_id,
         CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
                    / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6 + 0.5 + 1e-9)
              AS BIGINT) AS m
  FROM qtf JOIN dft USING (term) CROSS JOIN stats
), per_doc AS (
  SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY 1, 2
)
SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, score_micro, n_terms
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_micro DESC, doc_id ASC) AS rnk
      FROM per_doc)
WHERE rnk <= {_BM25_K}
"""


SQL_BM25_SEARCH_TOPK = _sql_bm25_search()


# --- Parquet schema evolution: mergeSchema across file generations ---
def q_parquet_schema_evolution(spark, sf_dir):
    """Two parquet generations of the same table — an early writer
    without the ``source`` column, a later one with it — land in one
    directory; ``mergeSchema=true`` reads the union schema with NULLs
    for the missing column (Spark unions parquet footers at planning
    time; per-file projection pushdown still applies, so old files
    never read the new column). This is the day-to-day lakehouse shape
    when a pipeline adds a column mid-corpus without rewriting 100 TB
    of history. The oracle replays the same evolution as a UNION ALL
    with an explicit NULL."""
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(tempfile.gettempdir(), f"schema_evo_{os.getpid()}")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", "source"
    )
    old.write.mode("overwrite").parquet(os.path.join(root, "gen0"))
    new.write.mode("overwrite").parquet(os.path.join(root, "gen1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen0"), os.path.join(root, "gen1")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.count("source").alias("n_with_source"),
    )


SQL_PARQUET_SCHEMA_EVOLUTION = """
WITH merged AS (
  SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars, source FROM documents WHERE doc_id % 2 = 1
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(source) AS BIGINT) AS n_with_source
FROM merged GROUP BY lang
"""


# --- Exactly-once BY CONSTRUCTION: idempotent MERGE upsert sink ---
def q_stream_upsert_sink_replay(spark, sf_dir):
    """The OTHER exactly-once discipline, complementing
    stream_txlog_ingest's commit-ledger: an idempotent-by-construction
    foreachBatch sink. Each micro-batch pre-reduces to its latest row
    per key (max_by over the (ts, event_id) struct — map-side
    combinable), then MERGEs into the keyed snapshot with a version
    guard (WHEN MATCHED AND source is newer THEN UPDATE). Because the
    guard makes every apply monotone, REDELIVERING any batch is a
    provable no-op — the query re-applies wave 0 after the stream
    drains and asserts the snapshot is bit-identical, then returns the
    snapshot, which must equal the batch latest-per-key oracle.
    Counts/sums are deliberately absent: they are NOT
    redelivery-idempotent, which is exactly what the txlog ledger
    variant is for (the docstring-level contrast is the point)."""
    import os
    import shutil
    import tempfile

    from cs744_big_data_system_spark.operators.merge import merge_upsert
    from cs744_big_data_system_spark.streaming.windows import (
        replay_checkpoint_dir,
        stage_waves_stream,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    waves = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]

    table_root = os.path.join(tempfile.gettempdir(), f"upsert_sink_{os.getpid()}")
    shutil.rmtree(table_root, ignore_errors=True)
    os.makedirs(table_root)
    state = {"v": -1}

    def _latest_per_key(bdf):
        tie = F.struct(F.col("ts"), F.col("event_id"))
        return bdf.groupBy("user_id", "event_type").agg(
            F.max_by(F.struct("ts", "event_id", "value"), tie).alias("r")
        ).select(
            F.concat_ws("|", F.col("user_id"), F.col("event_type")).alias("ukey"),
            "user_id",
            "event_type",
            F.col("r.ts").alias("ts"),
            F.col("r.event_id").alias("event_id"),
            F.col("r.value").alias("value"),
        )

    def sink(bdf, batch_id):
        sess = bdf.sparkSession
        src = _latest_per_key(bdf)
        if state["v"] < 0:
            merged = src
        else:
            tgt = sess.read.parquet(os.path.join(table_root, f"v{state['v']}"))
            newer = (F.col("s.ts") > F.col("t.ts")) | (
                (F.col("s.ts") == F.col("t.ts"))
                & (F.col("s.event_id") > F.col("t.event_id"))
            )
            cols = ("user_id", "event_type", "ts", "event_id", "value")
            merged = merge_upsert(
                tgt,
                src,
                key="ukey",
                matched_set={
                    c: F.when(newer, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
                    for c in cols
                },
                not_matched_insert={c: F.col(f"s.{c}") for c in cols},
            ).drop("merge_action")
        v = state["v"] + 1
        merged.write.mode("overwrite").parquet(os.path.join(table_root, f"v{v}"))
        state["v"] = v

    stage, stream = stage_waves_stream(spark, waves)
    ckpt = replay_checkpoint_dir()  # throwaway replay ckpt -> tmpfs (see streaming/windows.py)
    try:
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        # redelivery drill: wave 0 arrives AGAIN → the version guard
        # must make it a no-op (set-equality of snapshots).
        before = spark.read.parquet(os.path.join(table_root, f"v{state['v']}"))
        before = before.localCheckpoint(eager=True)
        sink(waves[0], 0)
        after = spark.read.parquet(os.path.join(table_root, f"v{state['v']}"))
        assert after.exceptAll(before).count() == 0
        assert before.exceptAll(after).count() == 0
        return before.select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.round("value", 6).alias("last_value"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(table_root, ignore_errors=True)


SQL_STREAM_UPSERT_SINK = """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id, round(value, 6) AS last_value
FROM ranked WHERE rn = 1
"""


# --- State-store introspection: audit streaming state as a table ---
def q_stream_state_inspect(spark, sf_dir):
    """Spark 4's state data source: after a streaming aggregation
    drains into its checkpoint, `spark.read.format("statestore")`
    exposes the state-store contents AS A TABLE — the operational
    audit surface for 100 TB streaming jobs (how big is my state, is a
    key stuck, did the agg converge). Since the replay admits every
    row, the final state must equal the batch aggregate — so the
    audit read itself is hash-checked against the plain SQL oracle."""
    import os
    import shutil

    from cs744_big_data_system_spark.sources.readers import normalize_event_ts, parquet_schema
    from cs744_big_data_system_spark.streaming.windows import replay_checkpoint_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        stream_path = os.path.dirname(path)
    else:
        stream_path = path
    stream = normalize_event_ts(reader.parquet(stream_path))
    agg = (
        stream.withWatermark("ts", "365 days")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    ckpt = replay_checkpoint_dir()  # throwaway replay ckpt -> tmpfs (see streaming/windows.py)
    try:
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        st = spark.read.format("statestore").load(ckpt)
        return st.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.round(F.col("value.sum"), 4).alias("sum_value"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


SQL_STREAM_STATE_INSPECT = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


# --- Video container: frame sampling over real PPM frames ---
_VID_W, _VID_H = 8, 6
_VID_FRAME_BYTES = _VID_W * _VID_H * 3  # 144 = 9 md5 chunks
_VID_HEADER = b"P6\n8 6\n255\n"
_VID_SAMPLE_EVERY = 2


def _synthetic_video_assets(spark, sf_dir):
    """One deterministic 'video' container per document, built entirely
    JVM-side (same real-container trick as the WAV builder in
    curation2): magic ``VID0`` + u16 frame count + per-frame
    [u32 length][P6 PPM 8x6] with md5-derived pixel bytes. The parser
    must honor the length prefixes and the PPM decode is the REAL
    stdlib path (operators/multimodal._decode_ppm)."""
    import struct

    docs = load_table(spark, sf_dir, "documents")
    n_frames = 3 + F.col("doc_id") % 4

    def frame_blob(f: int):
        body = F.concat(*[
            F.to_binary(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(f":vf{f}:"),
                        F.lit(str(c)),
                    )
                ),
                F.lit("hex"),
            )
            for c in range(_VID_FRAME_BYTES // 16)
        ])
        prefix = struct.pack(">I", len(_VID_HEADER) + _VID_FRAME_BYTES)
        return F.concat(F.lit(prefix), F.lit(_VID_HEADER), body)

    frames_for = {
        k: F.concat(*[frame_blob(f) for f in range(3 + k)]) for k in range(4)
    }
    body = F.when(F.col("doc_id") % 4 == 0, frames_for[0])
    for k in range(1, 4):
        body = body.when(F.col("doc_id") % 4 == k, frames_for[k])
    count_be = F.to_binary(
        F.lpad(F.conv(n_frames.cast("string"), 10, 16), 4, "0"), F.lit("hex")
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(F.lit(b"VID0"), count_be, body).alias("payload"),
    )


def q_video_frame_sample(spark, sf_dir):
    """Frame sampling over video containers — the third modality
    (audio_frame_features is the WAV twin): parse the container's
    length-prefixed frame index, decode every 2nd frame through the
    REAL PPM decoder, and emit per-sampled-frame pixel sums. The
    Spark-side plumbing (binary column, Arrow batches, mapInPandas
    schema) is exactly what a codec-backed deployment uses; and
    because the synthetic pixels are md5-derived, DuckDB can recompute
    the expected sums arithmetically — a HASH-CHECKED decode path, not
    a rows-only stub. Integer pixel math end-to-end."""
    import pandas as pd

    assets = _synthetic_video_assets(spark, sf_dir)

    def sample(batches):
        import struct

        import numpy as np  # noqa: PLC0415 — worker-side

        from cs744_big_data_system_spark.operators.multimodal import _decode_ppm

        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "sum_px": [], "n_px": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload)
                if data[:4] != b"VID0":
                    continue
                (nf,) = struct.unpack(">H", data[4:6])
                pos = 6
                for f in range(nf):
                    (ln,) = struct.unpack(">I", data[pos : pos + 4])
                    blob = data[pos + 4 : pos + 4 + ln]
                    pos += 4 + ln
                    if f % _VID_SAMPLE_EVERY:
                        continue
                    decoded = _decode_ppm(blob)
                    if decoded is None:
                        continue
                    _, _, px = decoded
                    raw = np.rint(px * 255.0).astype(np.int64)
                    out["asset_id"].append(int(aid))
                    out["frame_idx"].append(f)
                    out["sum_px"].append(int(raw.sum()))
                    out["n_px"].append(int(raw.size))
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        sample, "asset_id long, frame_idx int, sum_px long, n_px long"
    )


SQL_VIDEO_FRAME_SAMPLE = f"""
WITH f AS (
  SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS frame_idx FROM documents
), sampled AS (
  SELECT doc_id, frame_idx FROM f WHERE frame_idx % {_VID_SAMPLE_EVERY} = 0
), chunks AS (
  SELECT doc_id, frame_idx,
         md5(doc_id || ':vf' || frame_idx || ':' || c) AS h
  FROM sampled, unnest(range(0, {_VID_FRAME_BYTES // 16})) t(c)
), bytes AS (
  SELECT doc_id, frame_idx,
         CAST(('0x' || substr(h, CAST(2 * i + 1 AS INT), 2)) AS BIGINT) AS bv
  FROM chunks, unnest(range(0, 16)) u(i)
)
SELECT doc_id AS asset_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(sum(bv) AS BIGINT) AS sum_px, CAST(count(*) AS BIGINT) AS n_px
FROM bytes GROUP BY doc_id, frame_idx
"""


# --- Right-to-be-forgotten: copy-on-write DELETE in the txlog table ---
def q_gdpr_erase(spark, sf_dir):
    """The compliance op every 100 TB lakehouse needs: erase a set of
    users from a txlog table with sources/txlog.txlog_delete_where —
    file-pruned copy-on-write DELETE (only files containing a
    forgotten user are rewritten; the affected-file discovery is one
    input_file_name aggregation, and prior versions still time-travel
    until vacuum). The query ingests events hash-partitioned on
    user_id, erases user_id % 37 == 3, PROVES the erasure in-query
    (zero matching rows in the new snapshot) and returns the surviving
    per-type aggregate, which must equal the oracle's NOT-predicate
    filter."""
    import os
    import shutil
    import tempfile

    from cs744_big_data_system_spark.sources.txlog import (
        txlog_append,
        txlog_delete_where,
        txlog_read,
    )

    table = os.path.join(tempfile.gettempdir(), f"gdpr_{os.getpid()}")
    shutil.rmtree(table, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # everything from the first write onward is inside the try so a
    # mid-query failure (append, delete, or the erasure proof) cannot
    # leak the pid-keyed temp table across runs
    try:
        txlog_append(ev.repartition(8, "user_id"), table)
        forget = F.col("user_id") % 37 == 3
        txlog_delete_where(spark, table, forget)
        snap = txlog_read(spark, table)
        assert snap.filter(forget).count() == 0  # the right, exercised
        return (
            snap.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(table, ignore_errors=True)


SQL_GDPR_ERASE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_value
FROM events WHERE NOT (user_id % 37 = 3)
GROUP BY event_type
"""


# --- Cost-based optimization: ANALYZE stats + join reorder ---
def q_cbo_join_reorder(spark, sf_dir):
    """Catalyst's cost-based optimizer fed by catalog statistics: the
    three TPC-H join tables land as managed tables, ANALYZE TABLE
    COMPUTE STATISTICS FOR ALL COLUMNS records row counts + NDVs, and
    the star query is submitted as a comma-list FROM (no join order
    given) with spark.sql.cbo{.joinReorder}.enabled — the optimizer
    picks the order from stats, which at 100 TB is the difference
    between shuffling the fact table once or three times. Stats
    presence in the optimized plan is pinned by test; confs restore
    after so the rest of the session keeps the default planner."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    names = {}
    for t in ("customer", "orders", "lineitem"):
        names[t] = f"cbo_{t}_{os.getpid()}_{tag}"
        if not spark.catalog.tableExists(names[t]):
            load_table(spark, sf_dir, t).write.saveAsTable(names[t])
            spark.sql(
                f"ANALYZE TABLE {names[t]} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
    old = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        out = spark.sql(f"""
            SELECT c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM {names["lineitem"]}, {names["orders"]}, {names["customer"]}
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND o_orderstatus = 'F' AND l_quantity > 10
            GROUP BY c_mktsegment
        """)
        # materialize under CBO before the confs restore (the driver
        # collects later; the plan is already optimized here)
        return out.localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


SQL_CBO_JOIN_REORDER = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem, orders, customer
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND o_orderstatus = 'F' AND l_quantity > 10
GROUP BY c_mktsegment
"""


# --- Streaming observability: per-batch progress metrics as a table ---
def q_stream_progress_metrics(spark, sf_dir):
    """The StreamingQueryProgress feed — numInputRows per micro-batch
    — turned into a queryable table: the observability surface an
    operator watches on a production stream (throughput per trigger,
    stuck batches). Three mtime-ordered waves replay one-per-trigger,
    so each batch's input count is exactly one wave's rows and the
    oracle is the batch GROUP BY event_id % 3. Deterministic because
    availableNow + maxFilesPerTrigger=1 pins the batch boundaries."""
    import shutil
    import tempfile

    from cs744_big_data_system_spark.streaming.windows import (
        replay_checkpoint_dir,
        stage_waves_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    waves = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    stage, stream = stage_waves_stream(spark, waves)
    ckpt = replay_checkpoint_dir()  # throwaway replay ckpt -> tmpfs (see streaming/windows.py)
    try:
        q = (
            stream.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        rows = [
            (int(p.batchId), int(p.numInputRows))
            for p in q.recentProgress
            if int(p.numInputRows) > 0  # drop no-data housekeeping batches
        ]
        return spark.createDataFrame(rows, "batch_id INT, num_input_rows BIGINT")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


SQL_STREAM_PROGRESS_METRICS = """
SELECT CAST(event_id % 3 AS INT) AS batch_id,
       CAST(count(*) AS BIGINT) AS num_input_rows
FROM events GROUP BY 1
"""


# --- Cohort analysis: acquisition-week x age-week value matrix ---
def q_cohort_revenue_matrix(spark, sf_dir):
    """The classic cohort retention/revenue matrix: users bucketed by
    the ISO week of their FIRST event (acquisition cohort), activity
    bucketed by whole weeks since that cohort week; per cell, active
    users / events / summed value. One aggregate builds the per-user
    cohort (tiny — one row per user), which joins back broadcast; the
    matrix is then one shuffle on (cohort, age). The per-user table is
    the only state that grows with users, never with events."""
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = cohort.select(
        "user_id", F.date_trunc("week", "first_ts").cast("date").alias("cohort_week")
    )
    joined = ev.join(F.broadcast(cohort), "user_id")
    age_weeks = (
        F.datediff(F.date_trunc("week", "ts").cast("date"), F.col("cohort_week")) / 7
    ).cast("int")
    return joined.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        age_weeks.alias("age_weeks"),
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_COHORT_REVENUE_MATRIX = """
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_week,
                      CAST(date_trunc('week', ts) AS DATE)) / 7 AS INT) AS age_weeks,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events e JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


WORKLOADS = {
    "sql_recursive_cte": (q_sql_recursive_cte, SQL_SQL_RECURSIVE_CTE),
    "timeseries_ohlc": (q_timeseries_ohlc, SQL_TIMESERIES_OHLC),
    "interval_overlap_join": (q_interval_overlap_join, SQL_INTERVAL_OVERLAP_JOIN),
    "bm25_search_topk": (q_bm25_search_topk, SQL_BM25_SEARCH_TOPK),
    "parquet_schema_evolution": (
        q_parquet_schema_evolution,
        SQL_PARQUET_SCHEMA_EVOLUTION,
    ),
    "stream_upsert_sink_replay": (q_stream_upsert_sink_replay, SQL_STREAM_UPSERT_SINK),
    "stream_state_inspect": (q_stream_state_inspect, SQL_STREAM_STATE_INSPECT),
    "video_frame_sample": (q_video_frame_sample, SQL_VIDEO_FRAME_SAMPLE),
    "gdpr_erase": (q_gdpr_erase, SQL_GDPR_ERASE),
    "cbo_join_reorder": (q_cbo_join_reorder, SQL_CBO_JOIN_REORDER),
    "stream_progress_metrics": (q_stream_progress_metrics, SQL_STREAM_PROGRESS_METRICS),
    "cohort_revenue_matrix": (q_cohort_revenue_matrix, SQL_COHORT_REVENUE_MATRIX),
}
