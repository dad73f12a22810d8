"""Relational workloads, second batch: the SURVEY.md §2.9 gap families
not covered by workloads/relational.py — full-outer / cross joins,
exact percentiles, math scalar family, MapType round-trip,
first/last window frames, and pivot.

Same contract as relational.py: every function takes (spark, sf_dir)
and returns a DataFrame; WORKLOADS maps name -> (fn, oracle_sql|None);
every computed column is aliased identically in Spark and DuckDB SQL
(the driver hash-compares values after sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs744_big_data_system_spark.sources.readers import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- §2.9 joins: FULL OUTER (reference has only inner, task1.py:51) ---
def q_join_full_outer(spark, sf_dir):
    """Filtered customer FULL OUTER filtered orders — unmatched rows
    survive on BOTH sides (nulls in the other side's columns). At
    scale this is a shuffle join on the key; neither side can be
    broadcast for an outer-both join, so AQE picks sort-merge."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", "c_acctbal"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer").select(
        "c_custkey",
        "o_orderkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.round("o_totalprice", 4).alias("o_totalprice"),
    )


SQL_JOIN_FULL_OUTER = """
SELECT c.c_custkey, o.o_orderkey,
       round(c.c_acctbal, 4) AS c_acctbal,
       round(o.o_totalprice, 4) AS o_totalprice
FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) c
FULL OUTER JOIN (SELECT o_orderkey, o_custkey, o_totalprice
                 FROM orders WHERE o_totalprice > 150000) o
  ON c.c_custkey = o.o_custkey
"""


# --- §2.9 joins: CROSS (cartesian of two small dims) ---
def q_join_cross(spark, sf_dir):
    """region × supplier cartesian product. Only ever sane when one
    side is tiny — Spark plans BroadcastNestedLoopJoin; the broadcast
    hint pins the 5-row side so the big side never moves."""
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return F.broadcast(region).crossJoin(supp)


SQL_JOIN_CROSS = """
SELECT r_regionkey, r_name, s_suppkey, s_name FROM region CROSS JOIN supplier
"""


# --- §2.9 approximate/exact quantiles: percentile family ---
def q_percentile(spark, sf_dir):
    """Exact linear-interpolation percentiles per group. Exact (not
    approx_percentile) so the DuckDB quantile_cont oracle matches
    bit-for-bit after rounding. At 100 TB you'd flip the same query to
    percentile_approx (t-digest, mergeable partial aggregation); exact
    percentile needs a full sort of each group's values."""
    li = _t(spark, sf_dir, "lineitem")
    # One percentile(col, array(...)) aggregate — a single sort of each
    # group's values serves all three quantiles (three separate
    # percentile aggs each re-buffer/re-sort: measured 3× slower).
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return li.groupBy("l_returnflag").agg(
        pcts.alias("_p"), F.count(F.lit(1)).alias("n")
    ).select(
        "l_returnflag",
        F.round(F.element_at("_p", 1), 4).alias("p50"),
        F.round(F.element_at("_p", 2), 4).alias("p90"),
        F.round(F.element_at("_p", 3), 4).alias("p99"),
        "n",
    )


SQL_PERCENTILE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --- §2.9 approximate quantiles: the 100 TB flip of q_percentile ---
def q_approx_percentile(spark, sf_dir):
    """percentile_approx — Spark's Greenwald-Khanna-style quantile
    sketch: mergeable partial aggregation riding the same exchange as
    any other agg, no per-group full sort/buffer. This is the plan
    you run at 100 TB; q_percentile (exact) is its small-SF oracle
    baseline. Rows-only in the driver gate: quantile sketches aren't
    bit-reproducible across engines — the rank-error bound vs the
    exact percentiles is unit-tested instead
    (tests/test_relational_ext.py)."""
    li = _t(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx(
        "l_extendedprice",
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(10000),
    )
    return li.groupBy("l_returnflag").agg(
        pcts.alias("_p"), F.count(F.lit(1)).alias("n")
    ).select(
        "l_returnflag",
        F.round(F.element_at("_p", 1), 4).alias("p50"),
        F.round(F.element_at("_p", 2), 4).alias("p90"),
        F.round(F.element_at("_p", 3), 4).alias("p99"),
        "n",
    )


# --- §2.6 / §2.9 math scalar family (reference only has + - * /) ---
def q_math_funcs(spark, sf_dir):
    """Math scalars over lineitem — all JVM-native Column expressions,
    whole-stage-codegen'd; nothing leaves the JVM."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.round(F.log("l_extendedprice"), 4).alias("ln_price"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.abs(F.col("l_quantity") - F.lit(25)).alias("qty_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        F.signum(F.col("l_discount") - F.lit(0.05)).alias("disc_sign"),
    )


SQL_MATH_FUNCS = """
SELECT l_orderkey, l_linenumber,
       round(sqrt(l_extendedprice), 4) AS sqrt_price,
       round(ln(l_extendedprice), 4) AS ln_price,
       round(pow(l_discount, 2), 6) AS disc_sq,
       abs(l_quantity - 25) AS qty_dev,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
FROM lineitem WHERE l_orderkey < 1000
"""


# --- §2.9 map functions: build a MapType, explode it back ---
def q_map_funcs(spark, sf_dir):
    """Round-trip through MapType: per-user counts aggregated into a
    map<event_type, count> (map_from_entries over a sorted struct
    list), then exploded back to rows. Proves map construction,
    map_keys, and map explosion; the oracle is the plain group-by the
    round-trip must reproduce exactly."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return as_map.select(
        "user_id",
        F.size(F.map_keys("type_counts")).alias("n_types"),
        F.explode("type_counts").alias("event_type", "cnt"),
    )


SQL_MAP_FUNCS = """
WITH per_type AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY user_id, event_type
), sized AS (
  SELECT user_id, CAST(count(*) AS INT) AS n_types FROM per_type GROUP BY user_id
)
SELECT p.user_id, s.n_types, p.event_type, p.cnt
FROM per_type p JOIN sized s USING (user_id)
"""


# --- §2.9 window frames: first/last over unbounded frame ---
def q_first_last(spark, sf_dir):
    """first/last value per order's line sequence — an unbounded
    window frame (the reference's closest analogue is the per-batch
    timing slice, SURVEY.md §2.5). The ordering includes the output
    column itself as tiebreak: (l_orderkey, l_linenumber) is NOT
    unique in the fixture, and first/last are only deterministic if
    ties cannot change the emitted value."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(F.col("l_linenumber").asc(), F.col("l_extendedprice").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.first("l_extendedprice").over(w), 4).alias("first_price"),
        F.round(F.last("l_extendedprice").over(w), 4).alias("last_price"),
    )


SQL_FIRST_LAST = """
SELECT l_orderkey, l_linenumber,
       round(first_value(l_extendedprice) OVER w, 4) AS first_price,
       round(last_value(l_extendedprice) OVER w, 4) AS last_price
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- §2.9 pivot (wide conditional aggregation) ---
def q_pivot_sum(spark, sf_dir):
    """Pivot lineitem on linestatus with explicit pivot values —
    explicit values keep the plan a single pass (no extra distinct-
    values job) and make the output schema static, which is what you
    want at scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f"),
            F.col("O").alias("qty_o"),
        )
    )


SQL_PIVOT_SUM = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


# --- §2.9 set ops, ALL variants (bag semantics) ---
def q_set_ops_all(spark, sf_dir):
    """UNION ALL / INTERSECT ALL / EXCEPT ALL of customer vs supplier
    nation keys, tagged and stacked — bag semantics (duplicates
    preserved per multiplicity), complementing set_ops' DISTINCT
    variants."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    u = cust.unionAll(supp).withColumn("op", F.lit("union_all"))
    i = cust.intersectAll(supp).withColumn("op", F.lit("intersect_all"))
    e = cust.exceptAll(supp).withColumn("op", F.lit("except_all"))
    return u.unionByName(i).unionByName(e)


SQL_SET_OPS_ALL = """
SELECT nationkey, 'union_all' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer UNION ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'intersect_all' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'except_all' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
"""


# --- §2.9 UDAF surface: grouped-agg pandas_udf (Arrow-vectorized) ---
def q_udaf_weighted_mean(spark, sf_dir):
    """Price-weighted mean discount per return flag via a grouped-agg
    pandas_udf — the Arrow path for aggregation logic Spark lacks as a
    built-in. One batch per group crosses the JVM↔Arrow boundary;
    everything before the groupBy stays native (SURVEY.md §2.9 UDF
    policy: pandas_udf for vector math, never row-at-a-time udf)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses
    # `from __future__ import annotations`, which stringifies type
    # hints and defeats pandas_udf's signature inference.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmean(price, discount):
        return float((price * discount).sum() / price.sum())

    li = _t(spark, sf_dir, "lineitem")
    # Note: a grouped-agg pandas UDF cannot share an agg() with
    # built-in aggregates (INVALID_PANDAS_UDF_PLACEMENT) — UDAF only.
    return li.groupBy("l_returnflag").agg(
        F.round(wmean("l_extendedprice", "l_discount"), 6).alias("w_mean_discount"),
    )


SQL_UDAF_WEIGHTED_MEAN = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_discount) / sum(l_extendedprice), 6) AS w_mean_discount
FROM lineitem GROUP BY l_returnflag
"""


# --- §2.1 S1/S5 parity: CSV sink + header, CSV scan + schema inference ---
def q_csv_roundtrip_sort(spark, sf_dir):
    """The reference's whole assignment1/part2 pipeline
    (task.py:22-26) run through the engine's own sink and source: write
    a projection of events as CSV-with-header, read it back with
    schema inference, globally sort on (event_type, event_id) — the
    cca2/timestamp multi-column sort shape. Proves the CSV round-trip
    preserves types and values (the oracle never sees the CSV)."""
    import tempfile

    from cs744_big_data_system_spark.sources.readers import read_csv
    from cs744_big_data_system_spark.sources.writers import write_csv

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    # One pid-stable dir overwritten per call (the lazy return still
    # reads it, so it can't be deleted here) — repeated invocations in
    # a long session reuse it instead of accumulating mkdtemp dirs.
    import os

    path = os.path.join(tempfile.gettempdir(), f"csv_roundtrip_{os.getpid()}")
    write_csv(ev, path)
    back = read_csv(spark, path)
    return back.orderBy(F.col("event_type").asc(), F.col("event_id").asc()).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


SQL_CSV_ROUNDTRIP_SORT = """
SELECT event_id, user_id, event_type, round(value, 6) AS value
FROM events ORDER BY event_type, event_id
"""


def q_jsonl_roundtrip_sort(spark, sf_dir):
    """Same contract as the CSV round-trip but through the JSONL
    sink/source (sources/writers.write_jsonl, readers.read_json) with
    an explicit read schema — no inference pass, types pinned. JSONL
    is the interchange format training-data tooling speaks, so the
    round-trip must be lossless."""
    import os
    import tempfile

    from cs744_big_data_system_spark.sources.readers import read_json
    from cs744_big_data_system_spark.sources.writers import write_jsonl

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = os.path.join(tempfile.gettempdir(), f"jsonl_roundtrip_{os.getpid()}")
    write_jsonl(ev, path)
    back = read_json(
        spark, path,
        schema="event_id long, user_id long, event_type string, value double",
    )
    return back.orderBy(F.col("event_type").asc(), F.col("event_id").asc()).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


def q_jsonl_sink_roundtrip(spark, sf_dir):
    """Round-trip through the CUSTOM Python Data Source sink
    (sources/jsonl_sink.py — task-temp files published by one atomic
    driver-side commit, the two-phase protocol real file committers
    use), read back with a pinned schema. Same lossless contract as
    the built-in JSONL round-trip, but exercising the user-defined
    writer path end-to-end."""
    import os
    import tempfile

    from cs744_big_data_system_spark.sources.jsonl_sink import JsonlSinkDataSource
    from cs744_big_data_system_spark.sources.readers import read_json

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path = os.path.join(tempfile.gettempdir(), f"jsonl_sink_{os.getpid()}")
    cust.write.format("jsonlsink").option("path", path).mode("overwrite").save()
    back = read_json(
        spark, path,
        schema="c_custkey long, c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    return back.orderBy("c_custkey").select(
        "c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )


SQL_JSONL_SINK_ROUNDTRIP = """
SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
FROM customer ORDER BY c_custkey
"""


def q_partitioned_prune_agg(spark, sf_dir):
    """Hive-partitioned write + partition-pruned read: events written
    partitioned by event_type, read back with a partition-column filter
    — the scan must touch ONE directory (PartitionFilters, asserted in
    tests/test_plans.py::test_partitioned_write_prunes_partitions), the
    at-rest layout every 100 TB ingest pipeline uses to make
    per-category queries O(category), not O(corpus)."""
    import os
    import tempfile

    from cs744_big_data_system_spark.sources.writers import write_parquet

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = os.path.join(tempfile.gettempdir(), f"part_prune_{os.getpid()}")
    write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_PARTITIONED_PRUNE_AGG = """
SELECT user_id, count(*) AS n_clicks,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events WHERE event_type = 'click' GROUP BY user_id
"""


def q_orc_roundtrip_sort(spark, sf_dir):
    """Columnar-at-rest round-trip through the ORC sink/source — exact
    type/value preservation like Parquet, same oracle as the CSV twin
    (the oracle only ever sees the original events table)."""
    import os
    import tempfile

    from cs744_big_data_system_spark.sources.readers import read_orc
    from cs744_big_data_system_spark.sources.writers import write_orc

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = os.path.join(tempfile.gettempdir(), f"orc_roundtrip_{os.getpid()}")
    write_orc(ev, path)
    back = read_orc(spark, path)
    return back.orderBy(F.col("event_type").asc(), F.col("event_id").asc()).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


def q_xml_roundtrip_sort(spark, sf_dir):
    """Same lossless contract as the CSV/JSONL/ORC round-trips but
    through Spark 4's NATIVE XML source (sources/writers.write_xml /
    readers.read_xml): write the events projection as row-tagged XML,
    read it back with a pinned schema, globally sort. XML is the
    fourth interchange format the S-family covers; the oracle never
    sees the XML."""
    import os
    import tempfile

    from cs744_big_data_system_spark.sources.readers import read_xml
    from cs744_big_data_system_spark.sources.writers import write_xml

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = os.path.join(tempfile.gettempdir(), f"xml_roundtrip_{os.getpid()}")
    write_xml(ev, path)
    back = read_xml(
        spark, path,
        schema="event_id long, user_id long, event_type string, value double",
    )
    return back.orderBy(F.col("event_type").asc(), F.col("event_id").asc()).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


# --- §2.9 struct functions: build, field access, inline-explode ---
def q_struct_funcs(spark, sf_dir):
    """Nested STRUCT round-trip: build per-order structs, collect an
    array of them, inline-explode back, project fields — the nested-
    data surface (FIXTURES.md notes the reference has no struct data
    at all)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.round("l_extendedprice", 4).alias("price"),
                )
            )
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.inline("lines"),
    ).select(
        "l_orderkey",
        "n_lines",
        "ln",
        "price",
    )


SQL_STRUCT_FUNCS = """
WITH nested AS (
  SELECT l_orderkey,
         list_sort(list({'ln': l_linenumber, 'price': round(l_extendedprice, 4)})) AS lines
  FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey
)
SELECT l_orderkey, CAST(len(lines) AS INT) AS n_lines,
       u.ln AS ln, u.price AS price
FROM (SELECT l_orderkey, len(lines) AS lines_len, unnest(lines) AS u, lines FROM nested)
"""


# --- §2.9 unpivot / melt (wide → long) ---
def q_unpivot(spark, sf_dir):
    """unpivot (melt): the price-ish measures of lineitem as
    (metric, value) rows — the inverse of pivot_sum, one narrow
    projection with no shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).select(
        "l_orderkey", "l_linenumber", "metric", F.round("value", 4).alias("value")
    )


SQL_UNPIVOT = """
SELECT l_orderkey, l_linenumber, metric, round(value, 4) AS value
FROM (
  UNPIVOT (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
           FROM lineitem WHERE l_orderkey < 500)
  ON l_extendedprice, l_discount, l_tax
  INTO NAME metric VALUE value
)
"""


# --- §2.9 UDTF surface: Python table function (Spark 3.5+) ---
def q_udtf_tokenize(spark, sf_dir):
    """Positional tokenization as a LATERAL Python UDTF — the
    table-function third of the UDF/UDAF/UDTF surface. Python-side
    str.split() matches the engine's whitespace tokenizer exactly.
    Bounded to 50 docs: UDTFs are row-at-a-time Python — the demo is
    the API surface, not a hot path (hot paths use native
    explode/tokens, see functions/text.py)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for i, t in enumerate(text.split()):
                yield i, t

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t"
    )


SQL_UDTF_TOKENIZE = """
SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[i] AS token
FROM (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
  FROM documents WHERE doc_id < 50
), unnest(range(1, len(tk) + 1)) AS u(i)
"""


# --- §2.9 statistical aggregates (corr/covar/stddev/regr/skew) ---
def q_stats_aggs(spark, sf_dir):
    """The statistical-aggregate family per group — all mergeable
    single-pass moments (partial aggregation applies), nothing here
    needs a sort."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.skewness("l_extendedprice"), 6).alias("skew_price"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt_price"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("regr_slope_price_qty"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("regr_icept_price_qty"),
    )


# DuckDB kurtosis is EXCESS kurtosis with bias correction ≠ Spark's
# population-moment kurtosis g2 = m4/m2² − 3; recompute g2 from raw
# moments so both engines use the same estimator (same for skewness
# g1 = m3/m2^1.5).
_SQL_G2 = (
    "(avg(pow(l_extendedprice - sub.mean_p, 4)) / pow(avg(pow(l_extendedprice - sub.mean_p, 2)), 2)) - 3"
)
_SQL_G1 = (
    "avg(pow(l_extendedprice - sub.mean_p, 3)) / pow(avg(pow(l_extendedprice - sub.mean_p, 2)), 1.5)"
)

SQL_STATS_AGGS = f"""
WITH sub AS (
  SELECT l_returnflag AS rf, avg(l_extendedprice) AS mean_p FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(stddev_samp(l_extendedprice), 4) AS std_price,
       round(var_samp(l_discount), 6) AS var_disc,
       round({_SQL_G1}, 6) AS skew_price,
       round({_SQL_G2}, 6) AS kurt_price,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS regr_slope_price_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS regr_icept_price_qty
FROM lineitem JOIN sub ON sub.rf = l_returnflag
GROUP BY l_returnflag
"""


# --- §2.9 window frames: RANGE BETWEEN (value-based frame) ---
def q_range_window(spark, sf_dir):
    """Running count of same-flag line items within a VALUE window of
    the current row's price (rangeBetween on the ordering value, not
    row offsets) — the value-frame half of the window surface."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.col("l_extendedprice").asc())
        .rangeBetween(-10000, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_extendedprice", 4).alias("l_extendedprice"),
        F.count(F.lit(1)).over(w).alias("n_within_10k_below"),
    )


SQL_RANGE_WINDOW = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(l_extendedprice, 4) AS l_extendedprice,
       count(*) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k_below
FROM lineitem WHERE l_orderkey < 2000
"""


# --- deterministic hash sampling (reproducible D1-style sharding) ---
def q_hash_sample(spark, sf_dir):
    """20% sample selected by key hash, not rand(): reproducible across
    runs, clusters, and engines (the property DistributedSampler's
    fixed seed gave the reference, D1/D7) — and joinable: the same
    doc/user lands in the same split everywhere. rand()-sampling can't
    be oracle-checked; hash-sampling is."""
    from cs744_big_data_system_spark.operators.dedup import md5_int60

    ev = _t(spark, sf_dir, "events")
    bucket = F.pmod(md5_int60(F.col("event_id").cast("string")), F.lit(10))
    return (
        ev.withColumn("_b", bucket)
        .filter(F.col("_b") < 2)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


SQL_HASH_SAMPLE = """
SELECT event_type, count(*) AS n_sampled
FROM events
WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 2
GROUP BY event_type
"""


# --- skew mitigation: salted two-phase aggregation ---
def q_salted_agg(spark, sf_dir):
    """Sum of values per event_type (5 hot keys — the fixture's
    skew-in-miniature) through the salted two-phase shuffle
    (operators/skew.py). Result must equal the direct aggregation."""
    from cs744_big_data_system_spark.operators.skew import salted_sum

    ev = _t(spark, sf_dir, "events")
    out = salted_sum(ev, ["event_type"], "value", buckets=16, out_col="sum_value")
    return out.select("event_type", F.round("sum_value", 4).alias("sum_value"))


SQL_SALTED_AGG = """
SELECT event_type, CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_salted_join_agg(spark, sf_dir):
    """Skewed fact ⋈ small dim through the salted broadcast-replicated
    join (operators/skew.py::salted_join): the 5-hot-key event_type
    column joins a derived per-type dim; hot keys spread over 8 salt
    buckets instead of serializing one task. Row multiplicity must be
    exactly the plain join's — the aggregate equals the unsalted oracle."""
    from cs744_big_data_system_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("wt", F.length("event_type").cast("double"))
    )
    joined = salted_join(ev, dim, "event_type", buckets=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("wt")), 4).alias("weighted_sum"),
    )


SQL_SALTED_JOIN_AGG = """
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(value * len(event_type)), 4) AS DOUBLE) AS weighted_sum
FROM events GROUP BY event_type
"""


# --- Ordered conversion funnel over events (view -> click -> purchase) ---
def q_events_funnel(spark, sf_dir):
    """Per-user ordered funnel: first view, first click AFTER that
    view, first purchase AFTER that click; stage = how deep the user
    got. The ordering constraint is what makes this a funnel and not
    three independent mins.

    Scale shape: every aggregation and join is keyed by user_id. At
    test SF the funnel-survivor sides are tiny, so AQE broadcasts them
    (PLANS.md shows 5 broadcast joins); at cluster scale the joins
    degrade gracefully to hash joins co-partitioned on the SAME key,
    so the event table is shuffled on user_id once and the later
    stages reuse that partitioning. No windows over the raw event
    stream, no driver materialization.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    ca = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    pa = (
        ev.filter(F.col("event_type") == "purchase")
        .join(ca, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        fv.join(ca, "user_id", "left")
        .join(pa, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("first_view").alias("first_view_us"),
            F.unix_micros("first_click").alias("first_click_us"),
            F.unix_micros("first_purchase").alias("first_purchase_us"),
            (
                F.lit(1)
                + F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("stage"),
        )
    )


# --- Weekly cohort retention over events ---
def q_events_retention(spark, sf_dir):
    """Classic cohort-retention triangle: users grouped by the week of
    their first event; for each (cohort_week, week_no) the number of
    distinct users still active that many weeks later.

    Scale shape: one user-keyed aggregation for first-event, one join
    back to events on user_id (small side = one row per user — AQE
    broadcasts under threshold, hash-co-partitions above), then a
    count-distinct keyed by (cohort_week, week_no) whose cardinality
    is tiny (weeks², not rows). Week math happens AFTER the join so
    Monday truncation is applied identically to both timestamps.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(first, "user_id")
    weekly = j.select(
        "user_id",
        F.date_trunc("week", F.col("first_ts")).alias("cw"),
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.date_trunc("week", F.col("first_ts")))
            / 7
        ).cast("int").alias("week_no"),
    )
    return (
        weekly.groupBy("cw", "week_no")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"), "week_no", "n_users"
        )
    )


# Both engines truncate weeks to Monday (date_trunc('week')), and the
# day delta between two Monday-truncated stamps is exactly divisible
# by 7, so the integer division is exact in both.
SQL_EVENTS_RETENTION = """
WITH first AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
), weekly AS (
  SELECT e.user_id,
         date_trunc('week', f.first_ts) AS cw,
         CAST(date_diff('day', date_trunc('week', f.first_ts),
                        date_trunc('week', e.ts)) // 7 AS INT) AS week_no
  FROM events e JOIN first f USING (user_id)
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_no,
       count(DISTINCT user_id) AS n_users
FROM weekly GROUP BY 1, 2
"""


# All comparisons in the µs domain: Spark's load_table truncates the
# ns fixture to µs, so filtering on raw ns timestamps here could
# diverge on sub-µs boundaries.
SQL_EVENTS_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), fv AS (
  SELECT user_id, min(us) AS first_view_us FROM ev
  WHERE event_type = 'view' GROUP BY 1
), ca AS (
  SELECT e.user_id, min(e.us) AS first_click_us
  FROM ev e JOIN fv USING (user_id)
  WHERE e.event_type = 'click' AND e.us > fv.first_view_us GROUP BY 1
), pa AS (
  SELECT e.user_id, min(e.us) AS first_purchase_us
  FROM ev e JOIN ca USING (user_id)
  WHERE e.event_type = 'purchase' AND e.us > ca.first_click_us GROUP BY 1
)
SELECT fv.user_id, fv.first_view_us, ca.first_click_us, pa.first_purchase_us,
       CAST(1 + CASE WHEN ca.user_id IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN pa.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
FROM fv
LEFT JOIN ca USING (user_id)
LEFT JOIN pa USING (user_id)
"""


# --- Equi-width histogram (fixed-bin value distribution) ---
def q_histogram_width(spark, sf_dir):
    """Fixed-width value histogram of order totals (bin = floor(x/w))
    — the equi-WIDTH counterpart of quantile_bins' equi-depth deciles;
    integer bin math, one aggregation."""
    from cs744_big_data_system_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    width = 20_000
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / width).cast("long").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * width).cast("long").alias("bin_lo"),
            "n",
        )
    )


SQL_HISTOGRAM_WIDTH = """
SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bin,
       CAST(CAST(floor(o_totalprice / 20000) AS BIGINT) * 20000 AS BIGINT) AS bin_lo,
       count(*) AS n
FROM orders GROUP BY 1
"""


# --- Vector norms over the embedding column (higher-order array fns) ---
def q_embedding_norms(spark, sf_dir):
    """L1/L2/L∞ norms per embedding — all computed with JVM-side
    higher-order array functions (transform + aggregate + array_max),
    zero Python, zero shuffle. Elements are cast to double BEFORE
    multiplication in both engines so the float32 storage cannot
    diverge the accumulation."""
    from cs744_big_data_system_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq = F.aggregate(
        F.transform(as_double, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    l1 = F.aggregate(
        F.transform(as_double, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x
    )
    linf = F.array_max(F.transform(as_double, lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq), 4).alias("l2"),
        F.round(l1, 4).alias("l1"),
        F.round(linf, 4).alias("linf"),
    )


SQL_EMBEDDING_NORMS = """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
       round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4) AS l1,
       round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4) AS linf
FROM embeddings
"""


# --- Clickstream transition matrix (Markov edges with probabilities) ---
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition counts and probabilities over
    each user's time-ordered event sequence (lag within user, then
    one aggregation) — clickstream path analysis; the same edge
    derivation feeds pagerank_events, here surfaced as an analytics
    table with row-normalized probabilities."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wsrc = Window.partitionBy("src")
    return edges.select(
        "src", "dst", "n", F.round(F.col("n") / F.sum("n").over(wsrc), 6).alias("p")
    )


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), edges AS (
  SELECT prev AS src, event_type AS dst, count(*) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, n, round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM edges
"""


# --- Pareto / ABC analysis ---
def q_pareto_abc(spark, sf_dir):
    """Classify parts by cumulative revenue share (A ≤ 80 %, B ≤ 95 %,
    C rest) — the classic Pareto inventory segmentation: one revenue
    aggregation, one ordered running sum over the part totals (|parts|
    rows, not |lineitem|), broadcast-joined total."""
    from cs744_big_data_system_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    total = rev.agg(F.sum("revenue").alias("_total"))
    w = Window.orderBy(F.desc("revenue"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "revenue",
        # round before thresholding: the two engines accumulate the
        # running sum in different orders (sequential vs segment tree),
        # so an unrounded share within float noise of 0.80/0.95 could
        # flip class between engine and oracle.
        F.round(F.sum("revenue").over(w) / F.col("_total"), 9).alias("cum_share"),
    )
    cls = (
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        # cent-level rounding of a ~1e9 float sum is not stable across
        # accumulation orders; report millions instead
        F.round(F.sum("revenue") / 1e6, 4).alias("class_revenue_m"),
    )


SQL_PARETO_ABC = """
WITH rev AS (
  SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, revenue,
         round(sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / (SELECT sum(revenue) FROM rev), 9) AS cum_share
  FROM rev
)
SELECT CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
       count(*) AS n_parts,
       round(sum(revenue) / 1e6, 4) AS class_revenue_m
FROM ranked GROUP BY 1
"""


# --- Deterministic weighted sampling ---
def q_weighted_sample(spark, sf_dir):
    """Sample documents with probability proportional to length
    (quality-weighted corpus sampling) — deterministically: keep doc
    iff md5-uniform(doc_id) < n_chars / max_chars. Reproducible on any
    engine (no rand()), expected rate ∝ weight, and oracle-checkable —
    the properties rand()-based samplers can't give a 100 TB pipeline."""
    from cs744_big_data_system_spark.operators.dedup import md5_int60
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(F.max("n_chars").cast("double").alias("_max_chars"))
    u = (md5_int60(F.col("doc_id").cast("string")) % 1_000_000) / 1_000_000.0
    kept = docs.crossJoin(F.broadcast(stats)).filter(
        u < F.col("n_chars") / F.col("_max_chars")
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


SQL_WEIGHTED_SAMPLE = """
WITH stats AS (SELECT CAST(max(n_chars) AS DOUBLE) AS max_chars FROM documents)
SELECT lang, count(*) AS n_sampled, round(avg(n_chars), 4) AS avg_chars
FROM documents, stats
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000) / 1000000.0
      < n_chars / max_chars
GROUP BY lang
"""


def q_sample_per_group(spark, sf_dir):
    """Exactly-k-per-group sample (5 docs per lang), deterministically:
    rank by md5-uniform(doc_id) inside each group and keep rank ≤ k —
    the reproducible equivalent of per-stratum reservoir sampling. One
    window keyed on the group column (no single-partition funnel), and
    at scale the rank can ride a pre-bucketed layout. Unlike rand()
    reservoirs, re-running yields the same sample — the property a
    100 TB eval-holdout pipeline needs."""
    from cs744_big_data_system_spark.operators.dedup import md5_int60
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    u = md5_int60(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "rn")
    )


SQL_SAMPLE_PER_GROUP = """
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
                    doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 5
"""


# --- CDC log compaction: latest record per key ---
def q_latest_by_key(spark, sf_dir):
    """Upsert-log compaction: keep each user's LATEST event (by ts,
    event_id tie-break) — the materialization step of every CDC/changelog
    consumer. One window shuffle; Spark 4's WindowGroupLimit caps the
    per-key sort at 1 row."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )


SQL_LATEST_BY_KEY = """
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --- Cumulative reach (growth accounting) ---
def q_cumulative_reach(spark, sf_dir):
    """Daily active users + cumulative distinct users by day. The
    cumulative column uses the first-seen-day trick — reduce each user
    to ONE row (their first day), then a running sum over the daily
    new-user counts — instead of a windowed COUNT(DISTINCT), which
    Spark disallows and which would re-scan every prefix at scale."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    dau = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    first_seen = (
        ev.groupBy("user_id")
        .agg(F.min(day).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = dau.join(first_seen, "day", "left")
    return joined.select(
        "day",
        "dau",
        F.sum(F.coalesce("new_users", F.lit(0))).over(w).cast("long").alias("cumulative_users"),
    )


SQL_CUMULATIVE_REACH = """
WITH dau AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
), first_seen AS (
  SELECT day, count(*) AS new_users FROM (
    SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day FROM events GROUP BY 1
  ) GROUP BY 1
)
SELECT d.day, d.dau,
       CAST(sum(coalesce(f.new_users, 0)) OVER (ORDER BY d.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
FROM dau d LEFT JOIN first_seen f ON d.day = f.day
"""


# --- Funnel latency: time-to-convert percentiles per step pair ---
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations of the first 4 embedding
    dimensions — the feature-redundancy screen a pipeline runs before
    training. ALL pairs ride ONE aggregation pass (6 corr aggregates
    in a single map-side-combinable agg — no per-pair rescans), then a
    constant-size unpivot to (d1, d2, pearson) rows."""
    from cs744_big_data_system_spark.sources.readers import load_table

    dims = 4
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("_e")
    )
    pairs = [(a, b) for a in range(dims) for b in range(a + 1, dims)]
    agg = emb.agg(
        *[
            F.round(
                F.corr(F.element_at("_e", a + 1), F.element_at("_e", b + 1)), 6
            ).alias(f"c_{a}_{b}")
            for a, b in pairs
        ]
    )
    stack = ", ".join(f"{a}, {b}, c_{a}_{b}" for a, b in pairs)
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (d1, d2, pearson)"
    )


def _sql_corr_matrix(dims: int = 4) -> str:
    pairs = [(a, b) for a in range(dims) for b in range(a + 1, dims)]
    cols = ", ".join(
        f"round(corr(CAST(embedding[{a + 1}] AS DOUBLE), CAST(embedding[{b + 1}] AS DOUBLE)), 6)"
        f" AS c_{a}_{b}"
        for a, b in pairs
    )
    un = " UNION ALL ".join(
        f"SELECT {a} AS d1, {b} AS d2, c_{a}_{b} AS pearson FROM agg" for a, b in pairs
    )
    return f"WITH agg AS (SELECT {cols} FROM embeddings)\n{un}"


SQL_CORR_MATRIX = _sql_corr_matrix()


def q_robust_stats(spark, sf_dir):
    """Outlier-resistant per-group statistics: median, MAD (median of
    absolute deviations from the group median — the robust sigma), and
    IQR. Two exact-percentile passes: group medians first, joined back
    for the deviation percentile — the join rides the same event_type
    partitioning. Exact percentile buffers a group's values in the
    agg, so at true scale approx_percentile (already a registry entry)
    is the drop-in; both engines' exact interpolating percentile agree
    (the `percentile` entry proves it), which makes the robust family
    hash-checkable where rand()-free z-scores (anomaly_zscore) cover
    the parametric side."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("_med"),
        F.percentile("value", 0.25).alias("_q1"),
        F.percentile("value", 0.75).alias("_q3"),
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "_med", "_q1", "_q3")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("_med")), 0.5).alias("_mad")
        )
        .select(
            "event_type",
            F.round("_med", 6).alias("median_value"),
            F.round("_mad", 6).alias("mad"),
            F.round(F.col("_q3") - F.col("_q1"), 6).alias("iqr"),
        )
    )


SQL_ROBUST_STATS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1
)
SELECT e.event_type,
       round(m.med, 6) AS median_value,
       round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
       round(m.q3 - m.q1, 6) AS iqr
FROM events e JOIN med m ON m.event_type = e.event_type
GROUP BY e.event_type, m.med, m.q1, m.q3
"""


def q_events_ewma(spark, sf_dir):
    """Per-user EWMA of event values (α=0.3, recursive y_t =
    0.7·y_{t−1} + 0.3·x_t) — computed as ONE ordered window via the
    prefix-sum identity instead of a sequential recurrence
    (operators/timeseries.ewma), so the classic 'inherently serial'
    smoothing parallelizes per key like running_sum. Hash-checked."""
    from cs744_big_data_system_spark.operators.timeseries import ewma
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    out = ewma(ev, "user_id", "ts", "value", alpha=0.3, order_tiebreak="event_id")
    return out.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "ewma"
    )


SQL_EVENTS_EWMA = """
WITH base AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
  FROM events
), terms AS (
  SELECT user_id, ts, event_id, i,
         CASE WHEN i = 0 THEN value ELSE 0.3 * value * pow(0.7, -i) END AS term
  FROM base
)
SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       floor(sum(term) OVER (PARTITION BY user_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * pow(0.7, i) * 10000 + 0.5 + 1e-9) / 10000 AS ewma
FROM terms
"""


def q_udf_grouped_ols(spark, sf_dir):
    """Per-event-type OLS (value on props.k) via grouped-map
    applyInPandas — each group's slice crosses to Python as ONE Arrow
    batch, the closed-form fit runs vectorized, one row returns per
    group. Completes the Pandas-UDF API family (grouped-agg, mapInPandas,
    mapInArrow, applyInPandasWithState are exercised elsewhere) while
    staying oracle-checkable: the closed form IS SQL's
    regr_slope/regr_intercept/regr_r2."""
    from cs744_big_data_system_spark.operators.grouped_pandas import per_group_ols
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return per_group_ols(ev, "event_type", "x", "y")


SQL_UDF_GROUPED_OLS = """
SELECT event_type,
       count(*) AS n_obs,
       round(regr_slope(value, k), 6) AS slope,
       round(regr_intercept(value, k), 6) AS intercept,
       round(regr_r2(value, k), 6) AS r2
FROM (SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k,
             value
      FROM events)
GROUP BY event_type
"""


def q_table_transpose(spark, sf_dir):
    """Spark 4's DataFrame.transpose over a BOUNDED aggregate: per-flag
    lineitem stats (3 rows) flipped so metrics become rows and flags
    become columns — the report-layout step after an aggregation.
    transpose() materializes the first column driver-side for the new
    column names, so it is only legal on already-aggregated bounded
    tables (3 rows here); the oracle rebuilds the same layout with
    conditional aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    stats = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )
    return stats.transpose()


SQL_TABLE_TRANSPOSE = """
WITH s AS (
  SELECT l_returnflag AS f,
         round(sum(l_quantity), 2) AS sq,
         round(avg(l_extendedprice), 4) AS ap
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key,
       max(CASE WHEN f = 'A' THEN sq END) AS A,
       max(CASE WHEN f = 'N' THEN sq END) AS N,
       max(CASE WHEN f = 'R' THEN sq END) AS R
FROM s
UNION ALL
SELECT 'avg_price',
       max(CASE WHEN f = 'A' THEN ap END),
       max(CASE WHEN f = 'N' THEN ap END),
       max(CASE WHEN f = 'R' THEN ap END)
FROM s
"""


def q_sql_scripting(spark, sf_dir):
    """Spark 4 SQL scripting (BEGIN…END with DECLARE/SET/IF): a
    scripted control-flow block classifies total order volume — the
    procedural-SQL surface warehouse users migrate stored procedures
    onto. The script's result is a plain aggregate + CASE, so the API
    demo stays hash-checked against a one-statement oracle."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    return spark.sql(
        """
        BEGIN
          DECLARE total DOUBLE DEFAULT 0;
          DECLARE n BIGINT DEFAULT 0;
          DECLARE volume_class STRING DEFAULT 'low';
          SET total = (SELECT round(sum(o_totalprice), 2) FROM script_orders);
          SET n = (SELECT count(*) FROM script_orders);
          IF total / n > 100000 THEN
            SET volume_class = 'high';
          ELSE
            SET volume_class = 'low';
          END IF;
          SELECT total AS total_price, n AS n_orders, volume_class,
                 round(total / n, 4) AS avg_order;
        END
        """
    )


SQL_SQL_SCRIPTING = """
SELECT round(sum(o_totalprice), 2) AS total_price,
       CAST(count(*) AS BIGINT) AS n_orders,
       CASE WHEN round(sum(o_totalprice), 2) / count(*) > 100000
            THEN 'high' ELSE 'low' END AS volume_class,
       round(round(sum(o_totalprice), 2) / count(*), 4) AS avg_order
FROM orders
"""


def q_udf_cogroup_arrow(spark, sf_dir):
    """Per-order fill reconciliation via cogroup().applyInArrow
    (operators/grouped_pandas.cogrouped_arrow_order_fill) — the LAST
    cell of the Pandas/Arrow UDF matrix; both per-key slices arrive as
    raw pyarrow Tables, all math in pyarrow.compute kernels.
    Relationally a join+agg, so the API demo hash-checks against a
    plain SQL oracle; run on a 1-in-100 key subsample (per-order
    groups are ~10x finer than the asof demo's per-user ones) to keep
    the per-key Python round-trip cost bounded."""
    from cs744_big_data_system_spark.operators.grouped_pandas import (
        cogrouped_arrow_order_fill,
    )
    from cs744_big_data_system_spark.sources.readers import load_table

    # 1-in-100 keys: the per-ORDER grouping is far finer than the
    # asof demo's per-user one (15k cogroups at sf0.1 — each paying the
    # Python round-trip), so the API demo bounds harder to stay ~0.5s
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 7)
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 7
    )
    return cogrouped_arrow_order_fill(orders, lineitem)


SQL_UDF_COGROUP_ARROW = """
SELECT o_orderkey, o_totalprice,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS net_revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey % 100 = 7
GROUP BY o_orderkey, o_totalprice
"""


def q_udf_cogroup_asof(spark, sf_dir):
    """Per-user as-of match (each purchase to the user's latest click
    ≤ 30 min before) via cogroup().applyInPandas — both sides' per-key
    slices arrive together as two pandas frames, matched by a
    vectorized searchsorted. The cogrouped-map API surface, with the
    window-join oracle the as-of family already uses.

    This entry exists to exercise (and attest) the cogroup API path;
    operators/relational.asof_join is the production as-of plan. The
    cogroup-Python machinery has an inherent per-key round-trip cost
    (a no-op cogroup reproduces it), so the demo runs on a 1-in-10
    deterministic user subsample — same plan shape, ~1/10 the Arrow
    traffic — instead of dominating the bench at full fan-in."""
    from cs744_big_data_system_spark.operators.grouped_pandas import (
        cogrouped_asof_match,
    )
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 7
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return cogrouped_asof_match(
        purchases, clicks, "user_id", "ts", "purchase_id", "click_id", max_gap_s=1800
    )


SQL_UDF_COGROUP_ASOF = """
WITH sub AS (
  SELECT * FROM events WHERE user_id % 10 = 7
), p AS (
  SELECT user_id, ts, event_id AS purchase_id FROM sub WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, event_id AS click_id FROM sub WHERE event_type = 'click'
), m AS (
  SELECT p.user_id, p.purchase_id, c.click_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.ts DESC, c.click_id DESC) AS rn
  FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT user_id, purchase_id, click_id,
       CAST(gap_us // 1000000 AS BIGINT) AS gap_s
FROM m WHERE rn = 1 AND gap_us <= 1800 * 1000000
"""


def q_anomaly_zscore(spark, sf_dir):
    """Trailing-window anomaly detection: each event's value scored
    against the mean/stddev of the SAME user's previous 20 events
    (rows frame, strictly before the current row — no leakage), flag
    |z| ≥ 2. One window pass keyed on user_id — the shuffle is the
    per-user repartition and nothing else; at scale the frame holds 20
    rows per position regardless of history length. z is rounded to
    6 dp BEFORE thresholding on both engines so accumulation-order
    noise (segment-tree vs streaming frame sums) cannot flip a
    boundary row."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    mean = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = F.round((F.col("value") - mean) / sd, 6)
    return (
        ev.select("event_id", "user_id", "value", F.when(sd > 0, z).alias("z"))
        .filter(F.abs(F.col("z")) >= 2.0)
        .select("event_id", "user_id", F.round("value", 6).alias("value"), "z")
    )


SQL_ANOMALY_ZSCORE = """
WITH scored AS (
  SELECT event_id, user_id, value,
         round((value - avg(value) OVER w) /
               nullif(stddev_samp(value) OVER w, 0), 6) AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, round(value, 6) AS value, z
FROM scored WHERE abs(z) >= 2.0
"""


def q_funnel_latency(spark, sf_dir):
    """Median and p90 seconds from each user's first 'view' to their
    first 'purchase' (ordered conversion only) — the latency half of
    the funnel family (events_funnel counts conversions; this measures
    them). Two tiny per-user aggregates joined on the user key."""
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    lat = firsts.filter(
        F.col("t_view").isNotNull() & (F.col("t_buy") > F.col("t_view"))
    ).select(
        ((F.unix_micros("t_buy") - F.unix_micros("t_view")) / 1e6).alias("sec")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(sec, 0.5)"), 4).alias("p50_sec"),
        F.round(F.expr("percentile(sec, 0.9)"), 4).alias("p90_sec"),
    )


SQL_FUNNEL_LATENCY = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY 1
), lat AS (
  SELECT (epoch_us(t_buy) - epoch_us(t_view)) / 1e6 AS sec
  FROM firsts WHERE t_view IS NOT NULL AND t_buy > t_view
)
SELECT count(*) AS n_converted,
       round(quantile_cont(sec, 0.5), 4) AS p50_sec,
       round(quantile_cont(sec, 0.9), 4) AS p90_sec
FROM lat
"""


# --- Blocked fuzzy matching (entity resolution) ---
def q_fuzzy_match(spark, sf_dir):
    """Candidate duplicate entities: customer-name pairs within edit
    distance ≤ 2, blocked by nation so the self-join is
    O(block²·blocks), never O(n²) — the classic blocking+distance
    entity-resolution shape (same blocking discipline as the dedup
    family's lang blocks). levenshtein is identical in Spark and
    DuckDB, so the whole match set is hash-checked."""
    from cs744_big_data_system_spark.sources.readers import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a, b = cust.alias("a"), cust.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


SQL_FUZZY_MATCH = """
SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


# --- Equi-depth binning (feature bucketization) ---
def q_quantile_bins(spark, sf_dir):
    """Decile assignment of orders by price within each priority via
    ntile — the feature-bucketization op (equi-depth histograms, rank
    features); one window pass, bins carry equal row counts by
    construction."""
    from cs744_big_data_system_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    binned = orders.select(
        "o_orderpriority", F.ntile(10).over(w).alias("decile"), "o_totalprice"
    )
    return binned.groupBy("o_orderpriority", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


SQL_QUANTILE_BINS = """
SELECT o_orderpriority, decile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY 1, 2
"""


# --- Feature scaling: min-max + z-score within group ---
def q_feature_scale(spark, sf_dir):
    """Per-group feature normalization — min-max to [0,1] and z-score
    of order price within each priority, the standard pre-model
    transforms. Group stats ride ONE window partitioning (no second
    scan); sample stddev matches DuckDB's stddev_samp."""
    from cs744_big_data_system_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    mn, mx = F.min("o_totalprice").over(w), F.max("o_totalprice").over(w)
    mu, sd = F.avg("o_totalprice").over(w), F.stddev_samp("o_totalprice").over(w)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round((F.col("o_totalprice") - mn) / (mx - mn), 6).alias("minmax"),
        F.round((F.col("o_totalprice") - mu) / sd, 6).alias("zscore"),
    )


SQL_FEATURE_SCALE = """
SELECT o_orderkey, o_orderpriority,
       round((o_totalprice - min(o_totalprice) OVER w)
             / (max(o_totalprice) OVER w - min(o_totalprice) OVER w), 6) AS minmax,
       round((o_totalprice - avg(o_totalprice) OVER w)
             / stddev_samp(o_totalprice) OVER w, 6) AS zscore
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority)
"""


# --- Market-basket affinity: co-purchase pairs with support + lift ---
def q_basket_affinity(spark, sf_dir):
    """Part pairs co-occurring in the same order, with support and
    lift — the classic affinity/recommendation workload. The pair
    generator is a self-join on l_orderkey with p1 < p2, so fan-out
    per order is C(order_size, 2) — bounded by basket size, never by
    catalog or order count; per-part totals join back as broadcasts.
    Filtered to pairs seen ≥ 3 times to keep the result stable."""
    from cs744_big_data_system_spark.sources.readers import load_table

    # coalesce marks both keys NON-NULLABLE (they never are null in
    # lineitem), so the self-join and the broadcast count joins infer
    # no isnotnull() filters below the distinct's exchange — all four
    # consumers of ``items`` (a, b, part_cnt, total) then canonicalize
    # identically and AQE reuses ONE scan + distinct exchange instead
    # of re-scanning lineitem per consumer (r11 plan audit: 5 scans).
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.coalesce("l_orderkey", F.lit(-1)).alias("l_orderkey"),
            F.coalesce("l_partkey", F.lit(-1)).alias("l_partkey"),
        )
        .distinct()
    )
    # order total as a broadcast 1-row aggregate, not a driver count —
    # the whole query stays one lazy plan
    total = items.agg(F.countDistinct("l_orderkey").cast("double").alias("_n_orders"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    part_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    return (
        pairs.join(
            F.broadcast(part_cnt.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(part_cnt.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "p1",
            "p2",
            "n_co",
            F.round(
                F.col("n_co") * F.col("_n_orders") / (F.col("c1") * F.col("c2")), 6
            ).alias("lift"),
        )
    )


SQL_BASKET_AFFINITY = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_co
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
), part_cnt AS (
  SELECT l_partkey, count(*) AS c FROM items GROUP BY 1
), total AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM items
)
SELECT p.p1, p.p2, p.n_co,
       round(p.n_co * (SELECT CAST(n AS DOUBLE) FROM total) / (c1.c * c2.c), 6) AS lift
FROM pairs p
JOIN part_cnt c1 ON c1.l_partkey = p.p1
JOIN part_cnt c2 ON c2.l_partkey = p.p2
"""


# --- Referential-integrity audit: FK orphan counts via anti-joins ---
def q_fk_orphans(spark, sf_dir):
    """Orphan counts for every foreign-key edge of the star schema —
    the data-quality gate run before trusting any join: each check is
    one left-anti join (broadcast dim where small), emitting one row
    per relationship."""
    from cs744_big_data_system_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")

    def audit(child, ckey, parent, pkey, label):
        orphans = child.join(
            parent.select(F.col(pkey).alias("_pk")),
            child[ckey] == F.col("_pk"),
            "left_anti",
        )
        return orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans")).select(
            F.lit(label).alias("fk"), "n_orphans"
        )

    return (
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(audit(orders, "o_custkey", cust, "c_custkey", "orders->customer"))
        .unionByName(audit(cust, "c_nationkey", nation, "n_nationkey", "customer->nation"))
        .unionByName(audit(ev, "user_id", cust, "c_custkey", "events->customer"))
        .unionByName(audit(cust, "c_custkey", orders, "o_custkey", "customer<-orders(reverse)"))
    )


SQL_FK_ORPHANS = """
SELECT 'lineitem->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders->customer', CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer->nation', CAST(count(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
UNION ALL
SELECT 'events->customer', CAST(count(*) AS BIGINT)
FROM events e WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
UNION ALL
SELECT 'customer<-orders(reverse)', CAST(count(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --- Distribution window functions: percent_rank / cume_dist / nth_value ---
def q_window_dist(spark, sf_dir):
    """The §2.9 window-family stragglers: relative-position functions
    over the per-priority price ordering. nth_value uses the default
    running frame (unbounded preceding → current row) in both engines;
    the unique o_orderkey tie-break makes RANGE ≡ ROWS."""
    from cs744_big_data_system_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


SQL_WINDOW_DIST = """
SELECT o_orderpriority, o_orderkey,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       nth_value(o_orderkey, 2) OVER w AS second_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


# --- Column-level data profiling ---
def q_table_profile(spark, sf_dir):
    """Per-column profile (rows, nulls, distincts, min/max) over a mix
    of string and integer columns — the pre-ingest sanity report every
    pipeline runs; one aggregation per column, unioned. Numeric
    min/max are surfaced as strings so one schema fits all columns."""
    from cs744_big_data_system_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")

    def prof(df, col, label):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(col).cast("string").alias("min_val"),
            F.max(col).cast("string").alias("max_val"),
        ).select(F.lit(label).alias("column"), "*")

    return (
        prof(orders, "o_orderstatus", "orders.o_orderstatus")
        .unionByName(prof(orders, "o_orderpriority", "orders.o_orderpriority"))
        .unionByName(prof(orders, "o_custkey", "orders.o_custkey"))
        .unionByName(prof(events, "event_type", "events.event_type"))
        .unionByName(prof(events, "user_id", "events.user_id"))
    )


SQL_TABLE_PROFILE = """
SELECT 'orders.o_orderstatus' AS "column", count(*) AS n_rows,
       CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_nulls,
       count(DISTINCT o_orderstatus) AS n_distinct,
       CAST(min(o_orderstatus) AS VARCHAR) AS min_val, CAST(max(o_orderstatus) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'orders.o_orderpriority', count(*), CAST(count(*) - count(o_orderpriority) AS BIGINT),
       count(DISTINCT o_orderpriority), CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'orders.o_custkey', count(*), CAST(count(*) - count(o_custkey) AS BIGINT),
       count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'events.event_type', count(*), CAST(count(*) - count(event_type) AS BIGINT),
       count(DISTINCT event_type), CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM events
UNION ALL
SELECT 'events.user_id', count(*), CAST(count(*) - count(user_id) AS BIGINT),
       count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
"""


def q_udf_grouped_arrow(spark, sf_dir):
    """Grouped-map applyInArrow (raw RecordBatch in, Table out — the
    zero-pandas Arrow UDF surface): per-lang document stats computed
    entirely in pyarrow.compute kernels, oracle = plain SQL
    aggregates. With this, every Pandas/Arrow UDF API (scalar,
    grouped-agg, grouped-map pandas, cogrouped-map, mapInPandas,
    mapInArrow, applyInPandasWithState, applyInArrow) is exercised and
    oracle- or equivalence-checked."""
    from cs744_big_data_system_spark.operators.grouped_pandas import (
        per_group_arrow_stats,
    )
    from cs744_big_data_system_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    return per_group_arrow_stats(docs, group_col="lang").orderBy("group")


SQL_UDF_GROUPED_ARROW = """
SELECT lang AS group, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(sum(n_chars) * 1.0 / count(*), 6) AS mean_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


WORKLOADS = {
    "events_funnel": (q_events_funnel, SQL_EVENTS_FUNNEL),
    "window_dist": (q_window_dist, SQL_WINDOW_DIST),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
    "fk_orphans": (q_fk_orphans, SQL_FK_ORPHANS),
    "basket_affinity": (q_basket_affinity, SQL_BASKET_AFFINITY),
    "fuzzy_match": (q_fuzzy_match, SQL_FUZZY_MATCH),
    "quantile_bins": (q_quantile_bins, SQL_QUANTILE_BINS),
    "feature_scale": (q_feature_scale, SQL_FEATURE_SCALE),
    "latest_by_key": (q_latest_by_key, SQL_LATEST_BY_KEY),
    "cumulative_reach": (q_cumulative_reach, SQL_CUMULATIVE_REACH),
    "funnel_latency": (q_funnel_latency, SQL_FUNNEL_LATENCY),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "pareto_abc": (q_pareto_abc, SQL_PARETO_ABC),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "sample_per_group": (q_sample_per_group, SQL_SAMPLE_PER_GROUP),
    "anomaly_zscore": (q_anomaly_zscore, SQL_ANOMALY_ZSCORE),
    "events_ewma": (q_events_ewma, SQL_EVENTS_EWMA),
    "robust_stats": (q_robust_stats, SQL_ROBUST_STATS),
    "corr_matrix": (q_corr_matrix, SQL_CORR_MATRIX),
    "udf_grouped_ols": (q_udf_grouped_ols, SQL_UDF_GROUPED_OLS),
    "udf_grouped_arrow": (q_udf_grouped_arrow, SQL_UDF_GROUPED_ARROW),
    "udf_cogroup_asof": (q_udf_cogroup_asof, SQL_UDF_COGROUP_ASOF),
    "udf_cogroup_arrow": (q_udf_cogroup_arrow, SQL_UDF_COGROUP_ARROW),
    "table_transpose": (q_table_transpose, SQL_TABLE_TRANSPOSE),
    "sql_scripting": (q_sql_scripting, SQL_SQL_SCRIPTING),
    "histogram_width": (q_histogram_width, SQL_HISTOGRAM_WIDTH),
    "embedding_norms": (q_embedding_norms, SQL_EMBEDDING_NORMS),
    "events_retention": (q_events_retention, SQL_EVENTS_RETENTION),
    "join_full_outer": (q_join_full_outer, SQL_JOIN_FULL_OUTER),
    "join_cross": (q_join_cross, SQL_JOIN_CROSS),
    "percentile": (q_percentile, SQL_PERCENTILE),
    "approx_percentile": (q_approx_percentile, None),  # sketch: not bit-reproducible

    "math_funcs": (q_math_funcs, SQL_MATH_FUNCS),
    "map_funcs": (q_map_funcs, SQL_MAP_FUNCS),
    "first_last": (q_first_last, SQL_FIRST_LAST),
    "pivot_sum": (q_pivot_sum, SQL_PIVOT_SUM),
    "set_ops_all": (q_set_ops_all, SQL_SET_OPS_ALL),
    "udaf_weighted_mean": (q_udaf_weighted_mean, SQL_UDAF_WEIGHTED_MEAN),
    "udtf_tokenize": (q_udtf_tokenize, SQL_UDTF_TOKENIZE),
    "struct_funcs": (q_struct_funcs, SQL_STRUCT_FUNCS),
    "unpivot": (q_unpivot, SQL_UNPIVOT),
    "csv_roundtrip_sort": (q_csv_roundtrip_sort, SQL_CSV_ROUNDTRIP_SORT),
    "jsonl_roundtrip_sort": (q_jsonl_roundtrip_sort, SQL_CSV_ROUNDTRIP_SORT),
    "jsonl_sink_roundtrip": (q_jsonl_sink_roundtrip, SQL_JSONL_SINK_ROUNDTRIP),
    "orc_roundtrip_sort": (q_orc_roundtrip_sort, SQL_CSV_ROUNDTRIP_SORT),
    "xml_roundtrip_sort": (q_xml_roundtrip_sort, SQL_CSV_ROUNDTRIP_SORT),
    "partitioned_prune_agg": (q_partitioned_prune_agg, SQL_PARTITIONED_PRUNE_AGG),
    "salted_agg": (q_salted_agg, SQL_SALTED_AGG),
    "salted_join_agg": (q_salted_join_agg, SQL_SALTED_JOIN_AGG),
    "hash_sample": (q_hash_sample, SQL_HASH_SAMPLE),
    "stats_aggs": (q_stats_aggs, SQL_STATS_AGGS),
    "range_window": (q_range_window, SQL_RANGE_WINDOW),
}
