"""Sources: parquet table loader, CSV/text/JSON scans, edge-list parsing.

Covers SURVEY.md §2.1 S1-S4, S7:
  S1 CSV scan w/ header + schema inference  (reference assignment1/part2/task.py:22)
  S2 text-line scan incl. directory globs    (assignment1/part3/task1/task1.py:26)
  S3 filesystem connector (any Hadoop FS URI: file://, hdfs://, s3a://)
  S4 binary dataset source (binaryFile → ASSET_SCHEMA; decode plumbing
     in operators/multimodal.py)
  S7 parametrized I/O paths (every function takes explicit paths)

The engine standardizes on Parquet (columnar at rest, vectorized scan,
predicate/column pushdown); CSV and text remain supported sources for
parity with the reference.

Parquet schemas: ``load_table`` (and ``parquet_schema`` for the stream
sources) takes a local file's schema from its footer, read on the
driver with pyarrow, and hands it to the reader, so building a scan
starts no Spark job. Spark still infers the schema itself — a one-task
job per call — for a directory (partitioned or multi-file tables), a
non-local URI (HDFS, S3) or a column type the footer mapping does not
cover.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

#: Driver-fixture tables (TESTDATA.md) — one parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Vectorized Parquet scan of one fixture table.

    Filters/projections composed on the returned DataFrame reach the
    scan (PushedFilters / ReadSchema in .explain) — never pre-collect.

    The schema comes from the file's footer, read on the driver
    (``_footer_schema``), so building the scan starts no Spark job.
    Spark still infers it — one job per call — for a directory, a
    non-local URI or a column type the footer mapping does not cover.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark has no native
    type for — read it as nanosecond longs (legacy.parquet.nanosAsLong,
    runtime-settable so any driver-created session works) and truncate
    to microseconds, bit-identical to DuckDB's ns→µs cast
    (SURVEY.md §7 risk 4).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would have, for callers
    that need only the schema (a file-stream source): from the footer
    when ``_footer_schema`` can map it, else from Spark's inference."""
    schema = _footer_schema(spark, path)
    return spark.read.parquet(path).schema if schema is None else schema


#: Key under which Spark's parquet writer stores the row schema as JSON.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark would infer for one local parquet file, read
    from its footer on the driver — or None where only Spark's own
    inference is right.

    Spark infers a parquet schema with a one-task job that reads the
    footer (``mergeSchemasInParallel``, even for a single file); on a
    warm local session that job is most of the cost of building a scan
    of a small table. This mirrors ``readSchemaFromFooter``:

    - a Spark-written file carries its row schema as JSON under
      ``org.apache.spark.sql.parquet.row.metadata``, which wins;
    - any other file maps each parquet leaf column the way Spark's
      ``ParquetToSparkSchemaConverter`` does, with the nesting (struct,
      list, map) taken from pyarrow's view of the same schema.

    Every field comes back nullable, as Spark makes every field of a
    file source. None for a directory (partitioned or multi-file
    datasets), a non-local URI, an unreadable file, or any column type
    outside the mapping (TIME, FLOAT16, UUID, INTERVAL, decimals over
    38 digits, nanosecond timestamps without ``nanosAsLong``, ...): the
    caller then lets Spark infer, and Spark raises its own errors.
    """
    import pyarrow.parquet as pq

    uri = urlparse(path)
    if uri.scheme not in ("", "file"):
        return None
    local = unquote(uri.path) if uri.scheme else path
    if not os.path.isfile(local):
        return None
    try:
        with pq.ParquetFile(local) as pf:
            meta, arrow_schema = pf.metadata, pf.schema_arrow
        spark_json = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
        if spark_json is not None:
            return StructType.fromJson(_all_nullable(json.loads(spark_json)))
        leaves = iter(meta.schema.column(i) for i in range(meta.num_columns))
        fields = [StructField(f.name, _spark_type(f.type, leaves, spark)) for f in arrow_schema]
    except (OSError, ValueError, KeyError):
        # Not parquet, a footer pyarrow cannot read, or a column type
        # outside the mapping (ValueError from _spark_type/_leaf_type).
        return None
    if next(leaves, None) is not None:
        return None
    return StructType(fields)


def _all_nullable(node):
    """Spark-JSON schema with every field, element and map value
    nullable (Spark's ``asNullable``); field metadata is kept as is."""
    if isinstance(node, list):
        return [_all_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else v if k == "metadata"
        else _all_nullable(v)
        for k, v in node.items()
    }


def _spark_type(at, leaves, spark: SparkSession) -> DataType:
    """Spark type of one pyarrow field type; each primitive consumes the
    next parquet leaf column, in the footer's depth-first order."""
    import pyarrow as pa
    import pyarrow.types as pat

    if pat.is_struct(at):
        return StructType(
            [StructField(f.name, _spark_type(f.type, leaves, spark)) for f in at]
        )
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return ArrayType(_spark_type(at.value_type, leaves, spark))
    if pat.is_map(at):
        key = _spark_type(at.key_type, leaves, spark)
        return MapType(key, _spark_type(at.item_type, leaves, spark))
    col = next(leaves, None)
    if col is None or isinstance(at, pa.ExtensionType):
        raise ValueError(f"unmapped parquet column type {at}")
    return _leaf_type(col, spark)


#: Spark types of parquet physical types that carry no logical type.
_UNANNOTATED = {
    "BOOLEAN": BooleanType(),
    "INT32": IntegerType(),
    "INT64": LongType(),
    "FLOAT": FloatType(),
    "DOUBLE": DoubleType(),
    "FIXED_LEN_BYTE_ARRAY": BinaryType(),
}


def _leaf_type(col, spark: SparkSession) -> DataType:
    """Spark type of one parquet leaf column (``ColumnSchema``), after
    Spark's ``ParquetToSparkSchemaConverter.convertPrimitiveField``."""

    def conf(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Decimal":
        if col.precision > 38:
            raise ValueError("decimal precision over 38")
        return DecimalType(col.precision, col.scale)
    if kind == "None":
        if physical == "BYTE_ARRAY":
            binary_as_string = conf("spark.sql.parquet.binaryAsString", "false")
            return StringType() if binary_as_string else BinaryType()
        if physical == "INT96" and conf("spark.sql.parquet.int96AsTimestamp", "true"):
            return TimestampType()
        if physical in _UNANNOTATED:
            return _UNANNOTATED[physical]
    elif kind in ("String", "Enum", "JSON") and physical == "BYTE_ARRAY":
        return StringType()
    elif kind == "Date" and physical == "INT32":
        return DateType()
    elif kind == "Int" and physical in ("INT32", "INT64"):
        width, signed = logical["bitWidth"], logical["isSigned"]
        if signed:
            return {8: ByteType(), 16: ShortType(), 32: IntegerType(), 64: LongType()}[width]
        if width == 64:
            return DecimalType(20, 0)
        return {8: ShortType(), 16: IntegerType(), 32: LongType()}[width]
    elif kind == "Timestamp" and physical == "INT64":
        if logical["timeUnit"] == "nanoseconds":
            if conf("spark.sql.legacy.parquet.nanosAsLong", "false"):
                return LongType()
            raise ValueError("TIMESTAMP(NANOS) without nanosAsLong")
        if not logical["isAdjustedToUTC"] and conf(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
        ):
            return TimestampNTZType()
        return TimestampType()
    raise ValueError(f"unmapped parquet column type {physical} {kind}")


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Fixture ``ts`` → session-tz TIMESTAMP (no-op if already one).

    Handles both fixture generations: ns-epoch bigint (early testdata)
    and TIMESTAMP_NTZ (current testdata).  The NTZ→TIMESTAMP cast is a
    wall-clock identity under the engine's pinned UTC session timezone
    (session.py) and is required because event-time operators
    (withWatermark, streaming window state) accept only TIMESTAMP.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables as a dict; each is a lazy scan, so loading all
    ten costs nothing until an action runs."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
) -> DataFrame:
    """CSV scan, reference parity (assignment1/part2/task.py:22).

    ``inferSchema=True`` costs an extra eager pass over the file — at
    100 TB always pass an explicit ``schema`` instead (one job saved).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.csv(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Text-line scan; ``path`` may be a file, directory, or glob
    (reference reads whole HDFS dirs — assignment1/part3/task1/task1.sh:7)."""
    return spark.read.text(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan; explicit schema avoids the inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — native columnar source with the same pushdown /
    pruning behavior as Parquet."""
    return spark.read.orc(path)


#: File-extension → (modality, mime) for the binary asset source.
_EXT_MODALITY = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "bmp": ("image", "image/bmp"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "flac": ("audio", "audio/flac"),
    "mp4": ("video", "video/mp4"),
    "mkv": ("video", "video/x-matroska"),
    "webm": ("video", "video/webm"),
}


def read_binary_assets(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    default_modality: str = "image",
) -> DataFrame:
    """S4: directory of raw media files → multimodal ASSET_SCHEMA table
    (reference parity: the CIFAR-10 binary dataset pipeline,
    assignment2/part1/main.py:76-95).

    Uses ``spark.read.format("binaryFile")`` — a real distributed
    source (splittable listing, per-file tasks, partition-prunable by
    path) — so pointing the engine at a 100 TB media lake needs no
    driver-side file walk. Columns map into
    operators/multimodal.ASSET_SCHEMA: asset_id is the 60-bit md5 of
    the file path (stable across runs and listing order), modality/mime
    derive from the extension, and the intrinsic width/height/duration
    metadata stays NULL until the decode step fills it in
    (extract_features runs on this table unchanged).
    """
    from cs744_big_data_system_spark.operators.dedup import md5_int60

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality_expr = F.lit(default_modality)
    mime_expr = F.lit("application/octet-stream")
    # Build the extension dispatch as a chain of when()s — stays in
    # whole-stage codegen, no Python per row.
    for e, (modality, mime) in _EXT_MODALITY.items():
        modality_expr = F.when(ext == e, modality).otherwise(modality_expr)
        mime_expr = F.when(ext == e, mime).otherwise(mime_expr)
    return raw.select(
        md5_int60(F.col("path")).alias("asset_id"),
        modality_expr.alias("modality"),
        F.col("content").alias("payload"),
        mime_expr.alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def read_edge_list(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    comment_prefix: str = "#",
) -> DataFrame:
    """SNAP-style edge list → DataFrame(src: string, dst: string).

    Reference parsing semantics (assignment1/part3/task1/task1.py:26-31):
    comment lines dropped, line split on tab, node ids kept as raw
    strings (never cast to int). Expressed as native Column ops, so the
    whole parse runs JVM-side in one codegen stage — the reference did
    this with three Python lambdas, paying the Python-worker boundary
    per task.
    """
    lines = read_text(spark, path)
    parts = F.split(F.col("value"), sep)
    return (
        lines.filter(~F.col("value").startswith(comment_prefix))
        .filter(F.length(F.trim(F.col("value"))) > 0)
        .select(
            parts.getItem(0).alias("src"),
            parts.getItem(1).alias("dst"),
        )
    )


def edges_from_events(events: DataFrame) -> DataFrame:
    """Derive a graph from the events fixture: consecutive events of the
    same user form a (prev_type -> type) edge. Gives PageRank a
    deterministic fixture-native input (FIXTURES.md §B notes edges are
    derivable from events)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
    )


def read_xml(spark: SparkSession, path: str, schema: str, row_tag: str = "row") -> DataFrame:
    """XML source (Spark 4 native) with a PINNED schema — inference
    over XML text is avoidable cost and type drift; callers state the
    contract like the JSONL reader does."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )
