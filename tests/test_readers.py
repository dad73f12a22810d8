"""load_table's driver-side parquet schema (sources/readers.py
``_footer_schema``): the schema Spark would infer, without the Spark job
that infers it."""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from tests.conftest import SF_SMALL

TS = [datetime.datetime(2020, 1, 1, 1, 2, 3), None, datetime.datetime(2021, 6, 1)]


def _write_matrix(out) -> list[str]:
    """One single-column pyarrow-written parquet file per type; returns
    the table names (``<name>.parquet`` under ``out``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "int8": pa.array([1, None, 3], pa.int8()),
        "int16": pa.array([1, None, 3], pa.int16()),
        "uint8": pa.array([1, None, 255], pa.uint8()),
        "uint16": pa.array([1, None, 65535], pa.uint16()),
        "uint32": pa.array([1, None, 2**32 - 1], pa.uint32()),
        "uint64": pa.array([1, None, 2**64 - 1], pa.uint64()),
        "float32": pa.array([1.5, None, 2.0], pa.float32()),
        "bool": pa.array([True, None, False]),
        "string": pa.array(["a", None, "b"]),
        "large_string": pa.array(["a", None, "b"], pa.large_string()),
        "binary": pa.array([b"a", None, b"b"]),
        "fixed_binary": pa.array([b"ab", None, b"cd"], pa.binary(2)),
        "date32": pa.array([datetime.date(2020, 1, 1), None, datetime.date(2021, 1, 1)]),
        "decimal_10_2": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
        "decimal_30_2": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(30, 2)),
        "list_float": pa.array([[1.0, None], None, []], pa.list_(pa.float32())),
        "struct": pa.array(
            [{"x": 1, "y": "a"}, None, {"x": None, "y": "b"}],
            pa.struct([("x", pa.int32()), ("y", pa.string())]),
        ),
        "map": pa.array([[("a", 1)], None, [("b", None)]], pa.map_(pa.string(), pa.int64())),
        "dictionary": pa.array(["a", None, "a"]).dictionary_encode(),
    }
    for unit in ("ms", "us", "ns"):
        cols[f"ts_{unit}"] = pa.array(TS, pa.timestamp(unit))
        cols[f"ts_{unit}_tz"] = pa.array(TS, pa.timestamp(unit, tz="America/New_York"))
    for name, arr in cols.items():
        pq.write_table(pa.table({"c": arr}), out / f"{name}.parquet")
    pq.write_table(
        pa.table({"c": pa.array(TS, pa.timestamp("ns"))}),
        out / "int96.parquet",
        use_deprecated_int96_timestamps=True,
    )
    not_null = pa.schema([pa.field("c", pa.int64(), nullable=False)])
    pq.write_table(pa.table({"c": [1, 2, 3]}, schema=not_null), out / "not_null.parquet")
    return [*cols, "int96", "not_null"]


def _write_spark_part_file(spark, out) -> str:
    """A Spark-written part file moved to ``<name>.parquet``: its footer
    carries Spark's row-schema JSON, non-null and nested fields."""
    import shutil

    tmp = out / "_spark_out"
    spark.sql(
        "SELECT 1L AS id, CAST(NULL AS STRING) AS s, array(1, 2) AS a,"
        " map('k', 1.5D) AS m, named_struct('x', 1, 'y', TIMESTAMP_NTZ'2020-01-01 00:00:00')"
        " AS st, TIMESTAMP'2020-01-01 00:00:00' AS ts, CAST(1.5 AS DECIMAL(12, 3)) AS d"
    ).coalesce(1).write.parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet"))
    shutil.move(str(tmp / part), str(out / "spark_part.parquet"))
    shutil.rmtree(tmp)
    return "spark_part"


@pytest.fixture(scope="module")
def matrix_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("parquet_types")
    names = _write_matrix(out) + [_write_spark_part_file(spark, out)]
    return out, names


@pytest.mark.parametrize("infer_ntz", ["false", "true"])
def test_load_table_schema_equals_spark_inference(spark, matrix_dir, infer_ntz):
    """The footer schema equals Spark's own inference, nullability
    included, on every fixture table and on a pyarrow type matrix, with
    and without TIMESTAMP_NTZ inference."""
    from cs744_big_data_system_spark.sources.readers import (
        TABLES,
        _footer_schema,
        load_table,
    )

    out, names = matrix_dir
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, infer_ntz)
    try:
        cases = [(SF_SMALL, t) for t in TABLES if t != "events"] + [
            (str(out), n) for n in names
        ]
        for sf_dir, name in cases:
            path = f"{sf_dir}/{name}.parquet"
            assert _footer_schema(spark, path) is not None, name
            want = spark.read.parquet(path).schema
            assert load_table(spark, sf_dir, name).schema == want, name
            assert _footer_schema(spark, path) == want, name
        # events is normalized after the scan; compare the scan itself.
        events = f"{SF_SMALL}/events.parquet"
        assert _footer_schema(spark, events) == spark.read.parquet(events).schema
    finally:
        spark.conf.set(key, prev)


def test_load_table_falls_back_to_spark_inference(spark, tmp_path):
    """A directory (here partitioned) and a type outside the mapping
    (parquet UNKNOWN/null) take Spark's inference unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs744_big_data_system_spark.sources.readers import _footer_schema, load_table

    spark.range(4).selectExpr("id", "id % 2 AS part").write.partitionBy("part").parquet(
        str(tmp_path / "partitioned.parquet")
    )
    pq.write_table(pa.table({"c": pa.array([None, None], pa.null())}), tmp_path / "nulls.parquet")
    for name in ("partitioned", "nulls"):
        path = f"{tmp_path}/{name}.parquet"
        assert _footer_schema(spark, path) is None, name
        assert load_table(spark, str(tmp_path), name).schema == spark.read.parquet(path).schema
    assert load_table(spark, str(tmp_path), "partitioned").count() == 4
    assert _footer_schema(spark, "hdfs://namenode/x.parquet") is None


def test_load_table_launches_no_spark_job(spark):
    """Building a scan of any fixture table starts no Spark job; Spark's
    own inference of the same file starts one."""
    from cs744_big_data_system_spark.sources.readers import TABLES, load_table

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("load_table_jobs", lambda: [load_table(spark, SF_SMALL, t) for t in TABLES]) == 0
    assert jobs("parquet_infer_jobs", lambda: spark.read.parquet(f"{SF_SMALL}/orders.parquet")) > 0
