"""Driver-side parquet schemas (``io.sources.parquet_schema``) against the
schema Spark's own inference job produces.

``read_parquet`` reads one footer on the driver instead of running that
job, so its schema must be the job's schema on every layout the package
reads: pyarrow files, Spark-written directories (with ``_SUCCESS`` and
``.crc`` files beside the parts), partitioned directories, and the types
whose Parquet encodings have options (decimal, date, timestamp,
timestamp_ntz, nested). Where no footer can answer (an empty directory,
schema merging on) Spark's own inference runs and raises or merges as
before.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from agent_data_pipeline_spark.io.sources import parquet_schema, read_parquet

from .conftest import SF_ORACLE


def _assert_same_schema(spark, path):
    inferred = spark.read.parquet(path).schema
    assert read_parquet(spark, path).schema == inferred
    return inferred


@pytest.mark.parametrize(
    "name", sorted(os.path.basename(p) for p in glob.glob(f"{SF_ORACLE}/*.parquet"))
)
def test_fixture_tables(spark, name):
    path = f"{SF_ORACLE}/{name}"
    assert parquet_schema(spark, path) == _assert_same_schema(spark, path)


def test_pyarrow_types(spark, tmp_path):
    path = str(tmp_path / "types.parquet")
    day = dt.date(2024, 1, 2)
    when = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    pq.write_table(
        pa.table(
            {
                "i8": pa.array([1], pa.int8()),
                "i16": pa.array([1], pa.int16()),
                "u32": pa.array([1], pa.uint32()),
                "f32": pa.array([1.5], pa.float32()),
                "dec": pa.array([decimal.Decimal("12.34")], pa.decimal128(9, 2)),
                "wide_dec": pa.array([decimal.Decimal("1.5")], pa.decimal128(30, 10)),
                "day": pa.array([day], pa.date32()),
                "ts_utc": pa.array([when], pa.timestamp("us", tz="UTC")),
                "ts_ntz": pa.array([when], pa.timestamp("us")),
                "ts_ms": pa.array([when], pa.timestamp("ms")),
                "bin": pa.array([b"\x00\x01"], pa.binary()),
                "cat": pa.array(["x"]).dictionary_encode(),
                "tags": pa.array([["a", None]], pa.list_(pa.string())),
                "pt": pa.array([{"x": 1.0, "y": None}], pa.struct([("x", pa.float64()), ("y", pa.float64())])),
                "kv": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
            }
        ),
        path,
    )
    assert parquet_schema(spark, path) == _assert_same_schema(spark, path)
    assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()


def test_spark_written_directory(spark, tmp_path):
    path = str(tmp_path / "spark_dir")
    spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 3)) AS dec, DATE'2024-01-02' + CAST(id AS INT) AS day,"
        " TIMESTAMP'2024-01-02 03:04:05.678901' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05.678901' AS ts_ntz,"
        " named_struct('a', id, 'b', array(id, id)) AS nested, map('k', id) AS kv"
        " FROM range(20)"
    ).repartition(3).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.startswith(".") and n.endswith(".crc") for n in names)
    assert parquet_schema(spark, path) == _assert_same_schema(spark, path)
    assert sorted(read_parquet(spark, path).collect()) == sorted(spark.read.parquet(path).collect())


def test_partitioned_directory(spark, tmp_path):
    """Partition columns are not in any footer: the read that takes the
    footer schema discovers and types them from the paths, as inference
    does."""
    path = str(tmp_path / "parted")
    spark.sql(
        "SELECT id, CAST(id % 3 AS INT) AS p, IF(id % 2 = 0, 'even', 'odd') AS q FROM range(30)"
    ).write.partitionBy("p", "q").parquet(path)
    _assert_same_schema(spark, path)
    back = read_parquet(spark, path)
    assert back.columns == ["id", "p", "q"]
    assert back.filter("p = 1 AND q = 'odd'").count() == 5


def test_glob_path(spark, tmp_path):
    for i in range(2):
        pq.write_table(pa.table({"v": [i]}), str(tmp_path / f"part-{i}.parquet"))
    _assert_same_schema(spark, str(tmp_path / "part-*.parquet"))


def test_empty_directory_keeps_spark_error(spark, tmp_path):
    path = str(tmp_path / "empty")
    os.mkdir(path)
    assert parquet_schema(spark, path) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, path)


def test_missing_path_keeps_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "nope.parquet"))


def test_nanos_column_raises_spark_error_without_a_job(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("ns"))}), path)
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, path)
    assert parquet_schema(spark, path, nanos_as_long=True).simpleString() == "struct<ts:bigint>"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_merge_schema_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "merge")
    os.mkdir(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "part-0.parquet"))
    pq.write_table(pa.table({"b": ["x"]}), os.path.join(path, "part-1.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert parquet_schema(spark, path) is None
        assert read_parquet(spark, path).columns == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert read_parquet(spark, path).columns == ["a"]
