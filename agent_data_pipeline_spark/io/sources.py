"""Source connectors.

Reference parity (SURVEY.md §2.A):
  S1  CSV scan with sampled inference  (reference: agent-schema/app.py:181
      reads only the first 100 rows with pandas) -> ``sample_csv_head``.
  S2  CSV bulk ingest (reference: NiFi flow draining a mounted directory)
      -> plain ``spark.read.csv`` over a directory; the whole NiFi box
      collapses into a distributed Spark scan.

All readers return lazy DataFrames; Catalyst pushes filters/projections
into the scan (Parquet: predicate pushdown + column pruning; CSV/JSON:
column pruning). At 100 TB the parquet reader is the only sane default —
CSV/JSON exist for ingest parity, after which data lands as Parquet.

This module is the one place that learns a Parquet table's schema, for
batch and stream reads alike: ``read_parquet`` (batch),
``queries.core.read_events`` (the events layout) and
``streaming.stream_parquet`` (file-source streams) all take it from
``parquet_schema``. Nothing caches it: a read sees the files as they are
when it is built. ``read_parquet`` runs no Spark job to learn its
schema: a bare ``spark.read.parquet`` starts a one-task job that reads a
footer on an executor. ``parquet_schema`` reads that same footer on the
driver through the JVM and converts it with Spark's own converter, so the
result is the schema the job would have produced.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

def _hidden(name: str) -> bool:
    # the names Spark's file listing skips inside a directory
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_file(fs, status):
    """Depth-first, name-ordered search for the first visible data file."""
    if status.isFile():
        return status.getPath()
    children = [c for c in fs.listStatus(status.getPath()) if not _hidden(c.getPath().getName())]
    for child in sorted(children, key=lambda c: c.getPath().getName()):
        found = _first_file(fs, child)
        if found is not None:
            return found
    return None


def first_data_file(spark: SparkSession, path: str, conf):
    """The first data file under ``path`` (a file, directory or glob) in
    name order, as a Hadoop ``Path``, skipping the ``_``- and
    ``.``-prefixed names Spark's listing skips; ``None`` when there is
    none. Lists on the driver through the Hadoop ``FileSystem`` of
    ``conf``, so any scheme Spark reads works."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(conf)
    matches = sorted(fs.globStatus(pattern) or [], key=lambda s: s.getPath().toString())
    found = (_first_file(fs, s) for s in matches)
    return next((f for f in found if f is not None), None)


def parquet_schema(
    spark: SparkSession, path: str, nanos_as_long: bool = False
) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, without its job.

    Reads the footer of the first data file on the driver
    (``ParquetFileReader.readFooter``) and converts it with
    ``ParquetFileFormat.readSchemaFromFooter`` and a
    ``ParquetToSparkSchemaConverter`` built from the session conf: the
    Spark row metadata a Spark writer stores, else the Parquet → Spark
    type mapping. That is the conversion Spark's inference job runs on
    one footer. Partition columns are not in a footer; the read that
    takes this schema discovers them from the paths as before.

    ``nanos_as_long`` converts with ``spark.sql.legacy.parquet.nanosAsLong``
    set on a copy of the session conf: a ``TIMESTAMP(NANOS)`` column comes
    back as ``long`` and the session is left unchanged.

    Returns ``None`` where Spark's own inference must run: no data file
    (Spark then raises its own error) or ``spark.sql.parquet.mergeSchema``
    on (every footer counts).
    """
    session = spark._jsparkSession.sessionState()
    sql_conf = session.conf()
    if sql_conf.isParquetSchemaMergingEnabled():
        return None
    conf = session.newHadoopConf()
    file = first_data_file(spark, path, conf)
    if file is None:
        return None
    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.Footer(
        file, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, file)
    )
    if nanos_as_long:
        sql_conf = sql_conf.clone()
        sql_conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        footer, pq.ParquetToSparkSchemaConverter(sql_conf)
    )
    # nullable, as the relation a read builds makes every data column
    return T.StructType.fromJson(json.loads(schema.asNullable().json()))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan: vectorized reader, pushdown, partition pruning. The
    schema comes from ``parquet_schema``, so building the DataFrame runs
    no Spark job."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV source. Prefer an explicit schema at scale: ``inferSchema`` costs
    an extra full pass over the data. ``sample_csv_head`` + ``schema.infer``
    reproduces the reference's cheap 100-row inference instead."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """JSON Lines source."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source (reference's warehouse read path, taxi_transform_dag.py:75).

    At scale, always pass ``partition_column`` + bounds so the read fans out
    across executors instead of a single serial connection.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def sample_csv_head(spark: SparkSession, path: str, n: int = 100) -> DataFrame:
    """S1: read only the first ``n`` rows of a CSV with types inferred.

    Reference contract: ``pd.read_csv(file_path, nrows=100)``
    (agent-schema/app.py:181). Spark reads lazily; the ``limit`` is pushed
    into the scan (LocalLimit over the file source) so this stays a
    driver-cheap metadata-scale operation even on a huge file.
    """
    return (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("samplingRatio", "1.0")
        .csv(path)
        .limit(n)
    )
