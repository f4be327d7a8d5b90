"""D1: sampled schema inference, identifier sanitation, by-name CSV binding.

Reference contract (agent-schema/app.py:33-44, :181, :186): read only the
first 100 rows of the CSV, take pandas dtypes, and map them onto a 5-type
vocabulary (INT / FLOAT / TIMESTAMP / BOOLEAN / VARCHAR-fallback).

Like the reference's ``pd.read_csv(nrows=100)``, the sample is read on the
driver: ``read_csv_head`` opens the first file through the Hadoop
``FileSystem`` API (any scheme Spark reads, decompressed by the Hadoop
codec for its extension) and stops after the header plus ``sample_rows``
lines, so no Spark job runs and a 100 GB file costs one buffered read.
The lines are parsed with Python's ``csv`` module and each column is typed
by the rules Spark's CSV inference applies, already collapsed to the
5-type vocabulary. Integers widen to LongType — taxi-style surrogate IDs
overflow 32-bit at 100 TB (SURVEY §1.2).

The same head gives ingest its header: ``bind_csv_columns`` maps each raw
header name onto the table column of the same sanitized, case-insensitive
name, so a reordered or widened file lands by name, never by position.
"""

from __future__ import annotations

import csv
import re
from datetime import datetime

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io.sources import first_data_file

#: The reference's complete type vocabulary (agent-schema/app.py:33-44),
#: keyed by the Spark type we land on.
FIVE_TYPE_VOCABULARY = (
    T.LongType(),
    T.DoubleType(),
    T.TimestampType(),
    T.BooleanType(),
    T.StringType(),
)

_IDENT_BAD = re.compile(r"[^0-9A-Za-z_]")


def sanitize_identifier(name: str) -> str:
    """Hyphens/spaces (any non-word char) -> ``_``; leading digit gets a
    ``_`` prefix. Reference policy line: agent-schema/app.py:110."""
    clean = _IDENT_BAD.sub("_", name.strip())
    if clean and clean[0].isdigit():
        clean = "_" + clean
    return clean or "_"


def to_five_type(dtype: T.DataType) -> T.DataType:
    """Collapse an arbitrary inferred Spark type onto the reference's
    5-type vocabulary (agent-schema/app.py:33-44)."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return T.DoubleType()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return T.TimestampType()
    if isinstance(dtype, T.BooleanType):
        return T.BooleanType()
    return T.StringType()


def sanitize_schema(schema: T.StructType) -> T.StructType:
    """Sanitize every field name and collapse types to the vocabulary."""
    return T.StructType(
        [
            T.StructField(sanitize_identifier(f.name), to_five_type(f.dataType), True)
            for f in schema.fields
        ]
    )


# ---------------------------------------------------------------- file head

_CHUNK = 1 << 16
# Scala's String.trim (Spark's blank-line test, Java's number parsers)
# strips every char <= ' '.
_JAVA_BLANK = "".join(map(chr, range(33)))


def _head_lines(spark: SparkSession, path: str, n: int) -> list[str]:
    """The first ``n`` non-blank lines of the first file under ``path``
    (a file, directory or glob), read on the driver."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    file = first_data_file(spark, path, conf)
    if file is None:
        raise FileNotFoundError(f"no data file at {path}")
    fs = file.getFileSystem(conf)
    lines: list[str] = []
    stream = fs.open(file)
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(file)
        if codec is not None:
            stream = codec.createInputStream(stream)
        rest = b""
        while len(lines) < n:
            chunk = stream.readNBytes(_CHUNK)
            *complete, rest = (rest + chunk).split(b"\n")
            eof = len(chunk) < _CHUNK
            if eof:
                complete.append(rest)
            for raw in complete:
                line = raw.rstrip(b"\r").decode("utf-8", "replace")
                if line.strip(_JAVA_BLANK):
                    lines.append(line)
            if eof:
                break
    finally:
        stream.close()
    return lines[:n]


def _safe_header(names: list[str]) -> list[str]:
    """Spark's CSV header rules: an empty name becomes ``_c<i>``; names
    repeated case-insensitively get their position appended."""
    lowered = [n.lower() for n in names]
    return [
        f"_c{i}" if not n else f"{n}{i}" if lowered.count(n.lower()) > 1 else n
        for i, n in enumerate(names)
    ]


def read_csv_head(
    spark: SparkSession, path: str, sample_rows: int = 0
) -> tuple[list[str], list[list[str]]]:
    """Header names and at most ``sample_rows`` parsed data rows of the
    first file under ``path``, without a Spark job.

    ``path`` is anything ``spark.read`` takes: a file (compressed files
    are decompressed by the Hadoop codec for their extension), or a
    directory or glob, which resolves to its first visible file in name
    order. Blank lines are skipped, and so are data lines repeating the
    header, as Spark's CSV reader does. An empty file gives ``([], [])``;
    a path with no file raises ``FileNotFoundError``."""
    lines = _head_lines(spark, path, sample_rows + 1)
    if not lines:
        return [], []
    header, *data = lines
    rows = list(csv.reader([header, *(line for line in data if line != header)]))
    return _safe_header(rows[0]), rows[1 : sample_rows + 1]


# ----------------------------------------------------------- classification

# Long.parseLong accepts a sign and any Unicode decimal digits, as \d does.
_INTEGER = re.compile(r"[+-]?\d+")
# Double.parseDouble's grammar (ASCII digits, optional type suffix, hex
# floats), applied after Java's trim.
_JAVA_DOUBLE = re.compile(
    r"[+-]?(NaN|Infinity"
    r"|([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?"
    r"|0[xX]([0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+[fFdD]?)"
)
_NAN_INF = {"NaN", "Inf", "-Inf"}  # Spark's nanValue / positiveInf / negativeInf
_DATE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
_TIMESTAMP = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}")
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def _parses(cell: str, shape: re.Pattern) -> bool:
    # the shape pins the pattern; fromisoformat rejects out-of-range fields
    if not shape.fullmatch(cell):
        return False
    try:
        datetime.fromisoformat(cell)
    except ValueError:
        return False
    return True


def _cell_type(cell: str) -> T.DataType:
    """The type Spark's CSV inference gives one non-empty cell, trying
    integer, decimal, date (``yyyy-MM-dd``), timestamp (``yyyy-MM-dd
    HH:mm:ss``) and boolean in that order. Integers past 64 bits are
    decimals in Spark and DOUBLE here, as they are after ``to_five_type``."""
    if _INTEGER.fullmatch(cell):
        return T.LongType() if _LONG_MIN <= int(cell) <= _LONG_MAX else T.DoubleType()
    if cell in _NAN_INF or _JAVA_DOUBLE.fullmatch(cell.strip(_JAVA_BLANK)):
        return T.DoubleType()
    if _parses(cell, _DATE):
        return T.DateType()
    if _parses(cell, _TIMESTAMP):
        return T.TimestampType()
    if cell.lower() in ("true", "false"):
        return T.BooleanType()
    return T.StringType()


def _merge(a: T.DataType | None, b: T.DataType) -> T.DataType:
    """Spark's CSV type merge on the vocabulary: integers widen to
    doubles, any other disagreement (dates with timestamps included)
    falls back to STRING."""
    if a is None or a == b:
        return b
    if {a, b} == {T.LongType(), T.DoubleType()}:
        return T.DoubleType()
    return T.StringType()


def infer_csv_schema(
    spark: SparkSession, path: str, sample_rows: int = 100
) -> T.StructType:
    """Infer a 5-type schema from the first ``sample_rows`` data rows.

    Reference: ``pd.read_csv(file_path, nrows=100)`` + dtype map
    (agent-schema/app.py:181, :186). The head is read on the driver by
    ``read_csv_head`` and typed cell by cell (empty cells count as NULL;
    an all-empty column is STRING), so inference runs no Spark job and
    costs the same on a 1 KB file as on a 100 GB one."""
    header, rows = read_csv_head(spark, path, sample_rows)
    types: list[T.DataType | None] = [None] * len(header)
    for row in rows:
        for i, cell in enumerate(row[: len(header)]):
            if cell:
                types[i] = _merge(types[i], _cell_type(cell))
    return sanitize_schema(
        T.StructType(
            [T.StructField(n, t or T.StringType()) for n, t in zip(header, types)]
        )
    )


# ---------------------------------------------------------- by-name binding


def _key(name: str) -> str:
    return sanitize_identifier(name).lower()


def bind_csv_columns(
    spark: SparkSession, path: str, table_schema: T.StructType
) -> tuple[T.StructType, list[Column]]:
    """Bind a headered CSV source to ``table_schema`` by column name.

    Returns the read schema — the first file's raw header names, each
    typed as the table column with the same sanitized, case-insensitive
    name — and the projection that renames them to the table's names in
    table order, with NULL for table columns the file lacks. Read with
    ``enforceSchema=false`` so that a later file whose header differs
    from the read schema fails the read instead of shifting columns.

    Raises ``ValueError`` when a header column has no table column or two
    header columns map to the same one. With no file under ``path`` yet
    (a watched directory before its first drop) the read schema is the
    table's own names, which later headers must then match."""
    try:
        header, _ = read_csv_head(spark, path)
    except FileNotFoundError:
        header = []
    header = header or [f.name for f in table_schema.fields]
    table = {_key(f.name): f for f in table_schema.fields}
    keys = [_key(h) for h in header]
    unknown = [h for h, k in zip(header, keys) if k not in table]
    if unknown:
        raise ValueError(
            f"CSV columns {unknown} in {path} match no column of the table "
            f"({', '.join(table_schema.fieldNames())}); evolve the table first"
        )
    repeated = sorted({k for k in keys if keys.count(k) > 1})
    if repeated:
        raise ValueError(f"CSV header of {path} names table columns {repeated} twice")
    read = T.StructType(
        [T.StructField(h, table[k].dataType, True) for h, k in zip(header, keys)]
    )
    raw = dict(zip(keys, header))
    columns = []
    for f in table_schema.fields:
        k = _key(f.name)
        col = (
            F.col("`" + raw[k].replace("`", "``") + "`")
            if k in raw
            else F.lit(None).cast(f.dataType)
        )
        columns.append(col.alias(f.name))
    return read, columns
