"""Query-registry plumbing.

Every operator the engine claims (SURVEY.md §2.B) is exposed as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus the
equivalent ANSI SQL a DuckDB oracle can run over the same parquet tables.
The driver's correctness harness (and ``tests/oracle.py``) diff the two.

Determinism rules (these make order-insensitive value-hash compares work):

* Every float aggregate is ``round(x, k)`` on BOTH sides, so summation-order
  noise (different partial-aggregation trees in Spark vs DuckDB) cannot leak
  into the hash. Per-row scalar math is bit-identical without rounding, but
  transcendental fns (ln, pow) get rounded too (libm last-ulp differences).
* Every LIMIT / top-k has a total-order sort key (unique key tie-break):
  which rows are selected must not depend on engine internals.
* Integer widths are aligned to BIGINT on both sides (DuckDB's count/len/
  year all return BIGINT; Spark's size/year return INT — we cast).
"""

from __future__ import annotations

import re as _re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fns import (  # noqa: F401  (re-exported for query modules)
    assert_grid_headroom,
    bounded_collect,
    once,
    rnd,
)
from ..io.sources import parquet_schema, read_parquet


@dataclass(frozen=True)
class QuerySpec:
    """One engine operator: Spark implementation + DuckDB oracle SQL.

    ``oracle`` is None for genuinely non-SQL-expressible ops (hash-seeded
    MinHash/SimHash, LSH ANN); those get a rows-only driver check and a
    pytest check against a pure-Python reference instead.
    """

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def duck_materialize(sql: str) -> str:
    """Mark every CTE of a DuckDB oracle ``MATERIALIZED``.

    DuckDB inlines plain CTEs at each reference site; for the iterative
    oracles (recursive-CTE Gauss elimination, Holt-Winters / DTW / PACF
    replays, graph fixpoints) a CTE referenced inside the RECURSIVE
    body is re-executed once per reference per iteration — including
    the full fact-scale prefix (event windows, tokenize passes). The
    keyword is a planner hint only: result VALUES are identical (each
    rewritten oracle was diffed row-for-row against the original at
    sf0.01 before adoption; the two that differ do so only in row
    order, with no outer ORDER BY, which the driver's order-insensitive
    canon ignores). Measured: markov_attribution 56 s -> 0.33 s,
    ljung_box_hw_residuals 61 -> 4.8 s, dtw_priority_series 27 -> 5.9 s
    at sf0.01.

    The regex adds the keyword after every ``<name> AS (`` CTE header
    and then undoes the one false positive a SQL body can contain
    (``WINDOW w AS (...)`` clauses); recursive headers like
    ``walk(cols) AS ('' are left alone because '')'' precedes `` AS``.
    """
    out = _re.sub(r"(\b[A-Za-z_][A-Za-z0-9_]*) AS \(", r"\1 AS MATERIALIZED (", sql)
    return _re.sub(r"WINDOW (\w+) AS MATERIALIZED \(", r"WINDOW \1 AS (", out)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    return read_events(spark, path) if name == "events" else read_parquet(spark, path)


def named_tables(sql: str) -> str:
    """``sql`` with each ``{table}`` placeholder spelled as the table name
    itself: the text the DuckDB oracle runs over its fixture views.
    ``spark.sql(sql, table=frame)`` binds the same placeholders to frames
    under fresh view names, which it drops once the text is analyzed, so
    no view of the caller's is replaced. The drop uncaches the view's
    plan: a cache the caller holds on the identical fixture scan is
    dropped too, and recomputed when next read."""
    return _re.sub(r"\{(\w+)\}", r"\1", sql)


def events_schema(spark: SparkSession, path: str) -> tuple[T.StructType, bool]:
    """``(schema, ts_is_long)`` of the events parquet at ``path``. The
    footer is converted with TIMESTAMP(NANOS) mapped to ``long`` (on a
    copy of the session conf), so a nanos ``ts`` reads as raw epoch
    nanos; ``ts_is_long`` says the caller must rebuild the timestamp
    from them."""
    schema = parquet_schema(spark, path, nanos_as_long=True) or read_parquet(spark, path).schema
    ts = next((f.dataType for f in schema.fields if f.name == "ts"), None)
    return schema, isinstance(ts, T.LongType)


def with_nanos_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Rebuilds ``ts`` from epoch nanos as a microsecond timestamp whose
    session-TZ rendering is the UTC wall clock the nanos record (see
    ``read_events``)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    return df.withColumn(
        "ts", F.to_utc_timestamp(F.timestamp_micros(F.expr("ts div 1000")), tz)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """The events fixture stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's readers reject (PARQUET_TYPE_ILLEGAL) unless the column is
    read as ``long``. ``events_schema`` reads the footer on the driver and
    gives ``ts`` as ``long``; a read with that schema needs no legacy conf
    (vectorized reader on or off). The microsecond timestamp is rebuilt
    with integer arithmetic (``div 1000`` — going through double would
    lose sub-microsecond bits at 2024-epoch magnitudes).

    ``to_utc_timestamp(_, session_tz)`` pins wall-clock semantics: the
    nanos are a UTC wall-clock reading, and other readers (DuckDB) treat
    them as naive — the shift makes the session-TZ rendering of ``ts``
    equal that UTC wall clock, so a driver session in a non-UTC timezone
    sees the same values (and window grids) as the oracle."""
    schema, ts_is_long = events_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    return with_nanos_ts(spark, df) if ts_is_long else df
