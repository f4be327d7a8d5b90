"""Scalar-function queries: datetime, conditional/null, string, math,
JSON, array (SURVEY.md §2.B "Scalar" rows), plus the reference-parity
transform shape (E1-E7 semantics from /root/reference/dags/
taxi_transform_dag.py:51-74 re-applied to the `events` fixture).

All of these are pure per-row expressions: whole-stage-codegen'd JVM
projections over the scan, no shuffle, no Python. At 100 TB these queries
are scan-bound; the only knob that matters is column pruning + predicate
pushdown, which Catalyst applies because everything here is declarative.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fns import spread
from .core import QuerySpec, rnd, t


def _datetime_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime kit. Note `dow`: reference semantics are Postgres
    EXTRACT(dow) = 0..6 Sunday-start (taxi_transform_dag.py:56); Spark
    dayofweek() is 1..7 Sunday-start, hence the -1 (SURVEY §2.C gotcha 1).
    """
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("o_dow"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("o_month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_2002"),
        # DATE results are emitted as ISO strings: Spark hands pandas a
        # datetime.date while DuckDB promotes to Timestamp, so a raw DATE
        # column canonicalizes differently per engine. Strings are
        # engine-neutral.
        F.add_months(F.col("o_orderdate").cast("date"), 3).cast("string").alias("plus_3_months"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


_DATETIME_SCALARS_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)      AS o_year,
       CAST(month(o_orderdate) AS BIGINT)     AS o_month,
       CAST(day(o_orderdate) AS BIGINT)       AS o_day,
       CAST(dayofweek(o_orderdate) AS BIGINT) AS o_dow,
       CAST(quarter(o_orderdate) AS BIGINT)   AS o_quarter,
       date_trunc('month', o_orderdate)       AS o_month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT)
                                              AS days_to_2002,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
       CAST(epoch(o_orderdate) AS BIGINT)     AS epoch_s
FROM orders
"""


def _conditional_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference E3-E7 expression shapes on lineitem:
    E3 guarded ratio + cap (CASE WHEN + LEAST; 0 not NULL on bad denom),
    E4 simple-CASE decode, E6 range-CASE bucketing, E7 COALESCE/NULLIF.
    Cites /root/reference/dags/taxi_transform_dag.py:59,61-64,67-73.
    """
    li = t(spark, sf_dir, "lineitem")
    discount_pct = (
        F.when(
            F.col("l_extendedprice") > 0,
            F.least(
                rnd(F.col("l_discount") * F.col("l_extendedprice") / F.col("l_quantity"), 4),
                F.lit(999.99),
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("disc_per_unit")
    )
    flag_label = (
        F.when(F.col("l_returnflag") == "R", "Returned")
        .when(F.col("l_returnflag") == "A", "Accepted")
        .when(F.col("l_returnflag") == "N", "None")
        .otherwise("Other")
        .alias("flag_label")
    )
    qty_bucket = (
        F.when(F.col("l_quantity") < 5, "Very Small")
        .when(F.col("l_quantity") < 15, "Small")
        .when(F.col("l_quantity") < 30, "Medium")
        .when(F.col("l_quantity") < 45, "Large")
        .otherwise("Very Large")
        .alias("qty_bucket")
    )
    safe_disc = F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(0.05)).alias(
        "effective_discount"
    )
    capped = F.greatest(
        F.least(rnd(F.col("l_extendedprice") / 1000, 4), F.lit(60.0)), F.lit(10.0)
    ).alias("price_k_clamped")
    return li.select(
        "l_orderkey", "l_linenumber", discount_pct, flag_label, qty_bucket, safe_disc, capped
    )


_CONDITIONAL_SCALARS_SQL = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_extendedprice > 0
            THEN least(floor((l_discount * l_extendedprice / l_quantity) * 10000 + 0.5) / 10000, 999.99)
            ELSE 0.0 END AS disc_per_unit,
       CASE l_returnflag WHEN 'R' THEN 'Returned' WHEN 'A' THEN 'Accepted'
                         WHEN 'N' THEN 'None' ELSE 'Other' END AS flag_label,
       CASE WHEN l_quantity < 5  THEN 'Very Small'
            WHEN l_quantity < 15 THEN 'Small'
            WHEN l_quantity < 30 THEN 'Medium'
            WHEN l_quantity < 45 THEN 'Large'
            ELSE 'Very Large' END AS qty_bucket,
       coalesce(nullif(l_discount, 0.0), 0.05) AS effective_discount,
       greatest(least(floor((l_extendedprice / 1000) * 10000 + 0.5) / 10000, 60.0), 10.0) AS price_k_clamped
FROM lineitem
"""


def _string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.col("p_type").like("%steel%").alias("is_steel"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


def _string_kit2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string kit: edit distance (levenshtein — the per-row
    primitive under fuzzy matching), translate, repeat, instr/strpos,
    left/right, ascii. All JVM codegen'd — no Python in the row path."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").cast("long").alias("brand_type_dist"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_vowel_caps"),
        F.repeat(F.lit("ab"), 3).alias("abab"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.expr("left(p_name, 5)").alias("name_left5"),
        F.expr("right(p_type, 4)").alias("type_right4"),
        F.ascii("p_brand").cast("long").alias("brand_ascii0"),
    )


_STRING_KIT2_SQL = """
SELECT p_partkey,
       CAST(levenshtein(p_brand, p_type) AS BIGINT)  AS brand_type_dist,
       translate(p_name, 'aeiou', 'AEIOU')           AS name_vowel_caps,
       repeat('ab', 3)                               AS abab,
       CAST(strpos(p_name, 'a') AS BIGINT)           AS first_a,
       left(p_name, 5)                               AS name_left5,
       right(p_type, 4)                              AS type_right4,
       CAST(ascii(p_brand) AS BIGINT)                AS brand_ascii0
FROM part
"""


_STRING_SCALARS_SQL = """
SELECT p_partkey,
       upper(p_name)                    AS name_upper,
       lower(p_brand)                   AS brand_lower,
       CAST(length(p_name) AS BIGINT)   AS name_len,
       substring(p_name, 1, 8)          AS name_prefix,
       concat_ws('|', p_brand, p_type)  AS brand_type,
       trim('  pad  ')                  AS trimmed,
       coalesce(regexp_extract(p_brand, '([0-9]+)', 1), '') AS brand_num,
       regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
       string_split(p_name, ' ')[1]     AS first_word,
       p_type LIKE '%steel%'            AS is_steel,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
       reverse(p_brand)                 AS brand_rev
FROM part
"""


def _math_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("discount_amt"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        rnd(F.log("l_extendedprice"), 6).alias("ln_price"),
        rnd(F.log10("l_extendedprice"), 6).alias("log10_price"),
        rnd(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        (F.col("l_linenumber") % 3).cast("long").alias("line_mod3"),
        rnd(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_compound"),
        F.sign(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


_MATH_SCALARS_SQL = """
SELECT l_orderkey, l_linenumber,
       floor((l_extendedprice * l_discount) * 100 + 0.5) / 100       AS discount_amt,
       CAST(floor(l_extendedprice) AS BIGINT)       AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT)        AS price_ceil,
       abs(l_discount - 0.05)                       AS disc_dev,
       l_quantity * l_quantity                      AS qty_sq,
       floor((ln(l_extendedprice)) * 1000000 + 0.5) / 1000000                AS ln_price,
       floor((log10(l_extendedprice)) * 1000000 + 0.5) / 1000000             AS log10_price,
       floor((sqrt(l_quantity)) * 1000000 + 0.5) / 1000000                   AS sqrt_qty,
       CAST(l_linenumber % 3 AS BIGINT)             AS line_mod3,
       floor((pow(1.0 + l_tax, 2)) * 1000000 + 0.5) / 1000000                AS tax_compound,
       CAST(sign(l_discount - 0.05) AS DOUBLE)      AS disc_sign,
FROM lineitem
"""


def _json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both JSON access paths over events.props: path-string
    get_json_object AND schema-typed from_json (struct parse). Grouping
    on both extracted keys proves they agree row-for-row — the oracle
    extracts once and emits it under both names."""
    # spread: two JSON parses per row are CPU-heavy scan-stage work — on
    # a one-split source they ran serially (interleaved A/B: 0.65 s vs
    # 0.82 s min-of-5 with the exchange). No-op on a well-split log.
    e = spread(t(spark, sf_dir, "events"))
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .withColumn("k_typed", F.from_json(F.col("props"), "k long").getField("k"))
        .groupBy("k", "k_typed")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


_JSON_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
       count(*)             AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
FROM events GROUP BY 1, 2
"""


def _array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array kit over the embedding column: size, element_at, slice,
    higher-order aggregate (L2 norm via F.aggregate — JVM-side lambda,
    no Python)."""
    e = t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at(dbl, 1).alias("first_val"),
        F.element_at(dbl, -1).alias("last_val"),
        rnd(
            F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)), 4
        ).alias("l2_norm"),
        rnd(F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 4).alias(
            "head8_sum"
        ),
    )


_ARRAY_OPS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(embedding[1] AS DOUBLE)   AS first_val,
       CAST(embedding[-1] AS DOUBLE)  AS last_val,
       floor((sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
                              (a, b) -> a + b))) * 10000 + 0.5) / 10000 AS l2_norm,
       floor((list_reduce(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)),
                         (a, b) -> a + b)) * 10000 + 0.5) / 10000       AS head8_sum
FROM embeddings
"""


def _posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinal-preserving array unnest) on a filtered slice."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).select("vec_id", F.col("pos").cast("long"), F.col("val").cast("double"))


_POSEXPLODE_SQL = """
SELECT vec_id,
       unnest(range(len(embedding)))              AS pos,
       CAST(unnest(embedding) AS DOUBLE)          AS val
FROM embeddings WHERE vec_id < 5
"""


def _events_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference transform parity on the events fixture — the full shape of
    /root/reference/dags/taxi_transform_dag.py:42-79 (filter gate F1,
    derivations E1-E7) with events standing in for taxi trips."""
    e = t(spark, sf_dir, "events")
    return (
        e.filter((F.col("value") >= 0) & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.hour("ts").cast("long").alias("event_hour"),
            (F.dayofweek("ts") - 1).cast("long").alias("event_dow"),
            F.month("ts").cast("long").alias("event_month"),
            F.when(F.col("event_type") == "click", "Click")
            .when(F.col("event_type") == "view", "View")
            .when(F.col("event_type") == "purchase", "Purchase")
            .when(F.col("event_type") == "signup", "Signup")
            .otherwise("Other")
            .alias("event_label"),
            F.when(F.col("value") < 5, "Very Low")
            .when(F.col("value") < 15, "Low")
            .when(F.col("value") < 30, "Medium")
            .when(F.col("value") < 60, "High")
            .otherwise("Very High")
            .alias("value_band"),
            rnd(
                F.when(
                    F.col("value") > 0,
                    F.least(F.get_json_object("props", "$.k").cast("double") / F.col("value") * 100, F.lit(999.99)),
                ).otherwise(0.0),
                4,
            ).alias("k_per_value_pct"),
            F.coalesce(F.get_json_object("props", "$.missing").cast("double"), F.lit(0.0)).alias(
                "missing_defaulted"
            ),
        )
    )


_EVENTS_CLEANED_SQL = """
SELECT event_id, user_id, ts,
       CAST(hour(ts) AS BIGINT)      AS event_hour,
       CAST(dayofweek(ts) AS BIGINT) AS event_dow,
       CAST(month(ts) AS BIGINT)     AS event_month,
       CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
                       WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
                       ELSE 'Other' END AS event_label,
       CASE WHEN value < 5  THEN 'Very Low'
            WHEN value < 15 THEN 'Low'
            WHEN value < 30 THEN 'Medium'
            WHEN value < 60 THEN 'High'
            ELSE 'Very High' END AS value_band,
       floor((CASE WHEN value > 0
                  THEN least(CAST(json_extract_string(props, '$.k') AS DOUBLE) / value * 100,
                             999.99)
                  ELSE 0.0 END) * 10000 + 0.5) / 10000 AS k_per_value_pct,
       coalesce(CAST(json_extract_string(props, '$.missing') AS DOUBLE), 0.0)
         AS missing_defaulted
FROM events
WHERE value >= 0 AND user_id IS NOT NULL
"""


def _filter_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter surface: BETWEEN, IN, IS NULL, LIKE, NOT, OR (SURVEY §2.B
    "Filters" row), aggregated to a compact deterministic result."""
    o = t(spark, sf_dir, "orders")
    kept = o.filter(
        (F.col("o_totalprice").between(50000, 200000))
        & (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        & (F.col("o_orderstatus") != "P")
        & (F.col("o_orderdate").isNotNull())
        & (~F.col("o_orderpriority").like("%LOW%"))
        & ((F.year("o_orderdate") == 1997) | (F.year("o_orderdate") == 1998))
    )
    return kept.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum("o_totalprice"), 2).alias("total"),
    )


_FILTER_KIT_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total
FROM orders
WHERE o_totalprice BETWEEN 50000 AND 200000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus <> 'P'
  AND o_orderdate IS NOT NULL
  AND o_orderpriority NOT LIKE '%LOW%'
  AND (year(o_orderdate) = 1997 OR year(o_orderdate) = 1998)
GROUP BY o_orderstatus, o_orderpriority
"""


def _parse_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_timestamp / date_format round trip (SURVEY §2.B datetime row):
    format a timestamp to a string and parse it back — the CSV-ingest
    datetime path (reference's inferred TIMESTAMP columns arrive as
    strings; agent-schema/app.py:39-40)."""
    o = t(spark, sf_dir, "orders")
    formatted = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    return o.select(
        "o_orderkey",
        formatted.alias("ts_str"),
        F.to_timestamp(formatted, "yyyy-MM-dd HH:mm:ss").alias("ts_roundtrip"),
        F.to_date(formatted.substr(1, 10), "yyyy-MM-dd").cast("timestamp").alias("date_part"),
    )


_PARSE_TIMESTAMPS_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
       strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
         AS ts_roundtrip,
       CAST(CAST(substr(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), 1, 10) AS DATE)
            AS TIMESTAMP) AS date_part
FROM orders
"""


def _udf_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF surface (SURVEY §2.B "UDF surface" row): a row-at-a-time Python
    UDF and a vectorized pandas_udf in one plan. Both are deterministic so
    the DuckDB oracle hash-checks them. The pandas_udf path is the one to
    imitate at scale (Arrow batches); the plain UDF exists for parity and
    is deliberately trivial — anything hot belongs in builtins or Arrow.
    Closures are self-contained (no module-level refs) so they unpickle on
    workers without the package installed."""

    @F.udf("string")
    def py_reverse(s):
        return None if s is None else s[::-1]

    @F.pandas_udf("long")
    def digit_sum(keys: pd.Series) -> pd.Series:
        return keys.astype("string").apply(lambda s: sum(int(c) for c in s)).astype("int64")

    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        py_reverse(F.col("p_name")).alias("name_rev"),
        digit_sum(F.col("p_partkey")).alias("key_digit_sum"),
    )


def _array_kit2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra kit: intersect/except/union (Spark's versions
    dedupe, so both sides canonicalize through sort+distinct), flatten,
    array_position (0 when absent; DuckDB list_position yields NULL —
    coalesced in the oracle), array_max over a transform, array_repeat.
    The token array is materialized behind an exchange (fns.spread
    force=True) so CollapseProject can't inline the split() per lambda
    element — the O(len^2) trap documented in dedup.shingles. Array
    outputs leave as concat_ws strings: the driver canon compares
    scalars, and a joined string pins element order exactly."""
    from ..fns import spread

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = F.slice(F.split(F.lower(F.col("text")), " "), 1, 8)
    stop = F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to"]])
    mat = spread(d.select("doc_id", toks.alias("toks"), stop.alias("stop")), force=True)
    return mat.select(
        "doc_id",
        F.concat_ws(",", F.array_sort(F.array_intersect("toks", "stop"))).alias(
            "stop_hits"
        ),
        F.concat_ws(",", F.array_sort(F.array_except("toks", "stop"))).alias(
            "content_toks"
        ),
        F.concat_ws(",", F.array_sort(F.array_union("toks", "stop"))).alias(
            "all_toks"
        ),
        F.concat_ws(",", F.flatten(F.array(F.col("toks"), F.col("stop")))).alias(
            "flat_toks"
        ),
        F.array_position("toks", "the").cast("long").alias("pos_the"),
        F.array_max(F.transform("toks", lambda x: F.length(x))).alias("max_tok_len"),
        F.concat_ws(",", F.array_repeat(F.lit("x"), (F.col("doc_id") % 3).cast("int")))
        .alias("repeated"),
    )


_ARRAY_KIT2_SQL = """
WITH base AS (
  SELECT doc_id,
         string_split(lower(text), ' ')[1:8] AS toks,
         ['the','a','of','and','to'] AS stop
  FROM documents WHERE doc_id < 500
)
SELECT doc_id,
       coalesce(array_to_string(list_sort(list_distinct(
           list_filter(toks, x -> list_contains(stop, x)))), ','), '') AS stop_hits,
       coalesce(array_to_string(list_sort(list_distinct(
           list_filter(toks, x -> NOT list_contains(stop, x)))), ','), '') AS content_toks,
       coalesce(array_to_string(list_sort(list_distinct(flatten([toks, stop]))), ','), '')
         AS all_toks,
       coalesce(array_to_string(flatten([toks, stop]), ','), '') AS flat_toks,
       CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT) AS pos_the,
       list_max(list_transform(toks, x -> length(x))) AS max_tok_len,
       coalesce(array_to_string(list_transform(range(doc_id % 3), x -> 'x'), ','), '') AS repeated
FROM base
"""


def _try_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant scalar surface (ANSI-mode-safe ingestion): try_cast,
    try_divide, try_to_timestamp return NULL instead of raising on
    malformed input — the behavior a 100 TB ingest needs, where one bad
    row in a trillion must not kill the job. Exercises both the success
    path (numeric prefix of o_orderpriority) and the failure path (the
    full string)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.expr("try_cast(split_part(o_orderpriority, '-', 1) AS INT)").alias(
            "prio_code"
        ),
        F.expr("try_cast(o_orderpriority AS INT)").alias("bad_cast"),
        rnd(F.expr("try_divide(o_totalprice, o_orderkey % 3)"), 4).alias(
            "safe_ratio"
        ),
        F.expr("try_to_timestamp(date_format(o_orderdate, 'yyyy-MM-dd'))").alias(
            "ts_ok"
        ),
        F.expr("try_to_timestamp(o_orderpriority)").alias("ts_bad"),
    )


_TRY_SCALARS_SQL = """
SELECT o_orderkey,
       TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_code,
       TRY_CAST(o_orderpriority AS INT) AS bad_cast,
       floor((o_totalprice / nullif(o_orderkey % 3, 0)) * 10000 + 0.5) / 10000
         AS safe_ratio,
       TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) AS ts_ok,
       TRY_CAST(o_orderpriority AS TIMESTAMP) AS ts_bad
FROM orders WHERE o_orderkey < 2000
"""


def _content_hash_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressing scalars: md5 / sha2-256 digests (the canonical
    dedup + shard keys — exact_dedup builds on sha2), base64 and hex
    encodings for binary-safe transport columns. All JVM codegen'd
    builtins; digests hash the full document text in one pass."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    head = F.substring("text", 1, 16)
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.base64(head.cast("binary")).alias("head_b64"),
        F.lower(F.hex(head)).alias("head_hex"),
    )


_CONTENT_HASH_KIT_SQL = """
SELECT doc_id,
       md5(text) AS md5_hex,
       sha256(text) AS sha256_hex,
       to_base64(encode(substr(text, 1, 16))) AS head_b64,
       lower(hex(substr(text, 1, 16))) AS head_hex
FROM documents WHERE doc_id < 500
"""


def _grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the UDF surface with a GROUPED_AGG pandas UDF (Arrow
    batches in, one scalar out per group): deterministic weighted mean
    with integer weights derived from the key. Grouped-agg UDFs have no
    partial aggregation — all group rows shuffle to the aggregator — so
    at scale they're for bounded groups; algebraic aggregates stay in
    builtins (rnd absorbs summation-order ulps)."""

    @F.pandas_udf("double")
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    o = t(spark, sf_dir, "orders").withColumn(
        "w", (F.col("o_orderkey") % 10 + 1).cast("double")
    )
    return o.groupBy("o_orderstatus").agg(
        rnd(wmean(F.col("o_totalprice"), F.col("w")), 4).alias("weighted_price")
    )


_GROUPED_AGG_UDF_SQL = """
SELECT o_orderstatus,
       floor((sum(o_totalprice * (o_orderkey % 10 + 1)) / sum(o_orderkey % 10 + 1))
             * 10000 + 0.5) / 10000 AS weighted_price
FROM orders GROUP BY o_orderstatus
"""


def _udtf_first_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table function): one input row ->
    N output rows through a lateral join, the generic escape hatch for
    1-to-N row logic builtins can't express. Row-at-a-time Python — the
    slow path by design; production 1-to-N goes through explode or
    mapInPandas (frame_sample_manifest). Self-contained class so workers
    unpickle it without the package."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, word: string")
    class FirstWords:
        def eval(self, text: str, k: int):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")[:k]):
                yield i, w

    spark.udtf.register("adps_first_words", FirstWords)
    return spark.sql(
        "SELECT doc_id, f.pos, f.word FROM {docs}, LATERAL adps_first_words(text, 3) AS f",
        docs=t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50),
    )


_UDTF_FIRST_WORDS_SQL = """
SELECT doc_id,
       unnest(range(least(3, len(string_split(text, ' '))))) AS pos,
       unnest(string_split(text, ' ')[1:3]) AS word
FROM documents WHERE doc_id < 50
"""


_UDF_KIT_SQL = """
SELECT p_partkey,
       reverse(p_name) AS name_rev,
       CAST(list_aggregate(list_transform(string_split(CAST(p_partkey AS VARCHAR), ''),
                                          x -> CAST(x AS BIGINT)), 'sum') AS BIGINT)
         AS key_digit_sum
FROM part
"""


def _map_explode_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar surface: build a map<string,double> per row with
    `create_map`, explode it to (key, value) pairs, aggregate per key.
    The explode doubles row count BEFORE the shuffle — fine here because
    the shuffle carries only the partial aggregates (map-side combine),
    the melted rows never move."""
    l = t(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("disc"), F.col("l_discount").cast("double"),
    )
    return (
        l.select(F.explode(m).alias("metric", "val"))
        .groupBy("metric")
        .agg(F.count(F.lit(1)).alias("n"), rnd(F.sum("val"), 2).alias("total"))
    )


_MAP_EXPLODE_METRICS_SQL = """
SELECT metric, count(*) AS n, floor(sum(val) * 100 + 0.5) / 100 AS total
FROM (SELECT unnest([{'metric': 'qty',  'val': l_quantity},
                     {'metric': 'disc', 'val': l_discount}], recursive := true)
      FROM lineitem)
GROUP BY metric
"""


def _null_array_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covers the two §2.B scalar items no other query exercises:
    DataFrame.fillna (null default over a nullif-derived column) and
    array_contains membership."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.expr("nullif(o_orderstatus, 'O')").alias("status_nn"),
        F.array(F.col("o_orderpriority"), F.col("o_orderstatus")).alias("arr"),
    )
    return base.fillna({"status_nn": "OPEN"}).select(
        "o_orderkey",
        "status_nn",
        F.array_contains("arr", "1-URGENT").alias("is_urgent"),
    )


_NULL_ARRAY_KIT_SQL = """
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_nn,
       list_contains([o_orderpriority, o_orderstatus], '1-URGENT') AS is_urgent
FROM orders
"""


QUERIES: dict[str, QuerySpec] = {
    "null_array_kit": QuerySpec(
        _null_array_kit, _NULL_ARRAY_KIT_SQL, "fillna + array_contains"
    ),
    "map_explode_metrics": QuerySpec(
        _map_explode_metrics, _MAP_EXPLODE_METRICS_SQL, "map construction + explode"
    ),
    "datetime_scalars": QuerySpec(_datetime_scalars, _DATETIME_SCALARS_SQL, "datetime kit"),
    "parse_timestamps": QuerySpec(_parse_timestamps, _PARSE_TIMESTAMPS_SQL, "to_timestamp round trip"),
    "udf_kit": QuerySpec(_udf_kit, _UDF_KIT_SQL, "Python UDF + pandas_udf surface"),
    "array_kit2": QuerySpec(
        _array_kit2, _ARRAY_KIT2_SQL, "array set algebra + position/max/repeat"
    ),
    "try_scalars": QuerySpec(
        _try_scalars, _TRY_SCALARS_SQL, "try_cast/try_divide/try_to_timestamp"
    ),
    "content_hash_kit": QuerySpec(
        _content_hash_kit, _CONTENT_HASH_KIT_SQL, "md5/sha256/base64/hex content addressing"
    ),
    "grouped_agg_udf": QuerySpec(
        _grouped_agg_udf, _GROUPED_AGG_UDF_SQL, "GROUPED_AGG pandas UDF (weighted mean)"
    ),
    "udtf_first_words": QuerySpec(
        _udtf_first_words, _UDTF_FIRST_WORDS_SQL, "Python UDTF lateral join"
    ),
    "conditional_scalars": QuerySpec(
        _conditional_scalars, _CONDITIONAL_SCALARS_SQL, "E3-E7 CASE/COALESCE shapes"
    ),
    "string_scalars": QuerySpec(_string_scalars, _STRING_SCALARS_SQL, "string kit"),
    "string_kit2": QuerySpec(_string_kit2, _STRING_KIT2_SQL, "levenshtein + string kit 2"),
    "math_scalars": QuerySpec(_math_scalars, _MATH_SCALARS_SQL, "math kit"),
    "json_extract_agg": QuerySpec(_json_extract, _JSON_EXTRACT_SQL, "JSON path extract"),
    "array_ops": QuerySpec(_array_ops, _ARRAY_OPS_SQL, "array kit + higher-order agg"),
    "posexplode_embeddings": QuerySpec(_posexplode_embeddings, _POSEXPLODE_SQL, "posexplode"),
    "events_cleaned": QuerySpec(
        _events_cleaned, _EVENTS_CLEANED_SQL, "reference transform parity (E1-E7 on events)"
    ),
    "filter_kit": QuerySpec(_filter_kit, _FILTER_KIT_SQL, "filter surface"),
}
