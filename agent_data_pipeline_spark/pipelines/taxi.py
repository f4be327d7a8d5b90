"""The reference's end-to-end pipeline, re-expressed as two Spark jobs.

Parity map (SURVEY.md §3.1-§3.2):
  * ingest (§3.1, dags/pipeline_orchestrator.py:98-123): the agent-schema
    call + NiFi CSV drain collapse into ``ensure_table`` (sampled infer +
    additive DDL) followed by a distributed CSV scan appended to the raw
    table, bound to the table's columns by name. Boundaries #1-#5 of the
    reference become driver->executor task scheduling inside one app.
  * transform (§3.2, dags/taxi_transform_dag.py:27-86): validate-raw gate
    (A1, a one-row probe), then filter F1 + derivations E1-E7 +
    full-refresh overwrite (S5).
  * summary (dags/taxi_transform_dag.py:89-100): global A2 aggregates,
    observed on the overwrite job itself, so the cleaned rows are never
    read back.

Semantics gotchas preserved exactly (SURVEY.md §2.C):
  1. Postgres EXTRACT(dow) is 0=Sunday..6 -> ``dayofweek(ts)-1``.
  2. Division guards return 0, not NULL (when/otherwise(0)).
  3. Tip-percentage cap 999.99 applies AFTER the x100.
  4. Strict predicates: dropoff > pickup, distance > 0, total >= 0.
  5. Full refresh = mode("overwrite"), never append.
  7. Money stays DOUBLE (no decimal) for hash parity.

Scale notes: the whole transform is one narrow stage (filter + per-row
scalars — no shuffle at all), so it scales linearly with input splits;
the summary's count and averages are per-task partial aggregates merged
on the driver by ``observe``, with no shuffle and no second scan. The
cleaned sink partitions by pickup month so 100 TB of trips lands
partition-pruned for the dominant time-windowed reads.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.observe import observed
from ..schema import bind_csv_columns, ensure_table
from ..schema.evolve import EvolutionPlan

#: payment_type decode (taxi_transform_dag.py:61-64). A literal CASE ladder,
#: not a join: 5 entries is driver-side constant folding territory.
_PAYMENT_LABELS = [
    (1, "Credit Card"),
    (2, "Cash"),
    (3, "No Charge"),
    (4, "Dispute"),
]

#: trip_category thresholds, order-dependent (taxi_transform_dag.py:67-72).
_TRIP_BUCKETS = [
    (5, "Very Short"),
    (15, "Short"),
    (30, "Medium"),
    (60, "Long"),
]


def ingest_csv(
    spark: SparkSession,
    path: str,
    table: str,
    zone: str | None = None,
    location: str | None = None,
) -> EvolutionPlan:
    """§3.1: evolve-then-load. Sampled inference + additive DDL, then a
    distributed CSV read appended into the (possibly just-created) table.

    The CSV columns bind to the table's catalog columns by name
    (``bind_csv_columns``): a reordered header lands in the right
    columns, table columns the file lacks resolve as NULL — the same
    additive contract as the reference's ALTER TABLE policy — and a file
    whose header differs from the first file's fails the read."""
    plan = ensure_table(spark, path, table, zone=zone, location=location)
    read_schema, columns = bind_csv_columns(
        spark, path, spark.table(plan.qualified).schema
    )
    df = (
        spark.read.option("header", "true")
        .option("enforceSchema", "false")
        .schema(read_schema)
        .csv(path)
        .select(*columns)
    )
    df.write.mode("append").insertInto(plan.qualified)
    return plan


def validate_nonempty(df: DataFrame, what: str = "input") -> int:
    """A1 gate (taxi_transform_dag.py:29-33): count, raise if empty."""
    n = df.count()
    if n == 0:
        raise ValueError(f"No data in {what}")
    return n


def _duration_minutes(pickup: str, dropoff: str):
    # E1 (taxi_transform_dag.py:54): EXTRACT(EPOCH FROM (t2-t1))/60.
    # double-cast keeps sub-second parts, matching Postgres interval math.
    return (F.col(dropoff).cast("double") - F.col(pickup).cast("double")) / 60.0


def clean_taxi_trips(raw: DataFrame) -> DataFrame:
    """F1 + P1 + E1-E7: raw trips -> the 18-column cleaned projection
    (taxi_transform_dag.py:43-78)."""
    dur = _duration_minutes("tpep_pickup_datetime", "tpep_dropoff_datetime")

    payment = F.when(F.lit(False), None)
    for code, label in _PAYMENT_LABELS:
        payment = payment.when(F.col("payment_type") == code, label)
    payment = payment.otherwise("Other")

    category = F.when(F.lit(False), None)
    for upper, label in _TRIP_BUCKETS:
        category = category.when(dur < upper, label)
    category = category.otherwise("Very Long")

    return (
        raw.filter(
            (F.col("tpep_dropoff_datetime") > F.col("tpep_pickup_datetime"))
            & (F.col("trip_distance") > 0)
            & (F.col("total_amount") >= 0)
        )
        .select(
            F.col("tpep_pickup_datetime").alias("pickup_datetime"),
            F.col("tpep_dropoff_datetime").alias("dropoff_datetime"),
            dur.alias("trip_duration_minutes"),
            F.hour("tpep_pickup_datetime").cast("long").alias("pickup_hour"),
            # §2.C gotcha 1: Postgres dow is 0=Sunday.
            (F.dayofweek("tpep_pickup_datetime") - 1)
            .cast("long")
            .alias("pickup_day_of_week"),
            F.month("tpep_pickup_datetime").cast("long").alias("pickup_month"),
            F.col("trip_distance"),
            F.col("fare_amount"),
            F.col("tip_amount"),
            # E3: guarded ratio, cap AFTER x100, 0 (not NULL) on bad fare.
            F.when(
                F.col("fare_amount") > 0,
                F.least(
                    F.col("tip_amount") / F.col("fare_amount") * 100.0,
                    F.lit(999.99),
                ),
            )
            .otherwise(0.0)
            .alias("tip_percentage"),
            F.col("total_amount"),
            payment.alias("payment_method"),
            F.col("passenger_count"),
            # E5: guarded division, 0 not NULL.
            F.when(
                F.col("trip_distance") > 0,
                F.col("total_amount") / F.col("trip_distance"),
            )
            .otherwise(0.0)
            .alias("revenue_per_mile"),
            category.alias("trip_category"),
            F.coalesce(F.col("cbd_congestion_fee"), F.lit(0.0)).alias(
                "congestion_fee"
            ),
            F.col("PULocationID").alias("pickup_location_id"),
            F.col("DOLocationID").alias("dropoff_location_id"),
        )
    )


@dataclass
class TaxiSummary:
    """A2 (taxi_transform_dag.py:92-98): the single-group summary row."""

    total_trips: int
    avg_distance: float
    avg_total: float
    avg_tip_percentage: float


def _summary_metrics() -> dict:
    return {
        "total_trips": F.count(F.lit(1)),
        "avg_distance": F.avg("trip_distance"),
        "avg_total": F.avg("total_amount"),
        "avg_tip_percentage": F.avg("tip_percentage"),
    }


def taxi_summary(cleaned: DataFrame) -> TaxiSummary:
    """A2 over an already-cleaned frame, as one aggregation job."""
    row = cleaned.agg(*(c.alias(n) for n, c in _summary_metrics().items())).first()
    return TaxiSummary(*row)


def smoke_check(spark: SparkSession) -> bool:
    """O3 analog (dags/system_health_check_dag.py): engine liveness is one
    `SELECT 1`; there are no services left to probe."""
    return spark.sql("SELECT 1").first()[0] == 1


def run_taxi_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    cleaned_path: str,
) -> TaxiSummary:
    """§3.2 end to end: gate -> clean -> full-refresh write -> summary, in
    two Spark jobs.

    1. A one-row probe of ``raw`` raises ``No data in raw taxi trips``
       before ``cleaned_path`` is touched — the reference's A1 gate runs
       before its TRUNCATE.
    2. The overwrite (the reference's TRUNCATE+INSERT, gotcha 5),
       partitioned by pickup_month so time-window reads prune at scale.
       The A2 count and averages ride that job as ``observe`` metrics;
       the cleaned-empty gate and the summary read them instead of
       scanning what was just written."""
    # head(1) runs one task over the first split; isEmpty plans a
    # limit-then-count job over every split
    if not raw.select().head(1):
        raise ValueError("No data in raw taxi trips")
    cleaned, obs = observed(clean_taxi_trips(raw), _summary_metrics())
    cleaned.write.mode("overwrite").partitionBy("pickup_month").parquet(cleaned_path)
    stats = obs.get
    if stats["total_trips"] == 0:
        raise ValueError("No data in cleaned taxi trips")
    return TaxiSummary(**stats)
