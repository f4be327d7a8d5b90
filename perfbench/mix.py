"""The frozen analytics query list.

The names are registry queries (``agent_data_pipeline_spark.queries``),
listed here rather than imported from ``bench.HEADLINE`` so that edits
elsewhere cannot change the benchmark. Each maps to the layer whose code
does the query's work: ``ops`` for queries built on ``ops/`` (as-of joins,
time series, skew salting, sessionizing), ``streaming`` for the
watermark-window replays, ``queries`` for the rest.
"""

QUERIES = {
    # relational joins, aggregates and windows
    "pricing_summary": "queries",
    "left_join_counts": "queries",
    "range_join_60d": "queries",
    "top3_orders_per_customer": "queries",
    "moving_avg": "queries",
    # event time and JSON
    "tumbling_hourly": "queries",
    "json_extract_agg": "queries",
    # built on ops/
    "asof_purchases": "ops",
    "hypertable_rollup": "ops",
    "salted_agg_by_flag": "ops",
    "session_windows": "ops",
    # Structured Streaming replays of the events file
    "stream_tumbling_hourly": "streaming",
    "stream_dedup_watermark": "streaming",
}
