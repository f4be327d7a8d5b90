"""Structured Streaming layer (SURVEY.md §2.B streaming, §7 stage 4)."""

from .core import (
    drain,
    drain_to_frame,
    foreach_batch_parquet_sink,
    session_window_agg,
    sliding_window_agg,
    stream_dedup,
    stream_ingest_csv,
    stream_parquet,
    stream_to_memory,
    tumbling_window_agg,
)
from .stateful import stateful_running_agg

__all__ = [
    "stateful_running_agg",
    "drain",
    "drain_to_frame",
    "foreach_batch_parquet_sink",
    "session_window_agg",
    "sliding_window_agg",
    "stream_dedup",
    "stream_ingest_csv",
    "stream_parquet",
    "stream_to_memory",
    "tumbling_window_agg",
]
