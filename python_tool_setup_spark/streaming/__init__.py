"""Structured Streaming surface: autoloader-equivalent incremental file
ingestion, event-time windows, streaming dedup."""

from python_tool_setup_spark.streaming.autoloader import (
    run_autoloader,
    load_or_evolve_schema,
)
from python_tool_setup_spark.streaming.windows import (
    tumbling_window_agg,
    session_window_agg,
    streaming_dedup,
)

__all__ = [
    "run_autoloader",
    "load_or_evolve_schema",
    "tumbling_window_agg",
    "session_window_agg",
    "streaming_dedup",
]
