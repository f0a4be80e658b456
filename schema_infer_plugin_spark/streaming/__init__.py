"""Structured Streaming surface: incremental transcript validation."""

from schema_infer_plugin_spark.streaming.incremental import (
    dedup_stream,
    row_level_violations_stream,
    session_stats_stream,
    validation_sink,
    validation_stream,
    windowed_grid_counts_stream,
    windowed_histogram_stream,
    windowed_violation_rates,
)

__all__ = [
    "dedup_stream",
    "row_level_violations_stream",
    "session_stats_stream",
    "validation_sink",
    "validation_stream",
    "windowed_grid_counts_stream",
    "windowed_histogram_stream",
    "windowed_violation_rates",
]
