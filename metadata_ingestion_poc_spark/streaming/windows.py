"""Event-time window aggregations, usable in BOTH batch and streaming.

The same function builds the plan for a static DataFrame and a
streaming one — Structured Streaming's core design point. Batch runs
of these are what the DuckDB oracle checks (time_bucket equivalents);
streaming runs add a watermark and are covered by tests with the
availableNow trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import DEC


def with_watermark(events: DataFrame, watermark: str) -> DataFrame:
    """Watermarks require TIMESTAMP (tz-aware); the catalog's ntz event
    time is cast losslessly under the engine's UTC session timezone."""
    return events.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Events per (event_type, tumbling window): count + exact value sum."""
    if watermark:
        events = with_watermark(events, watermark)
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 6)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding-window event counts (each event lands in width/slide windows)."""
    if watermark:
        events = with_watermark(events, watermark)
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
        )
    )


def session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Per-user session windows (gap-based), start/end/count/value sum.

    Session end follows Spark semantics: last event time + gap.
    """
    if watermark:
        events = with_watermark(events, watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 6)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
