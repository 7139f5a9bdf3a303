"""Watermarked stream-stream joins (B9): event attribution.

The canonical Structured Streaming join: match each `first_type` event
(e.g. a view) to the `then_type` events (e.g. clicks) of the SAME user
that occur within a bounded window after it. Both sides are
watermarked and the join condition carries an explicit time range —
that is what lets Spark bound the join state: a buffered row is
evicted as soon as the other side's watermark passes the latest time
it could still match (state ≈ watermark-window of events per key, not
the whole stream).

Semantics, stated precisely:
- inner: each matched (first, then) pair emits exactly once, as soon
  as both rows have arrived — the streaming result over a finite
  source equals the batch join on the same data (pinned in
  tests/test_streaming_joins.py).
- left_outer: unmatched `first` rows can only emit once the watermark
  proves no match can still arrive, so a finite stream's tail (rows
  younger than watermark + window at end-of-input) never emits its
  null matches. Streaming output is therefore a SUBSET of the batch
  left join whose matched rows agree exactly — the documented,
  correct behavior, not a bug (the stream never "ends" in
  production).

The same builder runs unchanged on a batch DataFrame (watermarks are
only attached to streaming inputs), which is what gives q138 its
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def event_attribution(
    events: DataFrame,
    first_type: str = "view",
    then_type: str = "click",
    within: str = "10 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Join `first_type` events to same-user `then_type` events with
    ``first_ts <= then_ts <= first_ts + within``.

    Returns (user_id, first_id, first_ts, then_id, then_ts,
    then_value); for left_outer the then_* columns are null on
    unmatched rows. Works on a streaming OR batch events frame with
    columns (event_id, ts, user_id, event_type, value).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type: {how}")
    a = events.filter(F.col("event_type") == first_type).select(
        F.col("user_id").alias("u_a"),
        F.col("event_id").alias("first_id"),
        F.col("ts").alias("first_ts"),
    )
    b = events.filter(F.col("event_type") == then_type).select(
        F.col("user_id").alias("u_b"),
        F.col("event_id").alias("then_id"),
        F.col("ts").alias("then_ts"),
        F.col("value").alias("then_value"),
    )
    if events.isStreaming:
        # watermarks require TIMESTAMP (tz-aware); the catalog's ntz
        # event time casts losslessly under the engine's UTC session tz
        a = a.withColumn(
            "first_ts", F.col("first_ts").cast("timestamp")
        ).withWatermark("first_ts", watermark)
        b = b.withColumn(
            "then_ts", F.col("then_ts").cast("timestamp")
        ).withWatermark("then_ts", watermark)
    cond = (
        (F.col("u_a") == F.col("u_b"))
        & (F.col("then_ts") >= F.col("first_ts"))
        & (F.col("then_ts") <= F.col("first_ts") + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, how).select(
        F.col("u_a").alias("user_id"),
        "first_id",
        "first_ts",
        "then_id",
        "then_ts",
        "then_value",
    )


def static_enrichment(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
    bucket: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup per dimension
    attribute — the most common production streaming shape (enrich a
    fact stream against a slowly-changing dimension) and the one
    stream-join variant this module lacked next to the stream-stream
    attribution above.

    Semantics Spark gives stream-static joins: the static side is
    re-read per micro-batch (so a dimension REPLACED between batches
    is picked up — pair with the snapshot table format for atomic
    swaps), no state is kept for it, and an inner join never blocks
    on watermarks — the watermark below only bounds the windowed
    aggregation state. The dimension is broadcast: never let a
    million-row micro-batch shuffle against a dimension scan.

    Runs unchanged on a batch events frame (watermark only attaches
    to streaming inputs), which is what gives the registered query
    its DuckDB oracle (the q70 shared-plan pattern).
    """
    from .windows import with_watermark

    ev = events
    if ev.isStreaming:
        ev = with_watermark(ev, watermark)
    enriched = ev.join(
        F.broadcast(dim.select(F.col(dim_key).alias(stream_key), dim_attr)),
        stream_key,
        "inner",
    )
    return (
        enriched.groupBy(
            F.window("ts", bucket).alias("w"),
            F.col(dim_attr).alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")), 6
            ).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
