"""Incremental time-bucket rollup (continuous aggregate).

The "hypertable rollup" pattern: keep a pre-aggregated table keyed by
(window_start, dims...) and fold each new micro-batch/partition of raw
events into it ADDITIVELY — never recompute history. Works because the
maintained aggregates (count, sum — and avg = sum/count at read time)
are commutative monoids, so merging partials is exact.

Delivery contract: foreachBatch is AT-LEAST-once (a crashed
micro-batch is replayed with the same batch_id), so the fold must be
idempotent per batch. Callers pass the foreachBatch ``batch_id``; the
rollup dir keeps a ``_folded/<batch_id>`` marker per folded batch and
a replayed batch is a no-op. A fold rewrites the table through
writer.rewrite_table, which writes its new marker into the staging dir
while staging.commit_swap carries the earlier ones over, so data and
fold-log commit atomically and every rewrite keeps the log.
Late data is handled naturally — it lands in its own window's bucket
and merges in.

At 100 TB the rollup table is orders of magnitude smaller than the
events; the fold shuffles only the BATCH's partial aggregate (tiny)
plus a keyed merge into the rollup — cost is O(batch), not O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import DEC
from ..staging import batch_ids
from ..writer import read_table, rewrite_table


def rollup_batch(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Partial aggregate of one raw batch → rollup rows."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_FOLDED = "_folded"


def fold_into_rollup(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    width: str = "1 hour",
    batch_id: int | str | None = None,
) -> None:
    """Fold a raw-events batch into the rollup table at `path`.

    Additive merge: existing ⊎ incoming on (window_start, event_type),
    summing the partial aggregates. Written via the crash-safe
    staging-dir swap in staging.py (single-writer contract; with Delta
    available this becomes MERGE ... WHEN MATCHED UPDATE SET
    n = t.n + s.n).

    batch_id makes the fold idempotent under at-least-once replay
    (foreachBatch): a batch id already recorded in the table's
    ``_folded`` marker dir is skipped, so a retried micro-batch never
    double-counts. Pass foreachBatch's epoch id here. None (ad-hoc
    batch folds) skips the bookkeeping.
    """
    existing = read_table(spark, path)
    if batch_id is not None and str(batch_id) in batch_ids(path, _FOLDED):
        return

    partial = rollup_batch(batch, width)
    merged = partial if existing is None else (
        existing.unionByName(partial)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    rewrite_table(merged, path, (_FOLDED, batch_id))


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Rollup with derived columns (avg at read time — exact, since
    sum and count merged exactly)."""
    r = read_table(spark, path)
    if r is None:
        raise FileNotFoundError(f"no rollup table at {path}")
    return r.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(F.col("sum_value"), 6).cast("double").alias("total_value"),
        F.round(F.col("sum_value").cast("double") / F.col("n_events"), 6).alias(
            "avg_value"
        ),
    )
