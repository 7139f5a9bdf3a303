"""Streaming ingestion: file-source streams, stateful dedup, and the
foreachBatch upsert sink that reuses the batch HUB writer.

This realizes the reference's reserved-but-unused checkpoint_base
(writer.py:18, sources.yaml:5 in /root/reference): every streaming
write takes a checkpoint location under it, giving exactly-once
file-source processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..writer import write_hub


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: new files under `path` become micro-batches."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def dedup_within_watermark(
    events: DataFrame, keys: list[str], ts_col: str, watermark: str
) -> DataFrame:
    """Stateful streaming dedup: drop key-duplicates arriving within the
    watermark horizon; state is bounded by the watermark (old keys are
    evicted), which is what makes it runnable forever at scale.
    """
    from pyspark.sql import functions as F

    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_upsert_to_hub(
    df: DataFrame,
    hub_path: str,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream → keyed HUB upsert via foreachBatch(write_hub).

    foreachBatch hands each micro-batch to the *batch* writer, so
    streaming and batch ingestion share one merge implementation —
    the idiomatic Spark pattern for upsert sinks.

    A micro-batch may contain several rows per key (a MERGE would
    reject that); when ``order_col`` is given, each batch is reduced to
    the latest row per key (max order_col, ties broken arbitrarily by
    that column only) before merging — latest-wins upsert semantics.

    Delivery contract: foreachBatch replays a crashed micro-batch
    (at-least-once). With ``keys`` the upsert is replay-idempotent by
    construction: a replay replaces the same keys with the same rows.
    A keyless HUB is a plain append (see writer.write_hub), so a
    replayed micro-batch appends its rows again — at-least-once
    table contents.
    """
    from ..operators.dedup import exact_dedup

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if order_col and keys:
            from pyspark.sql import functions as F

            batch_df = exact_dedup(
                batch_df, key_cols=keys, order_cols=[F.desc(order_col)]
            )
        write_hub(batch_df.sparkSession, batch_df, hub_path, keys)

    writer = (
        df.writeStream.foreachBatch(_upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_fold_rollup(
    events: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    width: str = "1 hour",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream → incremental rollup via foreachBatch(fold_into_rollup).

    Passes foreachBatch's epoch id through as the fold's ``batch_id``,
    so the at-least-once replay of a crashed micro-batch is a no-op
    (the fold keeps a per-batch marker log that commits atomically
    with the data — see operators/rollup.py). This is the
    streaming↔batch shared-implementation pattern of
    stream_upsert_to_hub applied to the additive-aggregate sink.
    """
    from ..operators.rollup import fold_into_rollup

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_into_rollup(
            batch_df.sparkSession,
            batch_df,
            rollup_path,
            width=width,
            batch_id=batch_id,
        )

    writer = (
        events.writeStream.foreachBatch(_fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
