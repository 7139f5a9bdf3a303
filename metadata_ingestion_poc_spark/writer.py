"""Zone writers: RAW (partitioned append parquet) and HUB (keyed upsert).

Parity with the reference's writer (writer.py:9-36 in /root/reference),
with two deliberate upgrades:

- Delta Lake is used when available (same MERGE semantics, schema
  autoMerge on); otherwise a pure-Spark merge emulation provides the
  same keyed-upsert contract: existing-anti-join ∪ incoming, written
  to a staging dir and swapped in. The emulation is also the portable
  upsert pattern when Delta isn't an option.
- The reference's keyless edge case is preserved: no primary keys →
  merge condition would be literal false → every row inserts, i.e.
  append (which creates the table on initial load).

Every staged parquet table (the HUB, the rollup, the admitted corpus,
a compacted table) is read by ``read_table`` and replaced by
``rewrite_table``: the staging write, an optional batch-ledger mark,
the schema record and the swap of staging.py, in one place.

Scale notes: the HUB merge anti-joins the table against the batch's
key columns as they arrive (no ``distinct``, so no shuffle): a batch
small enough to broadcast makes the merge one scan of the table with
no exchange. The rewrite is sized by bytes (``coalesce_to_size``), so
a small HUB is one file, not one per core. Every rewrite, the first
one included, records the table's schema in its commit marker, so no
reader of a staged table runs a schema-inference job while the table
holds the files that commit wrote. The merge still rewrites the whole
table: at 100 TB you bucket the HUB table by the keys (or rely on
Delta's dynamic file pruning) so the merge only rewrites touched
files.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .execution import coalesce_to_size
from .staging import commit_record, commit_swap, recover, staging_dir


def write_raw(df: DataFrame, path: str, partitions: list[str]) -> None:
    """Append-only partitioned parquet (RAW zone)."""
    writer = df.write.mode("append")
    if partitions:
        writer = writer.partitionBy(*partitions)
    writer.parquet(path)


def _delta_available(spark: SparkSession) -> bool:
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    # jars must actually be on the classpath, not just the python pkg
    try:
        spark._jvm.io.delta.tables.DeltaTable  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def _write_hub_delta(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    from delta.tables import DeltaTable

    spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
    if DeltaTable.isDeltaTable(spark, path):
        cond = (
            " AND ".join(f"t.{k} = s.{k}" for k in keys) if keys else "false"
        )
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
    else:
        df.write.format("delta").mode("overwrite" if not keys else "append").save(
            path
        )


def _write_hub_parquet_merge(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    """Pure-Spark keyed upsert: keep existing rows whose key is absent
    from the incoming batch, union the batch, and rewrite the table
    through :func:`rewrite_table` (single-writer assumption, like the
    POC); the first write is the batch alone, through the same swap.
    Schema evolution = unionByName(allowMissingColumns=True). No keys:
    a plain append, which creates an absent table.

    Divergence from Delta MERGE, on purpose: an incoming batch with
    duplicate keys is accepted as-is (all its rows land), where MERGE
    raises on multiple source matches. Callers that need latest-wins
    batch semantics reduce first (see streaming.pipeline's order_col).
    """
    if not keys:
        recover(Path(path))  # a compaction's swap may be half done
        write_raw(df, path, [])
        return
    hub = read_table(spark, path)
    # left-anti keeps the same rows whatever duplicate keys the right
    # side holds, so the batch's keys need no distinct (and no shuffle)
    merged = df if hub is None else (
        hub.join(df.select(*keys), on=keys, how="left_anti")
        .unionByName(df, allowMissingColumns=True)
    )
    rewrite_table(coalesce_to_size(merged), path)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The staged parquet table at `path`, None when there is none.

    Runs :func:`recover` first. While the table holds exactly the files
    its last :func:`rewrite_table` committed, it is read with the schema
    that commit recorded; otherwise (no record, a torn one, or a file
    added or removed since) Spark infers the schema, which costs a job.
    """
    target = Path(path)
    recover(target)
    if not target.exists():
        return None
    record = commit_record(target)
    if record is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(record["schema"])).parquet(path)


def rewrite_table(
    df: DataFrame, path: str, mark: tuple[str, int | str | None] | None = None
) -> None:
    """Replace (or create) the table at `path` with `df` through the
    staging swap. `mark` (ledger, batch_id) adds the id to that ledger
    in staging, so data and ledger commit together; a None id marks
    nothing. The recorded schema is `df`'s as Spark resolves it over
    the written files: a file source reads every column, array element,
    map value and struct field as nullable, so the record equals the
    inferred schema, and resolving it runs no job."""
    target = Path(path)
    staging = staging_dir(target)
    df.write.mode("overwrite").parquet(str(staging))
    if mark is not None and mark[1] is not None:
        ledger, batch_id = mark
        (staging / ledger).mkdir(exist_ok=True)
        (staging / ledger / str(batch_id)).touch()
    schema = df.sparkSession.read.schema(df.schema).parquet(str(staging)).schema
    commit_swap(target, staging, {"schema": schema.jsonValue()})


def write_hub(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
) -> None:
    """Keyed upsert into the HUB zone (Delta when available)."""
    if _delta_available(spark):
        _write_hub_delta(spark, df, path, keys)
    else:
        _write_hub_parquet_merge(spark, df, path, keys)


def read_hub(spark: SparkSession, path: str) -> DataFrame:
    if _delta_available(spark):
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            return spark.read.format("delta").load(path)
    hub = read_table(spark, path)
    if hub is None:
        raise FileNotFoundError(f"no HUB table at {path}")
    return hub
