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
  append (overwrite on initial load).

Scale notes: the HUB merge anti-joins the table against the batch's
key columns as they arrive (no ``distinct``, so no shuffle): a batch
small enough to broadcast makes the merge one scan of the table with
no exchange. The rewrite is sized by bytes (``coalesce_to_size``), so
a small HUB is one file, not one per core. The merge records the
table's schema in its commit marker, so neither it nor ``read_hub``
runs a schema-inference job while the table holds the files that
commit wrote. It still rewrites the whole table: at 100 TB you bucket
the HUB table by the keys (or rely on Delta's dynamic file pruning)
so the merge only rewrites touched files.
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
    from the incoming batch, union the batch, swap atomically-enough
    via a staging directory (single-writer assumption, like the POC).
    Schema evolution = unionByName(allowMissingColumns=True).

    Divergence from Delta MERGE, on purpose: an incoming batch with
    duplicate keys is accepted as-is (all its rows land), where MERGE
    raises on multiple source matches. Callers that need latest-wins
    batch semantics reduce first (see streaming.pipeline's order_col).
    """
    target = Path(path)
    recover(target)
    if not keys:
        mode = "append" if target.exists() else "overwrite"
        df.write.mode(mode).parquet(path)
        return
    if not target.exists():
        df.write.mode("overwrite").parquet(path)
        return

    # left-anti keeps the same rows whatever duplicate keys the right
    # side holds, so the batch's keys need no distinct (and no shuffle)
    kept = _read_table(spark, path).join(df.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(df, allowMissingColumns=True)

    staging = staging_dir(target)
    coalesce_to_size(merged).write.mode("overwrite").parquet(str(staging))
    # the union with a parquet read is nullable throughout, as Spark
    # infers the written files back
    commit_swap(target, staging, {"schema": merged.schema.jsonValue()})


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at `path`. While the table holds exactly the
    files its last merge committed, it is read with the schema that
    commit recorded; otherwise (no record, a torn one, or a file
    added or removed since) Spark infers the schema, which costs a job."""
    record = commit_record(Path(path))
    if record is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(record["schema"])).parquet(path)


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
    recover(Path(path))
    return _read_table(spark, path)
