"""The parquet HUB merge's cost and its commit record.

The keyed merge records the table's schema in its commit marker, so
it and ``read_hub`` skip Spark's schema-inference job while the table
holds exactly the files that commit wrote; it anti-joins against the
batch's keys without a shuffle; and it writes a small table as one
file. These tests pin each of those, and that the record is ignored
(the reader infers) once it no longer describes the table.
"""

from __future__ import annotations

from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metadata_ingestion_poc_spark.staging import COMMIT_MARKER, commit_record, data_files
from metadata_ingestion_poc_spark.writer import _write_hub_parquet_merge, read_hub

COMPOSITE = (
    ["d", "e"],
    [
        [{"d": "x", "e": 1, "v": 10}, {"d": "x", "e": 2, "v": 20}],
        [{"d": "x", "e": 1, "v": 11}, {"d": "y", "e": 1, "v": 30}],
        [{"d": "y", "e": 2, "v": 40}],
    ],
)
EVOLVING = (
    ["pk"],
    [
        [{"pk": 1, "v": 1.0}],
        [{"pk": 2, "v": 2.0, "extra": "new-col"}],
        [{"pk": 1, "v": 1.5}],
        [{"pk": 3, "v": 3.0, "tags": ["a", "b"], "m": {"k": 1}}],
    ],
)


def _batch(spark, rows: list[dict]):
    """`rows` as ``framework.run_source`` hands a batch to the merge:
    cached, and materialised by the RAW write, so its size is known."""
    df = spark.createDataFrame([Row(**r) for r in rows]).cache()
    df.count()
    return df


def _merge(spark, path: Path, rows: list[dict], keys: list[str]) -> None:
    df = _batch(spark, rows)
    try:
        _write_hub_parquet_merge(spark, df, str(path), keys)
    finally:
        df.unpersist()


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("case", [COMPOSITE, EVOLVING], ids=["composite_key", "schema_evolution"])
def test_recorded_schema_is_the_inferred_schema(spark, tmp_path, case):
    keys, batches = case
    path = tmp_path / "hub"
    for i, batch in enumerate(batches):
        _merge(spark, path, batch, keys)
        if i == 0:
            continue  # the first write creates the table and records nothing
        record = commit_record(path)
        assert record is not None, f"no record after merge {i}"
        assert StructType.fromJson(record["schema"]) == spark.read.parquet(str(path)).schema
        assert read_hub(spark, str(path)).schema == spark.read.parquet(str(path)).schema


def test_recorded_schema_of_non_nullable_columns(spark, tmp_path):
    """Audit-style columns (literals, ``current_timestamp``) and nested
    literals are non-nullable in the batch; the record still matches
    what Spark infers from the files, which is nullable throughout."""
    path = tmp_path / "hub"
    for i in range(3):
        df = (
            spark.range(i, i + 2)
            .withColumn("ts", F.current_timestamp())
            .withColumn("tags", F.array(F.lit("a")))
            .withColumn("m", F.create_map(F.lit("k"), F.lit(1)))
            .cache()
        )
        df.count()
        _write_hub_parquet_merge(spark, df, str(path), ["id"])
        df.unpersist()
    record = commit_record(path)
    assert StructType.fromJson(record["schema"]) == spark.read.parquet(str(path)).schema


def test_foreign_file_makes_the_reader_infer(spark, tmp_path):
    keys, batches = EVOLVING
    path = tmp_path / "hub"
    for batch in batches[:2]:
        _merge(spark, path, batch, keys)
    assert commit_record(path) is not None
    spark.createDataFrame([Row(pk=9, v=9.0, extra="e", late="x")]).write.mode(
        "append"
    ).parquet(str(path))
    assert commit_record(path) is None
    # merged footers, so the inferred schema does not depend on which
    # file Spark happens to read first
    with _conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        hub = read_hub(spark, str(path))
        assert "late" in hub.columns
        assert sorted(r.pk for r in hub.collect()) == [1, 2, 9]


def test_torn_record_makes_the_reader_infer(spark, tmp_path):
    keys, batches = EVOLVING
    path = tmp_path / "hub"
    for batch in batches[:2]:
        _merge(spark, path, batch, keys)
    marker = path / COMMIT_MARKER
    marker.write_text(marker.read_text()[:20])
    assert commit_record(path) is None
    hub = read_hub(spark, str(path))
    assert hub.schema == spark.read.parquet(str(path)).schema
    assert sorted(r.pk for r in hub.collect()) == [1, 2]


def test_keyed_merge_into_an_existing_hub_runs_two_jobs(spark, tmp_path):
    """The staging write and the broadcast of the batch's keys: no
    schema-inference job and no shuffle for a distinct."""
    keys, batches = COMPOSITE
    path = tmp_path / "hub"
    for batch in batches[:2]:
        _merge(spark, path, batch, keys)
    batch = _batch(spark, batches[2])
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    sc.addJobTag("hub-merge")
    try:
        _write_hub_parquet_merge(spark, batch, str(path), keys)
    finally:
        sc.removeJobTag("hub-merge")
        batch.unpersist()
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = list(jvm_sc.statusTracker().getJobIdsForTag("hub-merge"))
    assert 0 < len(jobs) <= 2, f"the merge ran {len(jobs)} jobs"


def test_small_merge_writes_one_file(spark, tmp_path):
    keys, batches = COMPOSITE
    path = tmp_path / "hub"
    for batch in batches:
        _merge(spark, path, batch, keys)
    assert len(data_files(path)) == 1
    assert read_hub(spark, str(path)).count() == 4
