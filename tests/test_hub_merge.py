"""The parquet HUB merge's cost and its commit record.

Every keyed write, the first included, goes through the staging swap
and records the table's schema in its commit marker, so the next merge
and ``read_hub`` skip Spark's schema-inference job while the table
holds exactly the files that commit wrote; the merge anti-joins
against the batch's keys without a shuffle; and it writes a small
table as one file. These tests pin each of those, that the record is
ignored (the reader infers) once it no longer describes the table,
and that the rollup and compaction, which share the one rewrite, read
and record the same way.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metadata_ingestion_poc_spark import writer
from metadata_ingestion_poc_spark.operators.maintenance import compact
from metadata_ingestion_poc_spark.operators.rollup import fold_into_rollup, read_rollup
from metadata_ingestion_poc_spark.staging import COMMIT_MARKER, commit_record, data_files, recover
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
        record = commit_record(path)
        assert record is not None, f"no record after merge {i}"
        assert StructType.fromJson(record["schema"]) == spark.read.parquet(str(path)).schema
        assert read_hub(spark, str(path)).schema == spark.read.parquet(str(path)).schema


def test_recorded_schema_of_non_nullable_columns(spark, tmp_path):
    """Audit-style columns (literals, ``current_timestamp``) and nested
    literals are non-nullable in the batch; the record still matches
    what Spark infers from the files, which is nullable throughout,
    from the first write (the batch alone) on."""
    path = tmp_path / "hub"
    for i in range(3):
        df = (
            spark.range(i, i + 2)
            .withColumn("ts", F.current_timestamp())
            .withColumn("tags", F.array(F.lit("a")))
            .withColumn("m", F.create_map(F.lit("k"), F.lit(1)))
            .withColumn("s", F.struct(F.lit(1).alias("a")))
            .cache()
        )
        df.count()
        _write_hub_parquet_merge(spark, df, str(path), ["id"])
        df.unpersist()
        record = commit_record(path)
        assert record is not None, f"no record after write {i}"
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


@contextmanager
def _jobs(spark, name):
    """Collects the ids of the Spark jobs run inside the block, by a
    job tag no other block in this session uses."""
    tag = f"{name}-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = []
    sc.addJobTag(tag)
    try:
        yield jobs
    finally:
        sc.removeJobTag(tag)
        jvm_sc.listenerBus().waitUntilEmpty()
        jobs.extend(jvm_sc.statusTracker().getJobIdsForTag(tag))


@pytest.mark.parametrize("prior", [1, 2])
def test_keyed_merge_into_an_existing_hub_runs_two_jobs(spark, tmp_path, prior):
    """The staging write and the broadcast of the batch's keys: no
    schema-inference job and no shuffle for a distinct, also right
    after the first write."""
    keys, batches = COMPOSITE
    path = tmp_path / "hub"
    for batch in batches[:prior]:
        _merge(spark, path, batch, keys)
    batch = _batch(spark, batches[prior])
    try:
        with _jobs(spark, "hub-merge") as jobs:
            _write_hub_parquet_merge(spark, batch, str(path), keys)
    finally:
        batch.unpersist()
    assert 0 < len(jobs) <= 2, f"the merge ran {len(jobs)} jobs"


def test_first_write_goes_through_the_swap(spark, tmp_path, monkeypatch):
    """A first keyed write that dies before its swap leaves no table
    (not a live dir holding only Spark's scratch), and a retry writes
    the whole batch with a record."""
    keys, batches = COMPOSITE
    path = tmp_path / "hub"

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the swap")

    with monkeypatch.context() as m:
        m.setattr(writer, "commit_swap", crash)
        with pytest.raises(RuntimeError, match="killed before the swap"):
            _merge(spark, path, batches[0], keys)
    recover(path)
    assert not path.exists()
    _merge(spark, path, batches[0], keys)
    assert commit_record(path) is not None
    assert sorted((r.d, r.e, r.v) for r in read_hub(spark, str(path)).collect()) == [
        ("x", 1, 10),
        ("x", 2, 20),
    ]


def test_small_merge_writes_one_file(spark, tmp_path):
    keys, batches = COMPOSITE
    path = tmp_path / "hub"
    for batch in batches:
        _merge(spark, path, batch, keys)
    assert len(data_files(path)) == 1
    assert read_hub(spark, str(path)).count() == 4


def test_read_rollup_of_a_folded_table_runs_no_job(spark, tmp_path):
    path = tmp_path / "rollup"
    events = spark.createDataFrame(
        [
            Row(ts=datetime(2024, 1, 1, h), event_type=t, value=float(h))
            for h in range(3)
            for t in "ab"
        ]
    )
    fold_into_rollup(spark, events, str(path), batch_id=0)
    fold_into_rollup(spark, events, str(path), batch_id=1)
    with _jobs(spark, "read-rollup") as jobs:
        rollup = read_rollup(spark, str(path))
    assert jobs == [], f"read_rollup ran {len(jobs)} jobs"
    assert {r.n_events for r in rollup.collect()} == {2}
    record = commit_record(path)
    assert record is not None
    assert StructType.fromJson(record["schema"]) == spark.read.parquet(str(path)).schema


def test_compact_records_the_schema(spark, tmp_path):
    path = tmp_path / "t"
    table = spark.range(0, 100).selectExpr("id", "array(id) AS a", "named_struct('k', id) AS s")
    table.repartition(4).write.parquet(str(path))
    assert commit_record(path) is None
    compact(spark, str(path), target_file_bytes=1 << 30)
    record = commit_record(path)
    assert record is not None
    assert StructType.fromJson(record["schema"]) == spark.read.parquet(str(path)).schema
