"""Snapshot table format (snapshots.py): versioned parquet with
atomic manifest commits.

Contract under test:
- append/overwrite produce monotonically-versioned snapshots; time
  travel returns each version's exact contents forever after;
- rollback is a new commit with the old file list (history preserved);
- a reader pinned to a version is unaffected by later commits AND by
  a later compaction (file immutability);
- a crash BEFORE manifest publish leaves the previous version fully
  readable and strands only orphan data files, which vacuum removes;
- vacuum never breaks a kept version, expires old ones, and its
  deletion order (manifests first) is verified by interrupting it.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_poc_spark import snapshots as S


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = S.snapshot_write(_df(spark, 0, 10, "a"), t)
    v2 = S.snapshot_write(_df(spark, 10, 15, "b"), t)
    v3 = S.snapshot_write(_df(spark, 100, 103, "c"), t, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert S.snapshot_versions(t) == [1, 2, 3]
    assert _rows(S.snapshot_read(spark, t, 1)) == _rows(_df(spark, 0, 10, "a"))
    assert _rows(S.snapshot_read(spark, t, 2)) == _rows(
        _df(spark, 0, 10, "a").union(_df(spark, 10, 15, "b"))
    )
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 100, 103, "c"))
    assert S.snapshot_manifest(t, 2)["total_rows"] == 15


def test_rollback_preserves_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t)
    S.snapshot_write(_df(spark, 0, 3, "b"), t, mode="overwrite")
    v3 = S.snapshot_rollback(t, 1)
    assert v3 == 3 and S.snapshot_versions(t) == [1, 2, 3]
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 0, 5, "a"))
    # the overwritten version is still reachable
    assert _rows(S.snapshot_read(spark, t, 2)) == _rows(_df(spark, 0, 3, "b"))


def test_rollback_keeps_partitioning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, partition_by=["tag"])
    S.snapshot_write(_df(spark, 0, 3, "b"), t, mode="overwrite")
    S.snapshot_rollback(t, 1)
    assert S.snapshot_manifest(t)["partition_by"] == ["tag"]
    got = S.snapshot_read(spark, t)
    assert set(got.columns) == {"id", "tag"}
    assert _rows(got) == _rows(_df(spark, 0, 5, "a"))
    # the rolled-back layout accepts a matching partitioned append
    S.snapshot_write(_df(spark, 5, 7, "c"), t, partition_by=["tag"])
    assert _rows(S.snapshot_read(spark, t)) == _rows(
        _df(spark, 0, 5, "a").union(_df(spark, 5, 7, "c"))
    )


def test_pinned_reader_survives_commit_and_compaction(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 8, "a"), t)
    pinned = S.snapshot_read(spark, t, 1)
    S.snapshot_write(_df(spark, 8, 20, "b"), t)
    S.snapshot_compact(spark, t)
    assert _rows(pinned) == _rows(_df(spark, 0, 8, "a"))
    # compaction is itself a version; pre-compaction history intact
    assert _rows(S.snapshot_read(spark, t, 2)) == _rows(
        S.snapshot_read(spark, t)
    )


def test_crash_before_publish_leaves_prior_version_intact(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 10, "a"), t)

    # crash at the atomic-publish boundary: data files moved, manifest
    # never lands
    real_replace = os.replace

    def boom(src, dst):
        raise OSError("injected crash before manifest publish")

    monkeypatch.setattr(S.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        S.snapshot_write(_df(spark, 10, 20, "b"), t)
    monkeypatch.setattr(S.os, "replace", real_replace)

    # table state: still version 1, fully readable
    assert S.snapshot_versions(t) == [1]
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 0, 10, "a"))
    # orphans from the crashed commit exist, then vacuum removes them
    data = Path(t) / "data"
    orphans = [p for p in data.glob("v00002-*.parquet")]
    assert orphans
    report = S.snapshot_vacuum(t, keep_last=1)
    assert all(f"data/{p.name}" in report["removed_files"] for p in orphans)
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 0, 10, "a"))
    # the next commit does not reuse the crashed version's identity
    # ambiguously: it becomes version 2 with only its own files
    v = S.snapshot_write(_df(spark, 30, 32, "c"), t)
    assert v == 2
    assert _rows(S.snapshot_read(spark, t, 2)) == _rows(
        _df(spark, 0, 10, "a").union(_df(spark, 30, 32, "c"))
    )


def test_vacuum_expires_old_versions_keeps_new(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t)
    S.snapshot_write(_df(spark, 0, 2, "b"), t, mode="overwrite")
    S.snapshot_write(_df(spark, 2, 4, "b"), t)
    report = S.snapshot_vacuum(t, keep_last=2)
    assert report["expired_versions"] == [1]
    assert S.snapshot_versions(t) == [2, 3]
    # v1's files (unreferenced by v2/v3) are gone; v2 and v3 read fine
    assert report["removed_files"]
    assert _rows(S.snapshot_read(spark, t, 2)) == _rows(_df(spark, 0, 2, "b"))
    assert _rows(S.snapshot_read(spark, t, 3)) == _rows(
        _df(spark, 0, 2, "b").union(_df(spark, 2, 4, "b"))
    )
    with pytest.raises(FileNotFoundError):
        S.snapshot_read(spark, t, 1)


def test_vacuum_deletes_manifests_before_data(spark, tmp_path, monkeypatch):
    """Interrupt vacuum after the manifest-expiry phase: every version
    that still HAS a manifest must still read — the deletion order is
    what guarantees it."""
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t)
    S.snapshot_write(_df(spark, 0, 2, "b"), t, mode="overwrite")

    real_remove = os.remove
    removed_so_far = []

    def remove_then_boom(path):
        # let manifest removals through, crash on the first data file
        if str(path).endswith(".json"):
            removed_so_far.append(path)
            return real_remove(path)
        raise OSError("injected crash mid-vacuum")

    monkeypatch.setattr(S.os, "remove", remove_then_boom)
    with pytest.raises(OSError, match="injected"):
        S.snapshot_vacuum(t, keep_last=1)
    monkeypatch.setattr(S.os, "remove", real_remove)

    assert removed_so_far  # the v1 manifest went first
    assert S.snapshot_versions(t) == [2]
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 0, 2, "b"))
    # rerunning vacuum finishes the job
    S.snapshot_vacuum(t, keep_last=1)
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 0, 2, "b"))


def test_bad_arguments(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        S.snapshot_manifest(t)
    S.snapshot_write(_df(spark, 0, 3, "a"), t)
    with pytest.raises(ValueError, match="append|overwrite"):
        S.snapshot_write(_df(spark, 0, 3, "a"), t, mode="merge")
    with pytest.raises(FileNotFoundError):
        S.snapshot_read(spark, t, 99)
    with pytest.raises(ValueError, match="keep_last"):
        S.snapshot_vacuum(t, keep_last=0)


def test_snapshot_changes_incremental_read(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t)
    S.snapshot_write(_df(spark, 5, 9, "b"), t)
    S.snapshot_write(_df(spark, 9, 12, "c"), t)
    # delta between v1 and v3 is exactly the b+c batches
    assert _rows(S.snapshot_changes(spark, t, 1)) == _rows(
        _df(spark, 5, 9, "b").union(_df(spark, 9, 12, "c"))
    )
    assert _rows(S.snapshot_changes(spark, t, 2, 3)) == _rows(
        _df(spark, 9, 12, "c")
    )
    # no-change range: empty but typed
    empty = S.snapshot_changes(spark, t, 3, 3)
    assert empty.count() == 0 and empty.columns == ["id", "tag"]


def test_snapshot_changes_rejects_rewrite_ranges(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t)
    S.snapshot_write(_df(spark, 0, 2, "b"), t, mode="overwrite")
    S.snapshot_write(_df(spark, 2, 4, "b"), t)
    with pytest.raises(ValueError, match="append-only"):
        S.snapshot_changes(spark, t, 1)
    # a range that starts after the rewrite is fine
    assert _rows(S.snapshot_changes(spark, t, 2)) == _rows(
        _df(spark, 2, 4, "b")
    )


# ---------------------------------------------------------------------------
# batch-id idempotence + the exactly-once streaming sink
# ---------------------------------------------------------------------------


def test_batch_id_replay_is_noop(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=0)
    v_replay = S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=0)
    assert v1 == v_replay == 1
    assert S.snapshot_read(spark, t).count() == 5
    v2 = S.snapshot_write(_df(spark, 5, 8, "b"), t, batch_id=1)
    assert v2 == 2
    # replaying batch 0 after batch 1 landed is still a no-op
    assert S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=0) == 1
    assert S.snapshot_read(spark, t).count() == 8


def test_batch_id_replay_after_publish_crash(spark, tmp_path, monkeypatch):
    """Crash before publish, then replay: the retry rewrites the same
    files and commits once — exactly-once table contents."""
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=0)

    real_replace = os.replace

    def boom(src, dst):
        raise OSError("injected crash before manifest publish")

    monkeypatch.setattr(S.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        S.snapshot_write(_df(spark, 5, 9, "b"), t, batch_id=1)
    monkeypatch.setattr(S.os, "replace", real_replace)

    v = S.snapshot_write(_df(spark, 5, 9, "b"), t, batch_id=1)
    assert v == 2
    assert _rows(S.snapshot_read(spark, t)) == _rows(
        _df(spark, 0, 5, "a").union(_df(spark, 5, 9, "b"))
    )


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """availableNow stream → snapshot sink; restart with the same
    checkpoint picks up only new files; every micro-batch is one
    version and no row is ever duplicated."""
    from metadata_ingestion_poc_spark.streaming.snapshot_sink import (
        snapshot_sink,
    )

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "tbl")
    _df(spark, 0, 10, "a").write.parquet(str(src / "f1"))

    schema = _df(spark, 0, 1, "x").schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.foreachBatch(snapshot_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert S.snapshot_read(spark, table).count() == 10
    first_versions = S.snapshot_versions(table)

    # new file, same checkpoint: only the delta lands
    _df(spark, 10, 14, "b").write.parquet(str(src / "f2"))
    run()
    assert _rows(S.snapshot_read(spark, table)) == _rows(
        _df(spark, 0, 10, "a").union(_df(spark, 10, 14, "b"))
    )
    assert len(S.snapshot_versions(table)) > len(first_versions)
    # the incremental read between stream positions is exactly batch b
    assert _rows(
        S.snapshot_changes(spark, table, first_versions[-1])
    ) == _rows(_df(spark, 10, 14, "b"))


# ---------------------------------------------------------------------------
# hive-partitioned snapshots
# ---------------------------------------------------------------------------


def test_partitioned_write_read_and_pruning(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 10, "a"), t, partition_by=["tag"])
    S.snapshot_write(_df(spark, 10, 14, "b"), t, partition_by=["tag"])
    got = S.snapshot_read(spark, t)
    # partition columns reconstructed from dir names
    assert set(got.columns) == {"id", "tag"}
    assert _rows(got) == _rows(
        _df(spark, 0, 10, "a").union(_df(spark, 10, 14, "b"))
    )
    # a filter on the partition column prunes at file-listing time
    plan = (
        got.filter(F.col("tag") == "a")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "tag" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert got.filter(F.col("tag") == "a").count() == 10
    # incremental reads keep the partition column too
    assert _rows(S.snapshot_changes(spark, t, 1)) == _rows(
        _df(spark, 10, 14, "b")
    )


def test_partitioned_append_must_match_parent(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, partition_by=["tag"])
    with pytest.raises(ValueError, match="partition_by"):
        S.snapshot_write(_df(spark, 5, 8, "b"), t)  # unpartitioned append
    # overwrite may change the layout
    S.snapshot_write(_df(spark, 5, 8, "b"), t, mode="overwrite")
    assert _rows(S.snapshot_read(spark, t)) == _rows(_df(spark, 5, 8, "b"))
    # ...and time travel to the partitioned version still works
    assert _rows(S.snapshot_read(spark, t, 1)) == _rows(_df(spark, 0, 5, "a"))


def test_partitioned_compact_and_vacuum(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 6, "a"), t, partition_by=["tag"])
    S.snapshot_write(_df(spark, 6, 9, "b"), t, partition_by=["tag"])
    S.snapshot_compact(spark, t)  # keeps the partition layout
    assert S.snapshot_manifest(t)["partition_by"] == ["tag"]
    before = _rows(S.snapshot_read(spark, t))
    report = S.snapshot_vacuum(t, keep_last=1)
    assert report["removed_files"]  # pre-compaction files, nested dirs
    assert _rows(S.snapshot_read(spark, t)) == before


def test_datasource_rejects_partitioned(spark, tmp_path):
    from metadata_ingestion_poc_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, partition_by=["tag"])
    register_snapshot_source(spark)
    with pytest.raises(Exception, match="partitioned"):
        spark.read.format("snapshot").option("path", t).load().collect()


def test_vacuum_retains_batch_id_idempotency(spark, tmp_path):
    """Round-5 advisor: batch_id markers lived only in manifests, so
    vacuuming past the retention window let a foreachBatch replay
    re-commit an old batch and silently duplicate contents. The
    retained ledger must survive vacuum."""
    t = str(tmp_path / "tbl")
    v1 = S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=1)
    S.snapshot_write(_df(spark, 5, 10, "b"), t, batch_id=2)
    S.snapshot_write(_df(spark, 10, 15, "c"), t, batch_id=3)
    S.snapshot_vacuum(t, keep_last=1)  # expires v1, v2 (batch 1, 2)
    n_before = S.snapshot_read(spark, t).count()
    # replay of a batch OLDER than the retention window: must no-op
    assert S.snapshot_write(_df(spark, 0, 5, "a"), t, batch_id=1) == v1
    assert S.snapshot_read(spark, t).count() == n_before
    # still-live manifest keeps working too
    S.snapshot_write(_df(spark, 10, 15, "c"), t, batch_id=3)
    assert S.snapshot_read(spark, t).count() == n_before
    # a second vacuum round keeps accumulating, never dropping, markers
    S.snapshot_write(_df(spark, 15, 20, "d"), t, batch_id=4)
    S.snapshot_vacuum(t, keep_last=1)
    assert S.snapshot_write(_df(spark, 5, 10, "b"), t, batch_id=2) > 0
    assert S.snapshot_read(spark, t).count() == 20  # replay added nothing


def test_changes_from_initial_overwrite(spark, tmp_path):
    """A parent-less version written with mode='overwrite' rewrote
    nothing — snapshot_changes must treat it as append-equivalent."""
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, mode="overwrite")
    S.snapshot_write(_df(spark, 5, 8, "b"), t)
    out = S.snapshot_changes(spark, t, 0)
    assert _rows(out) == _rows(_df(spark, 0, 8, "x").withColumn(
        "tag", F.when(F.col("id") < 5, "a").otherwise("b")))
