from __future__ import annotations

import pyspark.sql.functions as F

from metadata_ingestion_poc_spark.catalog import load_table
from metadata_ingestion_poc_spark.operators.maintenance import compact
from metadata_ingestion_poc_spark.operators.rollup import (
    fold_into_rollup,
    read_rollup,
    rollup_batch,
)
from metadata_ingestion_poc_spark.staging import batch_ids


def test_incremental_rollup_equals_full_recompute(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup")

    # fold two disjoint halves, out of order (late data arrives second)
    late = ev.filter(F.col("event_id") % 2 == 0)
    early = ev.filter(F.col("event_id") % 2 == 1)
    fold_into_rollup(spark, early, path)
    fold_into_rollup(spark, late, path)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value, r.avg_value)
        for r in read_rollup(spark, path).collect()
    }
    full = rollup_batch(ev)
    want = {
        (r.window_start, r.event_type): (
            r.n_events,
            round(float(r.sum_value), 6),
            round(float(r.sum_value) / r.n_events, 6),
        )
        for r in full.collect()
    }
    assert got == want


def test_rollup_third_fold_adds_new_window_only(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup2")
    first_k = ev.orderBy("event_id").limit(500)
    fold_into_rollup(spark, first_k, path)
    n1 = read_rollup(spark, path).count()
    # folding an empty batch must be a no-op
    fold_into_rollup(spark, ev.filter(F.lit(False)), path)
    assert read_rollup(spark, path).count() == n1


def _snapshot(spark, path):
    return {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in read_rollup(spark, path).collect()
    }


def test_rollup_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    # foreachBatch is at-least-once: the same (batch, batch_id) may be
    # delivered twice after a crash. The second fold must be a no-op.
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup3")
    b0 = ev.filter(F.col("event_id") % 2 == 1)
    b1 = ev.filter(F.col("event_id") % 2 == 0)

    fold_into_rollup(spark, b0, path, batch_id=0)
    fold_into_rollup(spark, b1, path, batch_id=1)
    want = _snapshot(spark, path)

    fold_into_rollup(spark, b1, path, batch_id=1)  # replay last batch
    assert _snapshot(spark, path) == want
    fold_into_rollup(spark, b0, path, batch_id=0)  # replay older batch
    assert _snapshot(spark, path) == want

    # a genuinely new batch id still folds
    fold_into_rollup(spark, b0.limit(10), path, batch_id=2)
    assert _snapshot(spark, path) != want


def test_compaction_keeps_fold_ledger(spark, sf_dir, tmp_path):
    # compaction rewrites the rollup through the staging swap; the
    # fold ledger must survive it, or a replayed batch double-counts
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup4")
    b0 = ev.filter(F.col("event_id") % 2 == 1)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    fold_into_rollup(spark, b0, path, batch_id=0)
    fold_into_rollup(spark, b1, path, batch_id=1)
    want = _snapshot(spark, path)

    compact(spark, path)
    assert batch_ids(path, "_folded") == {"0", "1"}
    fold_into_rollup(spark, b0, path, batch_id=0)  # replay after compact
    assert _snapshot(spark, path) == want
