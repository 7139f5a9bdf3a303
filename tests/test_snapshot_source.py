"""format("snapshot") Python Data Source (sources/snapshot_source.py).

Contract under test:
- batch read == snapshot_read, including version time travel;
- streaming: offsets are versions — first run reads everything up to
  latest, a checkpoint restart reads exactly the appended delta;
- a rewrite commit inside an unread range fails the stream instead of
  double-counting;
- source → sink round trip: streaming from one snapshot table into
  snapshot_sink gives exactly-once contents on both sides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_poc_spark import snapshots as S
from metadata_ingestion_poc_spark.sources.snapshot_source import (
    register_snapshot_source,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(F.col("id"), F.lit(tag).alias("tag"))


def _rows(df):
    return sorted((r["id"], r["tag"]) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.snapshot_write(_df(spark, 0, 10, "a"), t)
    S.snapshot_write(_df(spark, 10, 15, "b"), t)
    register_snapshot_source(spark)
    return t


def _run_stream(spark, table, ckpt, sink_fn):
    q = (
        spark.readStream.format("snapshot")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_batch_read_and_time_travel(spark, table):
    latest = spark.read.format("snapshot").option("path", table).load()
    assert _rows(latest) == _rows(S.snapshot_read(spark, table))
    v1 = (
        spark.read.format("snapshot")
        .option("path", table)
        .option("version", 1)
        .load()
    )
    assert _rows(v1) == _rows(_df(spark, 0, 10, "a"))


def test_stream_initial_then_delta(spark, table, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    got = []

    def sink(batch, bid):
        got.append(_rows(batch))

    _run_stream(spark, table, ckpt, sink)
    # first run: everything committed so far, exactly once
    assert sorted(r for b in got for r in b) == _rows(
        _df(spark, 0, 10, "a").union(_df(spark, 10, 15, "b"))
    )

    # append + restart from the same checkpoint: only the delta
    S.snapshot_write(_df(spark, 15, 18, "c"), table)
    got.clear()
    _run_stream(spark, table, ckpt, sink)
    assert sorted(r for b in got for r in b) == _rows(_df(spark, 15, 18, "c"))

    # nothing new: restart emits no rows
    got.clear()
    _run_stream(spark, table, ckpt, sink)
    assert [r for b in got for r in b] == []


def test_stream_starting_version(spark, table, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    got = []

    def sink(batch, bid):
        got.append(_rows(batch))

    q = (
        spark.readStream.format("snapshot")
        .option("path", table)
        .option("startingVersion", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r for b in got for r in b) == _rows(_df(spark, 10, 15, "b"))


def test_stream_fails_on_rewrite_range(spark, table, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ckpt = str(tmp_path / "ckpt3")
    _run_stream(spark, table, ckpt, lambda b, i: None)
    S.snapshot_compact(spark, table)  # mode=overwrite commit
    S.snapshot_write(_df(spark, 18, 20, "d"), table)
    with pytest.raises(StreamingQueryException, match="append-only"):
        _run_stream(spark, table, ckpt, lambda b, i: None)


def test_vacuumed_range_raises_like_snapshot_changes(spark, table, tmp_path):
    # once vacuum has expired a manifest of the range, neither
    # incremental reader can check it for rewrites: both raise
    from pyspark.errors.exceptions.captured import StreamingQueryException

    S.snapshot_write(_df(spark, 15, 18, "c"), table)
    S.snapshot_vacuum(table, keep_last=1)
    with pytest.raises(FileNotFoundError, match="version 1 not in"):
        S.snapshot_changes(spark, table, 0)
    with pytest.raises(StreamingQueryException, match="version 1 not in"):
        _run_stream(spark, table, str(tmp_path / "ckpt5"), lambda b, i: None)


def test_source_to_sink_round_trip_exactly_once(spark, table, tmp_path):
    from metadata_ingestion_poc_spark.streaming.snapshot_sink import (
        snapshot_sink,
    )

    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt4")
    _run_stream(spark, table, ckpt, snapshot_sink(dst))
    assert _rows(S.snapshot_read(spark, dst)) == _rows(
        S.snapshot_read(spark, table)
    )
    # append upstream, re-run: downstream converges with no dups
    S.snapshot_write(_df(spark, 15, 18, "c"), table)
    _run_stream(spark, table, ckpt, snapshot_sink(dst))
    assert _rows(S.snapshot_read(spark, dst)) == _rows(
        S.snapshot_read(spark, table)
    )


def test_stream_from_initial_overwrite_version(spark, tmp_path):
    """Round-5 advisor: a table whose FIRST version was written with
    mode='overwrite' (parent=None — it rewrote nothing) could never be
    streamed from startingVersion 0. Parent-less commits are
    append-equivalent."""
    t = str(tmp_path / "tbl_ow")
    S.snapshot_write(_df(spark, 0, 5, "a"), t, mode="overwrite")
    S.snapshot_write(_df(spark, 5, 8, "b"), t)
    register_snapshot_source(spark)
    got = []

    def sink(df, _bid):
        got.extend(_rows(df))

    _run_stream(spark, t, str(tmp_path / "ckpt_ow"), sink)
    assert sorted(got) == _rows(S.snapshot_read(spark, t))
