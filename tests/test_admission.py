"""Tests for streaming corpus admission (streaming/admission.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_ingestion_poc_spark.staging import batch_ids
from metadata_ingestion_poc_spark.streaming.admission import (
    admit_batch,
    stream_corpus_admission,
)

D1 = "the quick brown fox jumps over the lazy dog in the morning sun"
D2 = "spark shuffles partition data across executors during wide transformations"
D3 = "completely novel sentence about metadata driven ingestion frameworks"
D4 = "streams fold micro batches into idempotent rollup tables downstream"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_admission_gates(spark, tmp_path):
    path = str(tmp_path / "corpus")
    # batch 0: an exact dup pair (keep min id) + a near-self pair
    admit_batch(
        spark,
        _docs(spark, [(1, D1), (2, D1), (3, D2)]),
        path,
        threshold=0.6,
        batch_id=0,
    )
    ids0 = {r.doc_id for r in spark.read.parquet(path).collect()}
    assert ids0 == {1, 3}

    # batch 1: one exact dup of the corpus, one near-dup (one word
    # changed), one genuinely new doc
    near_d1 = D1.replace("morning", "evening")
    admit_batch(
        spark,
        _docs(spark, [(10, D1), (11, near_d1), (12, D3)]),
        path,
        threshold=0.6,
        batch_id=1,
    )
    ids1 = {r.doc_id for r in spark.read.parquet(path).collect()}
    assert ids1 == {1, 3, 12}
    assert batch_ids(path, "_admitted") == {"0", "1"}


def test_admission_replay_is_noop(spark, tmp_path):
    path = str(tmp_path / "corpus")
    admit_batch(spark, _docs(spark, [(1, D1)]), path, batch_id=0)
    admit_batch(spark, _docs(spark, [(2, D2)]), path, batch_id=1)
    before = sorted(r.doc_id for r in spark.read.parquet(path).collect())
    # at-least-once replay of batch 1 with different content must be
    # ignored — the epoch id was already admitted
    admit_batch(spark, _docs(spark, [(99, D3)]), path, batch_id=1)
    after = sorted(r.doc_id for r in spark.read.parquet(path).collect())
    assert before == after == [1, 2]


def _stage_file(df, src_dir, name):
    import glob
    import shutil

    tmp = src_dir.parent / f"__tmp_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = glob.glob(str(tmp / "part-*.parquet"))[0]
    shutil.copy(part, str(src_dir / f"{name}.parquet"))
    shutil.rmtree(tmp)


def test_stream_corpus_admission_end_to_end(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    _stage_file(_docs(spark, [(1, D1), (2, D2)]), src, "f1")
    _stage_file(_docs(spark, [(3, D1), (4, D4)]), src, "f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_corpus_admission(stream, corpus, ckpt, threshold=0.6)
    q.awaitTermination(120)

    rows = spark.read.parquet(corpus).collect()
    texts = sorted(r.text for r in rows)
    # D1 admitted exactly once whichever file arrived first; D2/D4 pass
    assert texts == sorted([D1, D2, D4])
    # restart over the same source: checkpoint replays nothing new
    q2 = stream_corpus_admission(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        corpus,
        ckpt,
        threshold=0.6,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 3


def test_admission_span_gate_catches_pasted_excerpt(spark, tmp_path):
    path = str(tmp_path / "corpus_span")
    base = " ".join(f"w{i}" for i in range(40))
    admit_batch(spark, _docs(spark, [(1, base)]), path, batch_id=0)

    # a long novel doc that embeds a 16-token verbatim excerpt of the
    # accepted doc: whole-doc Jaccard is far below the 0.6 gate, so
    # without the span gate it is admitted...
    excerpt = " ".join(f"w{i}" for i in range(10, 26))
    pasted = (
        " ".join(f"x{i}" for i in range(60))
        + " " + excerpt + " "
        + " ".join(f"y{i}" for i in range(60))
    )
    clean = " ".join(f"z{i}" for i in range(80))

    admit_batch(
        spark, _docs(spark, [(10, pasted), (11, clean)]), path,
        threshold=0.6, batch_id=1,
    )
    assert {r.doc_id for r in spark.read.parquet(path).collect()} == {
        1, 10, 11,
    }

    # ...with the span gate (>= 15 shared tokens) the pasted doc is
    # rejected and only the clean doc joins. (Fresh corpus dir to keep
    # the scenario identical.)
    path2 = str(tmp_path / "corpus_span2")
    admit_batch(spark, _docs(spark, [(1, base)]), path2, batch_id=0)
    admit_batch(
        spark, _docs(spark, [(10, pasted), (11, clean)]), path2,
        threshold=0.6, batch_id=1, span_min=15, span_k=5,
    )
    assert {r.doc_id for r in spark.read.parquet(path2).collect()} == {
        1, 11,
    }
