"""Streaming corpus admission: dedup-gated append of document batches.

The production loop for an ever-growing training corpus: documents
arrive continuously; each micro-batch must be deduplicated (a) within
itself and (b) against everything already ACCEPTED, and only the
survivors are appended. Composes the batch dedup operators
(operators/dedup.py) under foreachBatch, so streaming and ad-hoc batch
admission share one implementation — the same pattern as
stream_upsert_to_hub / stream_fold_rollup.

Idempotency mirrors operators/rollup.py: the corpus dir keeps an
``_admitted/<batch_id>`` marker per admitted batch (underscore-prefixed
→ invisible to parquet reads), markers travel through the same
crash-safe rewrite as the data (writer.rewrite_table, whose swap
carries the earlier ones over), and an at-least-once replay of a
micro-batch is a no-op.

Gate order matters at scale: the exact hash dedup (cheap, one shuffle)
runs before the n-gram near-dup (index build), and the cross-set probe
only shingles the already-thinned batch. At 100 TB the accepted-corpus
shingle index is the artifact to persist between runs; here it is
rebuilt per batch because the fixture corpus is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import DEFAULT_MAX_SHINGLE_DF
from ..staging import batch_ids
from ..writer import read_table, rewrite_table

_ADMITTED = "_admitted"


def admit_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    batch_id: int | str | None = None,
    span_min: int | None = None,
    span_k: int = 8,
) -> None:
    """Admit one batch of documents (column ``text`` + `id_col`).

    Three gates (plus an optional fourth), then append-via-swap:

    1. exact dedup on the normalized text hash (keep min id);
    2. within-batch near-dup: n-gram Jaccard pairs ≥ threshold, the
       larger id of every pair is dropped (greedy, deterministic);
    3. cross-set near-dup vs the accepted corpus: any batch doc with a
       Jaccard-≥-threshold match among accepted docs is rejected;
    4. (``span_min`` set) cross-set span containment: a batch doc that
       shares a contiguous run of ≥ span_min tokens with ANY accepted
       doc is rejected, even when its whole-document Jaccard is far
       below threshold — the pasted-excerpt case gate 3 cannot see.
    """
    corpus = read_table(spark, path)
    if batch_id is not None and str(batch_id) in batch_ids(path, _ADMITTED):
        return

    from ..operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_against,
    )

    cols = batch.columns
    b = batch.withColumn(
        "__th", F.xxhash64(F.lower(F.trim(F.col("text"))))
    )
    b = exact_dedup(b, key_cols=["__th"], order_cols=[id_col]).drop("__th")

    pairs = ngram_jaccard_pairs(
        b, id_col=id_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df,
    )
    b = b.join(
        pairs.select(F.col("doc_b").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )

    if corpus is not None:
        hits = ngram_jaccard_pairs_against(
            b, corpus, id_col=id_col, n=n, threshold=threshold,
            max_shingle_df=max_shingle_df,
        )
        b = b.join(
            hits.select(F.col("batch_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        if span_min is not None:
            from ..operators.spans import duplicated_spans_against

            span_hits = duplicated_spans_against(
                b, corpus, id_col=id_col, k=span_k, min_span=span_min,
            )
            b = b.join(
                span_hits.select(
                    F.col("batch_doc").alias(id_col)
                ).distinct(),
                id_col,
                "left_anti",
            )

    survivors = b.select(*cols)
    merged = survivors if corpus is None else corpus.unionByName(survivors)
    rewrite_table(merged, path, (_ADMITTED, batch_id))


def stream_corpus_admission(
    docs: DataFrame,
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    trigger_available_now: bool = True,
    span_min: int | None = None,
    span_k: int = 8,
) -> StreamingQuery:
    """Document stream → dedup-gated corpus via foreachBatch(admit_batch).

    foreachBatch's epoch id is the admission marker, so replayed
    micro-batches never double-append.
    """

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        admit_batch(
            batch_df.sparkSession,
            batch_df,
            corpus_path,
            id_col=id_col,
            n=n,
            threshold=threshold,
            max_shingle_df=max_shingle_df,
            batch_id=batch_id,
            span_min=span_min,
            span_k=span_k,
        )

    writer = (
        docs.writeStream.foreachBatch(_admit)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
