"""Exact-substring span deduplication.

Finds pairs of documents that share a *contiguous* run of at least
``min_span`` tokens — the "exact substring" dedup of Lee et al.,
*Deduplicating Training Data Makes Language Models Better* (2021),
which the paper implements with a monolithic suffix array. A suffix
array does not shard; the Spark-native shape is:

1. positional k-gram index: one row per (doc, pos) with the k-token
   gram starting there — explode → O(total tokens) rows;
2. stop-gram pruning: grams occurring more than ``max_gram_df`` times
   carry no dedup signal but cost O(df²) candidate pairs (same skew
   lever as the shingle index in dedup.py);
3. candidate pair generation by gram-bucket co-membership
   (``dedup.bucket_pairs``: ONE shuffle, groupBy→chunked combinations
   — never a self-join, and no row above cap² pairs);
4. diagonal run-merge: a shared span of L tokens appears as L-k+1
   consecutive positions on one (doc_a, doc_b, pa-pb) diagonal, so a
   per-diagonal sorted-array fold (gaps-and-islands, computed inside
   the aggregate — no second shuffle, no window) recovers maximal
   spans exactly: span = longest_run + k - 1.

Cost is Σ bucket² over gram buckets (bounded by max_gram_df), plus a
token-count-linear index build — never n_docs². All arithmetic is
integer, so results are bit-identical across engines; the DuckDB
oracle replays the same definition with window-function islands.

Guarantee: every shared span of ≥ min_span tokens whose k-grams all
survive the df cap is found EXACTLY (no probabilistic recall — this is
the precise complement to MinHash/SimHash whole-document similarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs

# A gram occurring more often than this is index-pruned. The default is
# deliberately finite (see dedup.DEFAULT_MAX_SHINGLE_DF for the
# rationale): boilerplate grams repeated across millions of docs are
# exactly the quadratic hot buckets that melt a 100 TB run.
DEFAULT_MAX_GRAM_DF = 1000


def positional_grams(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, pos, gram): the k-token gram at 1-based pos.

    Token array is materialized as its own projection so CollapseProject
    keeps the split() single-eval (same hazard as dedup.shingles — an
    inline split inside the lambda re-evaluates per element).
    explode_outer for the same inferred-filter reason as
    dedup.shingle_index.
    """
    toks_df = docs.withColumn(
        "__toks", F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", F.slice(toks, i, k)).alias("g"),
            ),
        ),
    )
    return (
        toks_df.select(
            F.col(id_col).alias("doc"), F.explode_outer(grams).alias("pg")
        )
        .filter(F.col("pg").isNotNull())
        .select("doc", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )


def _occurrence_pairs(
    grams: DataFrame, max_gram_df: int | None
) -> DataFrame:
    """(a, b) occurrence structs (doc, pos) of every pair of
    occurrences sharing a gram, from ``dedup.bucket_pairs`` over the
    gram buckets. Rows are unique by (doc, pos), so each occurrence
    pair appears once (its gram is fixed), ordered by (doc, pos):
    a.doc <= b.doc, and a.pos < b.pos within a doc. A gram's df is its
    member count, so the stop-gram cap is the bucket-size cap."""
    return bucket_pairs(
        grams,
        ["g"],
        F.struct("doc", "pos"),
        lambda x, y: f"named_struct('a', {x}, 'b', {y})",
        max_members=max_gram_df,
    )


def _diagonal_spans(
    pairs: DataFrame, group_cols: list[str], k: int, min_run: int
) -> DataFrame:
    """Per (group, diagonal): longest consecutive-pa run and count of
    runs reaching min_run, via a fold over the sorted position array
    INSIDE the aggregate (gaps-and-islands with no second shuffle and
    no window pass). Emits group_cols + (span, cnt) per diagonal."""
    init = F.struct(
        F.lit(-(1 << 40)).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def step(acc, x):
        newrun = F.when(
            x.cast("long") == acc["prev"] + 1, acc["run"] + 1
        ).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.cast("long").alias("prev"),
            newrun.alias("run"),
            F.greatest(acc["best"], newrun).alias("best"),
            (
                acc["cnt"]
                + F.when(newrun == F.lit(min_run).cast("long"), 1).otherwise(0)
            ).alias("cnt"),
        )

    return (
        pairs.groupBy(*group_cols, "d")
        .agg(F.sort_array(F.collect_list("pa")).alias("ps"))
        .withColumn("__acc", F.aggregate("ps", init, step))
        .select(
            *group_cols,
            (F.col("__acc.best") + F.lit(k - 1)).alias("span"),
            F.col("__acc.cnt").alias("cnt"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    min_span: int = 15,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """Doc pairs sharing a contiguous token run of ≥ min_span tokens.

    Returns (doc_a, doc_b, longest_span, n_spans) with doc_a < doc_b:
    longest_span = length in tokens of the longest shared contiguous
    run; n_spans = number of distinct maximal shared runs of length
    ≥ min_span (counted per alignment diagonal — two copies of the
    same text at different offsets are two spans, which is what a
    span-removal pass needs to know).

    Requires min_span ≥ k (a span shorter than the gram can't be
    observed by a k-gram index).
    """
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    min_run = min_span - k + 1

    grams = positional_grams(docs, id_col=id_col, k=k)
    pairs = (
        _occurrence_pairs(grams, max_gram_df)
        # sort_array orders by (doc, pos), so a.doc <= b.doc always;
        # cross-doc filter leaves strictly doc_a < doc_b.
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("d"),
        )
    )
    diag = _diagonal_spans(pairs, ["doc_a", "doc_b"], k, min_run)
    return (
        diag.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span").cast("long").alias("longest_span"),
            F.sum("cnt").cast("long").alias("n_spans"),
        )
        .filter(F.col("longest_span") >= min_span)
    )


def self_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    min_span: int = 15,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """Documents that repeat a contiguous token run of >= min_span
    tokens WITHIN themselves — the template/degenerate-generation
    detector (looping decoders and boilerplate stampers produce long
    internal repeats that whole-document similarity never sees).

    Same diagonal machinery as duplicated_spans, but occurrence pairs
    are taken within one document (pa < pb, diagonal d = pb - pa > 0 is
    the repeat offset). Overlapping periodic repeats (period < span)
    are counted per alignment offset, which is exactly what a
    repetition-removal pass needs. Returns (doc_id, longest_span,
    n_spans) with longest_span >= min_span.
    """
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    min_run = min_span - k + 1

    grams = positional_grams(docs, id_col=id_col, k=k)
    pairs = (
        _occurrence_pairs(grams, max_gram_df)
        .filter(F.col("a.doc") == F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc"),
            F.col("a.pos").alias("pa"),
            (F.col("b.pos") - F.col("a.pos")).alias("d"),
        )
    )
    diag = _diagonal_spans(pairs, ["doc"], k, min_run)
    return (
        diag.groupBy("doc")
        .agg(
            F.max("span").cast("long").alias("longest_span"),
            F.sum("cnt").cast("long").alias("n_spans"),
        )
        .filter(F.col("longest_span") >= min_span)
        .withColumnRenamed("doc", "doc_id")
    )


def duplicated_spans_against(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    min_span: int = 15,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """Cross-set exact-substring containment: (batch doc, corpus doc)
    pairs sharing a contiguous run of >= min_span tokens — the
    eval-set decontamination pass (find training documents that
    contain benchmark text verbatim), and the span twin of
    dedup.ngram_jaccard_pairs_against.

    Same diagonal machinery as duplicated_spans, but the gram buckets
    hold BOTH sides (one groupBy over the tagged union) and pairs are
    generated strictly across sides — batch×batch and corpus×corpus
    co-occurrences cost nothing. The df cap applies to a gram's TOTAL
    occurrence count across both sets, matching the corpus-wide cap
    semantics of duplicated_spans. Returns (batch_doc, corpus_doc,
    longest_span, n_spans); ids may coincide across sets (they are
    different namespaces — callers join back per side).
    """
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    min_run = min_span - k + 1

    bg = positional_grams(batch, id_col=id_col, k=k).withColumn(
        "side", F.lit("b")
    )
    cg = positional_grams(corpus, id_col=id_col, k=k).withColumn(
        "side", F.lit("c")
    )
    occ = F.struct(F.col("doc"), F.col("pos"))
    members = (
        bg.unionAll(cg)
        .groupBy("g")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("side") == "b", occ))
            ).alias("mb"),
            F.sort_array(
                F.collect_list(F.when(F.col("side") == "c", occ))
            ).alias("mc"),
        )
        .filter((F.size("mb") >= 1) & (F.size("mc") >= 1))
    )
    if max_gram_df is not None:
        members = members.filter(
            (F.size("mb") + F.size("mc")) <= max_gram_df
        )
    pairs = members.select(
        F.explode(
            F.flatten(
                F.transform(
                    "mb",
                    lambda x: F.transform(
                        "mc", lambda y: F.struct(x.alias("a"), y.alias("b"))
                    ),
                )
            )
        ).alias("p")
    ).select(
        F.col("p.a.doc").alias("batch_doc"),
        F.col("p.b.doc").alias("corpus_doc"),
        F.col("p.a.pos").alias("pa"),
        (F.col("p.a.pos") - F.col("p.b.pos")).alias("d"),
    )
    diag = _diagonal_spans(pairs, ["batch_doc", "corpus_doc"], k, min_run)
    return (
        diag.groupBy("batch_doc", "corpus_doc")
        .agg(
            F.max("span").cast("long").alias("longest_span"),
            F.sum("cnt").cast("long").alias("n_spans"),
        )
        .filter(F.col("longest_span") >= min_span)
    )
