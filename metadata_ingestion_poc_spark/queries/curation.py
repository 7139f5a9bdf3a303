"""Training-data curation compositions + remaining TPC-H shape.

The standalone curation operators (dedup tiers, quality, lang-id,
token stats — operators/text.py, operators/dedup.py) each have their
own query; this module adds the shapes a production curation run
actually executes:

- the full filter→dedup→survival-stats pipeline as ONE declarative
  plan (Catalyst fuses the stages; nothing materializes in between);
- deterministic mixture resampling (apply target domain weights with
  a pure-function-of-id filter — reproducible on any cluster layout,
  unlike rand()-based sampling);
- corpus-level length histograms and n-gram novelty scoring;
- gap-based batch sessionization (the batch twin of streaming's
  session_window query q72);
- TPC-H Q4 (order-priority EXISTS), completing all 22 TPC-H shapes.

Every query carries a DuckDB oracle; conventions per queries/__init__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..execution import spread
from . import query


# ---------------------------------------------------------------------------
# TPC-H Q4: ORDER PRIORITY CHECKING — date-bounded orders scan with a
# correlated EXISTS over lineitem. The one canonical TPC-H query the
# suite lacked (q80-q103/q110/q111 cover the other 21). The synthetic
# lineitem has no commit/receipt dates, so "late line" is expressed on
# the available columns: shipped >60 days after the order date — a
# CROSS-TABLE correlated predicate, which is the harder shape anyway
# (the semi join carries a non-equi conjunct, not just the key).
# ---------------------------------------------------------------------------
@query(
    "q114_tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q114_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    bounded = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    return (
        bounded.join(
            l,
            (bounded.o_orderkey == l.l_orderkey)
            & (
                l.l_shipdate
                > bounded.o_orderdate + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Curation pipeline: heuristics -> keep-filter -> exact-dedup winner ->
# per-(lang, source) survival stats, as ONE plan. The point at 100 TB:
# each stage is a narrow projection or a single keyed shuffle
# (dedup window + final groupBy), and Catalyst pushes the cheap
# heuristic filter beneath everything so dropped docs never reach the
# dedup shuffle.
# ---------------------------------------------------------------------------
@query(
    "q115_curation_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             string_split(lower(trim(text)), ' ') AS toks,
             lower(trim(text)) AS norm_text
      FROM documents
    ),
    kept AS (
      SELECT doc_id, lang, source, n_chars, norm_text,
             len(toks) AS n_tokens
      FROM scored
      WHERE n_chars >= 40 AND len(toks) >= 8
        AND n_chars <= 8 * len(toks) * 3
    ),
    dedup AS (
      SELECT *, row_number() OVER (
        PARTITION BY norm_text ORDER BY doc_id
      ) AS rn
      FROM kept
    )
    SELECT lang, source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_survivors,
           SUM(n_tokens)::BIGINT AS total_tokens,
           SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)::BIGINT
             AS surviving_tokens
    FROM dedup
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q115_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.split(F.lower(F.trim("text")), " ").alias("toks"),
        F.lower(F.trim("text")).alias("norm_text"),
    )
    kept = scored.filter(
        (F.col("n_chars") >= 40)
        & (F.size("toks") >= 8)
        # crude avg-word-length bound: chars per token <= 24
        & (F.col("n_chars") <= 8 * F.size("toks") * 3)
    ).withColumn("n_tokens", F.size("toks").cast("long"))
    w = Window.partitionBy("norm_text").orderBy("doc_id")
    dedup = kept.withColumn("rn", F.row_number().over(w))
    return (
        dedup.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias(
                "n_survivors"
            ),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0)
            ).alias("surviving_tokens"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Deterministic mixture resampling: hit per-source target retention
# rates with a filter that is a pure function of doc_id — identical
# sample on any partitioning, any cluster, any retry (rand(seed) is
# per-partition and NOT reproducible under repartition). The modulus
# arithmetic mirrors exactly in SQL, so the oracle checks the sample
# itself, not just its size.
# ---------------------------------------------------------------------------
@query(
    "q117_mixture_resample",
    oracle="""
    WITH weighted AS (
      SELECT *,
             CASE source
               WHEN 'src0' THEN 100 WHEN 'src1' THEN 60
               WHEN 'src2' THEN 30 ELSE 10
             END AS keep_pct
      FROM documents
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_kept,
           SUM(n_chars)::BIGINT AS kept_chars,
           MIN(doc_id)::BIGINT AS first_doc,
           MAX(doc_id)::BIGINT AS last_doc
    FROM weighted
    WHERE ((doc_id % 100) * 2654435761) % 100 < keep_pct
    GROUP BY source
    ORDER BY source
    """,
)
def q117_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    keep_pct = (
        F.when(F.col("source") == "src0", 100)
        .when(F.col("source") == "src1", 60)
        .when(F.col("source") == "src2", 30)
        .otherwise(10)
    )
    # Knuth multiplicative hash of the id — spreads sequential ids
    # uniformly over the residues; pure function of the row
    sampled = d.withColumn("keep_pct", keep_pct).filter(
        F.pmod(F.pmod(F.col("doc_id"), F.lit(100)) * F.lit(2654435761), 100)
        < F.col("keep_pct")
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus length histogram: fixed-width buckets over n_chars. floor
# division keeps the binning exact (no float bucket edges) and mirrors
# 1:1 in SQL; one shuffle on the bucket id.
# ---------------------------------------------------------------------------
@query(
    "q116_length_histogram",
    oracle="""
    SELECT (n_chars // 100)::BIGINT AS bucket,
           ((n_chars // 100) * 100)::BIGINT AS bucket_lo,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS total_chars,
           MIN(n_chars)::BIGINT AS min_chars,
           MAX(n_chars)::BIGINT AS max_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY bucket
    """,
)
def q116_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 100)
    return (
        d.groupBy(
            bucket.alias("bucket"), (bucket * 100).alias("bucket_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Gap-based batch sessionization: a session breaks after >30 min of
# user inactivity. lag -> boundary flag -> running sum = session id;
# two window passes over ONE user-keyed shuffle partitioning, then the
# per-session rollup reuses the same keys. The batch twin of
# streaming session_window (q72).
# ---------------------------------------------------------------------------
@query(
    "q118_sessionize_gaps",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       <= 1800000000
                  THEN 0 ELSE 1 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, ts, value,
             SUM(boundary) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM marked
    )
    SELECT user_id, session_id::BIGINT AS session_id,
           COUNT(*)::BIGINT AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           ROUND(SUM(CAST(value AS DECIMAL(28,6))), 6)::DOUBLE AS total_value
    FROM sessioned
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q118_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exact µs arithmetic (a seconds cast would truncate sub-second
    # gaps and mis-split sessions straddling the 30-min boundary).
    # ts is TIMESTAMP_NTZ; the tz cast shifts both operands by the
    # same session offset, which cancels in the difference.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(order_w).cast("timestamp"))
    marked = e.withColumn(
        "boundary", F.when(us - prev_us <= 1_800_000_000, 0).otherwise(1)
    )
    sessioned = marked.withColumn("session_id", F.sum("boundary").over(run_w))
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")), 6)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each document's trigram set is rare in
# the corpus? Inverted trigram index -> document frequency -> per-doc
# rare-trigram ratio. The "is this document boilerplate?" curation
# signal; same skeleton as the dedup inverted index, so cost tracks
# Σ|doc trigrams|, one shuffle each for the DF agg and the doc join.
# ---------------------------------------------------------------------------
@query(
    "q119_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
      FROM toks, unnest(range(greatest(len(t) - 2, 1))) AS u(i)
    ),
    df AS (
      SELECT gram, COUNT(*)::BIGINT AS gram_df FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN d.gram_df <= 2 THEN 1 ELSE 0 END)::BIGINT
             AS n_rare,
           ROUND(SUM(CASE WHEN d.gram_df <= 2 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS novelty
    FROM grams g JOIN df d USING (gram)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def q119_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_index

    # spread: documents arrive as one split; without it the shingle
    # explode runs on a single core. shingle_index carries the
    # explode_outer guard against InferFiltersFromGenerate re-inlining
    # the O(len²) shingle expression. A window over the gram partition
    # replaces the grams⋈gram_df self-join, so the explode+distinct
    # subtree is computed once instead of once per join branch.
    d = spread(load_table(spark, sf_dir, "documents"))
    grams = shingle_index(d, "doc_id", 3, None).select(
        F.col("doc").alias("doc_id"), F.col("sh").alias("gram")
    )
    per_gram = grams.withColumn(
        "gram_df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        per_gram
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gram_df") <= 2, 1).otherwise(0)).alias(
                "n_rare"
            ),
            F.round(
                F.sum(F.when(F.col("gram_df") <= 2, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )
