"""Third curation batch: corpus statistics a pretraining-data pipeline
runs between ingestion and mixture design.

- bigram language-model scoring (the CCNet/KenLM quality-filter shape:
  train an n-gram LM on the corpus, score each document by mean token
  log-probability — here the LM is the corpus's own add-one-smoothed
  bigram model, so the whole thing is two aggregates and a join);
- lexical diversity (type-token ratio + hapax ratio — the cheap
  machine-generated-text tell);
- vocabulary growth (Heaps-law curve: new terms per ingestion bucket —
  the saturation diagnostic for "is more of this source still adding
  vocabulary?");
- Gopher-style composite quality rules (token count bounds, mean token
  length bounds, stopword presence, top-token repetition cap — each
  rule a named flag so downstream can audit WHY a doc was dropped);
- per-source KL divergence from the corpus unigram distribution (the
  mixture-drift diagnostic: which domain's language is farthest from
  the blend?);
- cross-source 5-gram containment (directed shingle-set overlap
  between sources — the source-level contamination / near-mirror
  detector);
- deterministic train/val/test split (pure function of the doc id —
  reproducible on any cluster, no rand(), stratification audited per
  source).

Every query carries a DuckDB oracle; cross-engine conventions per
queries/__init__ (identical aliases, decimal-exact double reductions,
ln results rounded to 6dp before any reduction).

Scale notes: every operator here is explode → hash-aggregate →
(broadcast-or-shuffle) join — cost tracks corpus token count, never
doc pairs. The only driver-visible values are per-group result rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.determinism import DEC
from . import query

_SHINGLE5 = (
    "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || "
    "toks[i+4] || ' ' || toks[i+5]"
)

# doc_id bucket width for the vocabulary-growth curve
_VOCAB_BUCKET = 50

# Gopher-style rule thresholds, tuned to the synthetic corpus's token
# range so both pass and fail populations are non-trivial.
_MIN_TOKENS, _MAX_TOKENS = 20, 200
_MIN_MEAN_LEN, _MAX_MEAN_LEN = 2.0, 8.0
_MAX_TOP_FRAC = 0.2
_STOPWORDS = ("the", "a", "of", "to", "and")

# split thresholds (per mille) + the id-hash constants (distinct from
# q75/q117's so the three samplers are independent); the id is folded
# mod a prime before the multiply so the product fits int64 at any
# corpus size.
SPLIT_PRIME = 1000003
SPLIT_MULT = 3266489917  # murmur3 fmix c2
TRAIN_PM, VAL_PM = 800, 900


def _tok_table(d: DataFrame) -> DataFrame:
    """(doc_id metadata..., toks array) — lower/trim/space-split."""
    return d.withColumn(
        "toks", F.split(F.lower(F.trim(F.col("text"))), " ")
    ).withColumn("n_toks", F.size("toks"))


# ---------------------------------------------------------------------------
# Bigram LM score. The corpus IS the training set: P(w2|w1) =
# (c(w1,w2)+1) / (c(w1,·)+V) with add-one smoothing over the corpus
# vocabulary, and a document's score is the mean ln P over its bigram
# occurrences. Two token-scale hash aggregates build the model; scoring
# is a join back on the bigram key. At 100 TB the count tables are the
# classic map-side-combine aggregates, V rides in as a broadcast
# one-row frame (never a driver scalar), and each ln is rounded to 6dp
# before the decimal-exact mean so the reduction is order-independent
# cross-engine.
# ---------------------------------------------------------------------------
@query(
    "q131_bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    b AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
          FROM t, unnest(range(len(toks) - 1)) AS u(i)),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS v
          FROM (SELECT unnest(toks) AS w FROM t)),
    s AS (SELECT b.doc_id,
                 ROUND(ln((c2.c2 + 1) / (c1.c1 + v.v)::DOUBLE), 6) AS logp
          FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           (floor(CAST(SUM(CAST(logp AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(logp) * 1000000 + 0.5) / 1000000)::DOUBLE
             AS lm_score
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
)
def q131_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tok_table(load_table(spark, sf_dir, "documents"))
    z = t.filter(F.col("n_toks") >= 2).select(
        "doc_id",
        F.slice("toks", 1, F.col("n_toks") - 1).alias("a1"),
        F.slice("toks", 2, F.col("n_toks") - 1).alias("a2"),
    )
    bi = z.select(
        "doc_id", F.explode(F.arrays_zip("a1", "a2")).alias("bg")
    ).select(
        "doc_id", F.col("bg.a1").alias("w1"), F.col("bg.a2").alias("w2")
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        t.select(F.explode("toks").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    logp = F.round(
        F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v"))), 6
    )
    return (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("logp", logp)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # the exact-decimal sum divided by an integer count can
            # land EXACTLY on a 6dp halfway point, where engines'
            # round() tie-handling on doubles diverges — floor(x*1e6
            # + 0.5)/1e6 is identical IEEE arithmetic in both engines
            (
                F.floor(
                    F.sum(F.col("logp").cast(DEC)).cast("double")
                    / F.count("logp")
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
            ).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Lexical diversity: type-token ratio + hapax ratio per document. One
# explode + two nested hash aggregates (per-(doc,word) then per-doc) —
# the machine-generated-text screen every curation run includes.
# ---------------------------------------------------------------------------
@query(
    "q132_lexical_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS w FROM t),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2)
    SELECT doc_id,
           SUM(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_types,
           count(*) FILTER (WHERE c = 1)::BIGINT AS n_hapax,
           (count(*) / SUM(c)::DOUBLE)::DOUBLE AS ttr,
           (count(*) FILTER (WHERE c = 1) / count(*)::DOUBLE)
             ::DOUBLE AS hapax_ratio
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q132_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tok_table(load_table(spark, sf_dir, "documents"))
    wc = (
        t.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.count_if(F.col("c") == 1).alias("n_hapax"),
        )
        # raw: exact-int64-operand IEEE divisions (safe class, r14)
        .withColumn(
            "ttr",
            F.col("n_types") / F.col("n_tokens").cast("double"),
        )
        .withColumn(
            "hapax_ratio",
            F.col("n_hapax") / F.col("n_types").cast("double"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) over 5-gram types: bucket documents by
# ingestion order (doc_id) and count shingle types whose FIRST
# occurrence falls in each bucket, plus the running total — the
# saturation diagnostic for "is more of this source still adding new
# content?". (5-grams, not unigrams: the unigram vocabulary saturates
# in the first documents of any corpus; shingle types keep growing and
# produce the actual curve.) min(doc_id) per type is one token-scale
# aggregate; the cumulative sum runs over the tiny bucket table.
# ---------------------------------------------------------------------------
@query(
    "q133_vocab_growth",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, {_SHINGLE5} AS s
           FROM t, unnest(range(greatest(len(toks) - 4, 1))) AS u(i)
           WHERE len(toks) >= 5),
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
    per AS (
      SELECT (first_doc // {_VOCAB_BUCKET})::BIGINT AS bucket,
             count(*) AS new_terms
      FROM first GROUP BY 1)
    SELECT bucket, new_terms::BIGINT AS new_terms,
           SUM(new_terms) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING)::BIGINT
             AS cum_terms
    FROM per ORDER BY bucket
    """,
)
def q133_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    first = (
        shingles(d, n=5)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per = (
        first.withColumn(
            "bucket", F.floor(F.col("first_doc") / _VOCAB_BUCKET)
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.withColumn("cum_terms", F.sum("new_terms").over(w))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules. Each rule is a named boolean
# flag (token-count bounds, mean-token-length bounds, >=2 distinct
# stopwords present, top-token repetition cap) so a drop is auditable;
# `passes` is their conjunction. One explode + per-(doc,word) +
# per-doc aggregates — no UDF, no second scan of the text.
# ---------------------------------------------------------------------------
@query(
    "q134_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS w FROM t),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
    d AS (
      SELECT doc_id,
             SUM(c) AS n_tokens,
             ROUND(SUM(c * len(w)) / SUM(c)::DOUBLE, 6) AS mean_tok_len,
             ROUND(MAX(c) / SUM(c)::DOUBLE, 6) AS top_tok_frac,
             count(*) FILTER (WHERE w IN {_STOPWORDS!r}) AS n_stop_types
      FROM wc GROUP BY doc_id)
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           mean_tok_len::DOUBLE AS mean_tok_len,
           top_tok_frac::DOUBLE AS top_tok_frac,
           n_stop_types::BIGINT AS n_stop_types,
           (n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}) AS flag_len,
           (mean_tok_len BETWEEN {_MIN_MEAN_LEN} AND {_MAX_MEAN_LEN})
             AS flag_word_len,
           (n_stop_types >= 2) AS flag_stop,
           (top_tok_frac <= {_MAX_TOP_FRAC}) AS flag_rep,
           ((n_tokens BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS})
            AND (mean_tok_len BETWEEN {_MIN_MEAN_LEN} AND {_MAX_MEAN_LEN})
            AND (n_stop_types >= 2)
            AND (top_tok_frac <= {_MAX_TOP_FRAC})) AS passes
    FROM d ORDER BY doc_id
    """,
)
def q134_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tok_table(load_table(spark, sf_dir, "documents"))
    wc = (
        t.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.sum(F.col("c") * F.length("w"))
            / F.sum("c").cast("double"),
            6,
        ).alias("mean_tok_len"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
            "top_tok_frac"
        ),
        F.count_if(F.col("w").isin(*_STOPWORDS)).alias("n_stop_types"),
    )
    flag_len = F.col("n_tokens").between(_MIN_TOKENS, _MAX_TOKENS)
    flag_word_len = F.col("mean_tok_len").between(
        _MIN_MEAN_LEN, _MAX_MEAN_LEN
    )
    flag_stop = F.col("n_stop_types") >= 2
    flag_rep = F.col("top_tok_frac") <= _MAX_TOP_FRAC
    return (
        d.withColumn("flag_len", flag_len)
        .withColumn("flag_word_len", flag_word_len)
        .withColumn("flag_stop", flag_stop)
        .withColumn("flag_rep", flag_rep)
        .withColumn(
            "passes", flag_len & flag_word_len & flag_stop & flag_rep
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Mixture drift: KL(P_source || P_corpus) over the unigram
# distribution. Every source's tokens are (by construction) a subset
# of the corpus's, so the divergence is finite without smoothing. Each
# term is rounded to 6dp before the decimal-exact sum (order- and
# engine-independent); cost is two token-scale aggregates + a
# vocabulary-sized join.
# ---------------------------------------------------------------------------
@query(
    "q135_source_kl_divergence",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
      FROM documents),
    cs AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
    ts AS (SELECT source, SUM(c) AS t FROM cs GROUP BY 1),
    cc AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
    tot AS (SELECT SUM(c) AS t FROM cc),
    terms AS (
      SELECT cs.source,
             ROUND((cs.c / ts.t::DOUBLE)
                   * ln((cs.c / ts.t::DOUBLE)
                        / (cc.c / tot.t::DOUBLE)), 6) AS kl_term
      FROM cs JOIN ts USING (source) JOIN cc USING (w), tot)
    SELECT source, count(*)::BIGINT AS n_terms,
           ROUND(CAST(SUM(CAST(kl_term AS DECIMAL(28,6))) AS DOUBLE), 6)
             ::DOUBLE AS kl
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q135_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tok_table(load_table(spark, sf_dir, "documents"))
    w = t.select("source", F.explode("toks").alias("w"))
    cs = w.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    ts = cs.groupBy("source").agg(F.sum("c").alias("t"))
    cc = w.groupBy("w").agg(F.count(F.lit(1)).alias("cc"))
    tot = cc.agg(F.sum("cc").alias("tt"))
    p_s = F.col("c") / F.col("t").cast("double")
    p_c = F.col("cc") / F.col("tt").cast("double")
    return (
        cs.join(F.broadcast(ts), "source")
        .join(cc, "w")
        .crossJoin(F.broadcast(tot))
        .withColumn("kl_term", F.round(p_s * F.log(p_s / p_c), 6))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(F.col("kl_term").cast(DEC)), 6)
            .cast("double")
            .alias("kl"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-source contamination: directed 5-gram containment
# |sh(a) ∩ sh(b)| / |sh(a)| for every ordered source pair. The
# source-level DISTINCT shingle sets join on the shingle key, so cost
# is shared-shingle buckets (source count is small; the shingle join
# is the only big shuffle). The source-granularity twin of the
# doc-level q105 eval-contamination check.
# ---------------------------------------------------------------------------
@query(
    "q136_cross_source_contamination",
    oracle=f"""
    WITH t AS (
      SELECT source, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    sh AS (SELECT DISTINCT source, {_SHINGLE5} AS s
           FROM t, unnest(range(greatest(len(toks) - 4, 1))) AS u(i)
           WHERE len(toks) >= 5),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.source <> b.source
      GROUP BY 1, 2)
    SELECT i.source_a, i.source_b, i.n_common::BIGINT AS n_common,
           sa.n::BIGINT AS n_a,
           (i.n_common / sa.n::DOUBLE)::DOUBLE AS containment
    FROM inter i JOIN sizes sa ON i.source_a = sa.source
    ORDER BY source_a, source_b
    """,
)
def q136_cross_source_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    sh = (
        shingles(d, n=5)
        .select("source", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("n_a"))),
            "source_a",
        )
        .withColumn(
            # raw exact-operand IEEE division (safe class, r14)
            "containment",
            F.col("n_common") / F.col("n_a").cast("double"),
        )
        .select("source_a", "source_b", "n_common", "n_a", "containment")
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: 80/10/10 as a pure function of
# the doc id (fold-then-multiply hash, overflow-safe), audited per
# source. Identical membership on any cluster layout and in the
# oracle — the property rand()/randomSplit cannot give. At 100 TB the
# split column costs one projection; the audit is one tiny aggregate.
# ---------------------------------------------------------------------------
@query(
    "q137_dataset_split",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id, n_chars,
             CASE WHEN (doc_id % {SPLIT_PRIME}) * {SPLIT_MULT} % 1000
                       < {TRAIN_PM} THEN 'train'
                  WHEN (doc_id % {SPLIT_PRIME}) * {SPLIT_MULT} % 1000
                       < {VAL_PM} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, count(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS n_chars,
           MIN(doc_id)::BIGINT AS first_doc,
           MAX(doc_id)::BIGINT AS last_doc
    FROM s GROUP BY source, split ORDER BY source, split
    """,
)
def q137_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    r = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(SPLIT_PRIME)) * F.lit(SPLIT_MULT),
        F.lit(1000),
    )
    split = (
        F.when(r < TRAIN_PM, "train")
        .when(r < VAL_PM, "val")
        .otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "split")
    )
