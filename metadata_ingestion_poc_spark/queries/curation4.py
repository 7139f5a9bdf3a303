"""Fourth curation batch: exact-substring span dedup and fuzzy
(edit-distance) matching.

- q139: exact-substring span dedup (Lee et al. 2021 semantics —
  contiguous shared token runs, found EXACTLY via a positional k-gram
  index + diagonal run-merge, never a suffix array and never an n²
  pair scan; see operators/spans.py for the scale argument);
- q140: blocked fuzzy join — deterministic single-character-deletion
  probes built from part names, matched back to the name catalog at
  edit distance <= 1 with first∪last-token blocking. The DuckDB oracle
  is the BRUTE-FORCE cross join, so the driver check differentially
  proves the blocking loses nothing (it is complete for two-token
  strings at distance 1 — operators/fuzzy.py docstring has the
  pigeonhole argument).

- q141: within-document repeated spans (the template / degenerate-
  generation detector) over a deterministically augmented corpus —
  every 7th doc gets its first 20 tokens re-appended in BOTH engines,
  so the detector must find exactly the planted repeats.

- q142: near-dup graph degree histogram (corpus-entanglement dial:
  cluster-collapse vs pair-drop decision input), degree-0 mass
  included.

- q143: eval-set decontamination — cross-set span containment between
  the q137 deterministic train/eval split (the pass a pretraining
  pipeline runs against benchmark suites before training).

- q144: VARIANT-typed semi-structured analytics (Spark 4 parse_json /
  try_variant_get) over the events props JSON.

q139-q141/q143 are integer/string-exact — no floating point anywhere —
so the cross-engine hash has no rounding hazards; q142's only float is
the Jaccard threshold comparison, inherited from q51's pinned form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.fuzzy import fuzzy_join_blocked
from ..operators.spans import (
    duplicated_spans,
    duplicated_spans_against,
    self_repeated_spans,
)
from .curation3 import SPLIT_MULT, SPLIT_PRIME, TRAIN_PM
from . import query

# Span-dedup dials for the synthetic corpus: 8-token grams, report
# pairs sharing >= 15 contiguous tokens. The df cap is deliberately
# exercised (the corpus has grams up past this frequency).
_K, _MIN_SPAN, _MAX_GRAM_DF = 8, 15, 50

# Identical probe-construction SQL for both engines: delete one
# character of the FIRST token of p_name at deterministic position
# (p_partkey % len(first)) + 1, keep the rest of the name intact.
_PROBE_SQL = (
    "concat("
    "substr(split_part(p_name, ' ', 1), 1,"
    "       p_partkey % length(split_part(p_name, ' ', 1))), "
    "substr(split_part(p_name, ' ', 1),"
    "       p_partkey % length(split_part(p_name, ' ', 1)) + 2), "
    "' ', split_part(p_name, ' ', 2))"
)


@query(
    "q139_duplicated_spans",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      FROM documents),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(l[i:i+{_K - 1}], ' ') AS g
      FROM toks, LATERAL (
        SELECT unnest(range(1, greatest(len(l) - {_K}, -1) + 2)) AS i)),
    capped AS (
      SELECT doc_id, pos, g FROM (
        SELECT *, count(*) OVER (PARTITION BY g) AS df FROM grams)
      WHERE df <= {_MAX_GRAM_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS d
      FROM capped a JOIN capped b USING (g)
      WHERE a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, d, pa,
             pa - row_number()
                    OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa)
               AS island
      FROM pairs),
    spans AS (
      SELECT doc_a, doc_b, d, island, count(*) + {_K - 1} AS span
      FROM isl GROUP BY doc_a, doc_b, d, island)
    SELECT doc_a, doc_b,
           max(span)::BIGINT AS longest_span,
           count(*) FILTER (WHERE span >= {_MIN_SPAN})::BIGINT AS n_spans
    FROM spans GROUP BY doc_a, doc_b
    HAVING max(span) >= {_MIN_SPAN}
    ORDER BY doc_a, doc_b
    """,
)
def q139_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(
        docs, k=_K, min_span=_MIN_SPAN, max_gram_df=_MAX_GRAM_DF
    ).orderBy("doc_a", "doc_b")


@query(
    "q140_fuzzy_name_match",
    oracle=f"""
    WITH probes AS (
      SELECT p_partkey AS probe_id, {_PROBE_SQL} AS probe FROM part),
    names AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT probe_id, probe, name,
           CAST(levenshtein(probe, name) AS INT) AS dist
    FROM probes CROSS JOIN names
    WHERE abs(length(probe) - length(name)) <= 1
      AND levenshtein(probe, name) <= 1
    ORDER BY probe_id, name
    """,
)
def q140_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    probes = part.select(
        F.col("p_partkey").alias("probe_id"), F.expr(_PROBE_SQL).alias("probe")
    )
    names = part.select(F.col("p_name").alias("name")).distinct()
    return (
        fuzzy_join_blocked(probes, names, "probe", "name", max_dist=1)
        .select("probe_id", "probe", "name", F.col("dist").cast("int"))
        .orderBy("probe_id", "name")
    )


# Deterministic self-repeat test-bed: the synthetic corpus has no
# natural within-doc repeats (verified by sweep), so every 7th doc is
# augmented by re-appending its first 20 raw tokens — identical SQL in
# both engines — and the detector must find EXACTLY the planted
# repeats (plus nothing else).
_SPARK_AUG = (
    "CASE WHEN doc_id % 7 = 0 THEN "
    "concat(text, ' ', concat_ws(' ', "
    r"  slice(split(trim(text), '\\s+'), 1, 20))) "
    "ELSE text END"
)
_DUCK_AUG = (
    "CASE WHEN doc_id % 7 = 0 THEN "
    "concat(text, ' ', array_to_string("
    r"  (string_split_regex(trim(text), '\s+'))[1:20], ' ')) "
    "ELSE text END"
)


@query(
    "q141_self_repeated_spans",
    oracle=rf"""
    WITH aug AS (
      SELECT doc_id, {_DUCK_AUG} AS text FROM documents),
    toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
      FROM aug),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(l[i:i+{_K - 1}], ' ') AS g
      FROM toks, LATERAL (
        SELECT unnest(range(1, greatest(len(l) - {_K}, -1) + 2)) AS i)),
    capped AS (
      SELECT doc_id, pos, g FROM (
        SELECT *, count(*) OVER (PARTITION BY g) AS df FROM grams)
      WHERE df <= {_MAX_GRAM_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_id, a.pos AS pa, b.pos - a.pos AS d
      FROM capped a JOIN capped b
        ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos < b.pos),
    isl AS (
      SELECT doc_id, d, pa,
             pa - row_number() OVER (PARTITION BY doc_id, d ORDER BY pa)
               AS island
      FROM pairs),
    spans AS (
      SELECT doc_id, d, island, count(*) + {_K - 1} AS span
      FROM isl GROUP BY doc_id, d, island)
    SELECT doc_id,
           max(span)::BIGINT AS longest_span,
           count(*) FILTER (WHERE span >= {_MIN_SPAN})::BIGINT AS n_spans
    FROM spans GROUP BY doc_id
    HAVING max(span) >= {_MIN_SPAN}
    ORDER BY doc_id
    """,
)
def q141_self_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SPARK_AUG).alias("text")
    )
    return self_repeated_spans(
        docs, k=_K, min_span=_MIN_SPAN, max_gram_df=_MAX_GRAM_DF
    ).orderBy("doc_id")


# Near-dup graph degree histogram: how entangled is the corpus? The
# degree distribution of the q51 similarity graph (3-gram Jaccard >=
# 0.4 over the df-capped shingle universe) is the dial a curation run
# reads before choosing cluster-collapse vs pair-drop: a long tail of
# high-degree hubs means transitive clusters, all-degree<=1 means
# simple pair pruning suffices. Includes degree-0 docs (the healthy
# mass) via a left join against the full corpus.
_DEG_THRESHOLD, _DEG_SHINGLE_DF = 0.4, 20


@query(
    "q142_neardup_degree_histogram",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    sh0 AS (SELECT DISTINCT doc_id,
                   toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
            FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS sdf FROM sh0)
           WHERE sdf <= {_DEG_SHINGLE_DF}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM common
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE n_common / (sa.n_sh + sb.n_sh - n_common)
                    >= {_DEG_THRESHOLD}),
    deg AS (SELECT doc_id, count(*) AS degree FROM (
              SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id)
    SELECT coalesce(deg.degree, 0)::BIGINT AS degree,
           count(*)::BIGINT AS n_docs
    FROM documents d LEFT JOIN deg USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def q142_neardup_degree_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", n=3, threshold=_DEG_THRESHOLD,
        max_shingle_df=_DEG_SHINGLE_DF,
    )
    # explode(array(a,b)), NOT unionAll of two projections: a union
    # references the pair pipeline twice and Spark re-executes the
    # whole inverted-index dedup for each branch.
    deg = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        d.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


# Eval-set decontamination: which TRAIN documents contain >= 15-token
# verbatim runs of EVAL text? The split is q137's deterministic
# id-hash (train = per-mille < 800), so both engines carve identical
# sides; detection is the cross-set span operator. This is the pass a
# pretraining pipeline runs against benchmark suites before training —
# whole-document similarity misses a benchmark question pasted into a
# long page, exact spans do not.
@query(
    "q143_eval_decontamination",
    oracle=rf"""
    WITH s AS (
      SELECT doc_id, text,
             (doc_id % {SPLIT_PRIME}) * {SPLIT_MULT} % 1000 AS r
      FROM documents),
    toks AS (
      SELECT doc_id, r, string_split_regex(lower(trim(text)), '\s+') AS l
      FROM s),
    grams AS (
      SELECT doc_id, r, i AS pos, array_to_string(l[i:i+{_K - 1}], ' ') AS g
      FROM toks, LATERAL (
        SELECT unnest(range(1, greatest(len(l) - {_K}, -1) + 2)) AS i)),
    capped AS (
      SELECT doc_id, r, pos, g FROM (
        SELECT *, count(*) OVER (PARTITION BY g) AS df FROM grams)
      WHERE df <= {_MAX_GRAM_DF}),
    pairs AS (
      SELECT a.doc_id AS eval_doc, b.doc_id AS train_doc,
             a.pos AS pa, a.pos - b.pos AS d
      FROM capped a JOIN capped b USING (g)
      WHERE a.r >= {TRAIN_PM} AND b.r < {TRAIN_PM}),
    isl AS (
      SELECT eval_doc, train_doc, d, pa,
             pa - row_number()
                    OVER (PARTITION BY eval_doc, train_doc, d ORDER BY pa)
               AS island
      FROM pairs),
    spans AS (
      SELECT eval_doc, train_doc, d, island, count(*) + {_K - 1} AS span
      FROM isl GROUP BY eval_doc, train_doc, d, island)
    SELECT eval_doc, train_doc,
           max(span)::BIGINT AS longest_span,
           count(*) FILTER (WHERE span >= {_MIN_SPAN})::BIGINT AS n_spans
    FROM spans GROUP BY eval_doc, train_doc
    HAVING max(span) >= {_MIN_SPAN}
    ORDER BY eval_doc, train_doc
    """,
)
def q143_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    r = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(SPLIT_PRIME))
        * F.lit(SPLIT_MULT),
        F.lit(1000),
    )
    d = d.withColumn("__r", r)
    eval_docs = d.filter(F.col("__r") >= TRAIN_PM).drop("__r")
    train_docs = d.filter(F.col("__r") < TRAIN_PM).drop("__r")
    return (
        duplicated_spans_against(
            eval_docs, train_docs,
            k=_K, min_span=_MIN_SPAN, max_gram_df=_MAX_GRAM_DF,
        )
        .select(
            F.col("batch_doc").alias("eval_doc"),
            F.col("corpus_doc").alias("train_doc"),
            "longest_span",
            "n_spans",
        )
        .orderBy("eval_doc", "train_doc")
    )


# Semi-structured analytics through Spark 4's VARIANT type: ingest the
# JSON props column AS VARIANT (parse once, binary-encoded, no schema
# declared), then extract typed paths at query time — the modern
# replacement for get_json_object string re-parsing (q37 keeps the
# classic path for comparison). The oracle is DuckDB's JSON extraction
# over the same strings.
@query(
    "q144_variant_json_analytics",
    oracle="""
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           min(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
             AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
             AS k_max,
           SUM(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
             AS k_sum
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def q144_variant_json_analytics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .orderBy("event_type")
    )


# Compression-ratio repetitiveness screen (rows-only by design: zlib
# exists in neither DuckDB nor Spark SQL — determinism for the pinned
# zlib level is proven by exact-value unit tests instead). Per-source
# aggregate of the per-doc ratio plus the count flagged below the
# drop threshold.
_ZLIB_FLAG_BELOW = 0.30


@query("q146_compression_screen")
def q146_compression_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import compression_ratio

    d = load_table(spark, sf_dir, "documents")
    return (
        compression_ratio(d)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("compression_ratio"), 6).alias("mean_ratio"),
            F.count_if(
                F.col("compression_ratio") < _ZLIB_FLAG_BELOW
            ).alias("n_flagged"),
        )
        .orderBy("source")
    )


# Directed containment near-dup: the quoted-excerpt / subset detector.
# Jaccard punishes size mismatch (small doc inside big doc scores near
# zero); containment from the small side scores ~1. Same inverted
# index and df cap as q51 — only the final arithmetic differs.
_CONT_THRESHOLD, _CONT_SHINGLE_DF = 0.8, 20


@query(
    "q147_ngram_containment_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    sh0 AS (SELECT DISTINCT doc_id,
                   toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
            FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS sdf FROM sh0)
           WHERE sdf <= {_CONT_SHINGLE_DF}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           (n_common / sa.n_sh)::DOUBLE AS containment_a,
           (n_common / sb.n_sh)::DOUBLE AS containment_b,
           (n_common / (sa.n_sh + sb.n_sh - n_common))::DOUBLE
             AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / sa.n_sh >= {_CONT_THRESHOLD}
       OR n_common / sb.n_sh >= {_CONT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def q147_ngram_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return (
        ngram_containment_pairs(
            d, id_col="doc_id", n=3, threshold=_CONT_THRESHOLD,
            max_shingle_df=_CONT_SHINGLE_DF,
        )
        .withColumn("containment_a", F.col("containment_a").cast("double"))
        .withColumn("containment_b", F.col("containment_b").cast("double"))
        .withColumn("jaccard", F.col("jaccard").cast("double"))
        .orderBy("doc_a", "doc_b")
    )
