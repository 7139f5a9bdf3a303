"""Second curation batch: corpus hygiene + export shapes.

Rounds out the training-data pipeline surface with the operations a
production curation run needs between "dedup" and "write shards":

- cross-document boilerplate detection (n-gram document frequency —
  the line-level dedup CommonCrawl pipelines run, expressed on the
  synthetic word-soup corpus as 5-gram df);
- per-domain caps (bound any single source's contribution to the
  training mixture, keeping the highest-quality docs);
- deterministic shuffle-shard export (a reproducible global shuffle:
  pure function of the doc id, no rand(), no global sort);
- snapshot diff (keyed added/removed/changed between two versions of
  an aggregate — the audit step before promoting a new corpus cut);
- semantic dedup (SemDeDup-style: embedding-cosine edges → connected
  components → keep one representative per cluster);
- int8 scalar quantization of embeddings with reconstruction-error
  stats (the storage/serving trade every 100 TB embedding corpus
  makes).

Every query carries a DuckDB oracle; cross-engine conventions per
queries/__init__ (identical aliases, decimal-exact reductions,
floor(x+0.5) instead of round() where half-way rounding modes could
diverge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..execution import spread
from ..operators.similarity import dot, with_norm
from . import query

# 5-gram document frequency above which a shingle counts as
# boilerplate. df>=3 on the synthetic corpus ≈ the "appears in many
# pages" templates/navigation chrome of a web crawl.
_BOILER_DF = 3

# per-source cap for the domain-cap query (25 docs/source at sf0.01).
_DOMAIN_CAP = 15

_SHINGLE5 = (
    "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || "
    "toks[i+4] || ' ' || toks[i+5]"
)


# ---------------------------------------------------------------------------
# Cross-document boilerplate: 5-grams shared by >= _BOILER_DF docs are
# "boilerplate"; score each doc by the fraction of its distinct 5-grams
# that are boilerplate. One explode + two hash aggregates — the shingle
# df table shuffles on the shingle key, so cost tracks corpus token
# count, never doc-pairs. At 100 TB the df aggregate is the classic
# map-side-combine win (partial counts per partition before shuffle).
# ---------------------------------------------------------------------------
@query(
    "q120_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, {_SHINGLE5} AS s
           FROM t, unnest(range(greatest(len(toks) - 4, 1))) AS u(i)),
    df AS (SELECT s, count(DISTINCT doc_id) AS d FROM sh GROUP BY s)
    SELECT sh.doc_id,
           count(*)::BIGINT AS n_grams,
           count(*) FILTER (WHERE df.d >= {_BOILER_DF})::BIGINT AS n_boiler,
           (count(*) FILTER (WHERE df.d >= {_BOILER_DF})
                 / count(*)::DOUBLE)::DOUBLE AS boiler_frac
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY sh.doc_id
    ORDER BY doc_id
    """,
)
def q120_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles

    d = spread(load_table(spark, sf_dir, "documents"))
    sh = (
        shingles(d, n=5)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("d") >= _BOILER_DF).alias("n_boiler"),
        )
        .withColumn(
            # raw: one IEEE division of exact int64 counts (safe class)
            "boiler_frac",
            F.col("n_boiler") / F.col("n_grams").cast("double"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-domain cap: keep at most _DOMAIN_CAP docs per source, preferring
# longer docs (quality proxy), doc_id as the deterministic tiebreak.
# One window shuffle on source; at scale this is the standard
# "bound any domain's mixture share" pass and the window never
# materializes more than a partition's rows.
# ---------------------------------------------------------------------------
@query(
    "q121_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT source,
           count(*)::BIGINT AS n_total,
           count(*) FILTER (WHERE rn <= {_DOMAIN_CAP})::BIGINT AS n_kept,
           count(*) FILTER (WHERE rn > {_DOMAIN_CAP})::BIGINT AS n_dropped,
           SUM(n_chars) FILTER (WHERE rn <= {_DOMAIN_CAP})::BIGINT
             AS chars_kept
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def q121_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = d.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= _DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(kept).alias("n_kept"),
            F.count_if(~kept).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars"))).alias("chars_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic shuffle-shard export: order key = md5 of the doc id,
# shard = first hex nibble of that key, position = rank within shard.
# Pure function of the data — identical assignment on any cluster
# layout, any partition count, any retry (the reproducibility property
# rand()-based shuffles lose). At 100 TB: no global sort, one window
# shuffle on the 16-way shard key; writing then uses
# partitionBy(shard) so each shard lands as its own file set.
# ---------------------------------------------------------------------------
@query(
    "q122_shuffle_shard_export",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5(doc_id::VARCHAR) AS ord_key,
             strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1))
               - 1 AS shard
      FROM documents)
    SELECT doc_id, shard::INT AS shard,
           row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
             ::BIGINT AS pos
    FROM keyed
    ORDER BY shard, pos
    """,
)
def q122_shuffle_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("ord_key")
    ).withColumn(
        "shard", F.conv(F.substring("ord_key", 1, 1), 16, 10).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Snapshot diff: keyed comparison of two corpus versions (here: the
# per-customer 1996 vs 1997 order totals). FULL OUTER on the key,
# status ∈ added/removed/changed/unchanged. The audit step before
# promoting a new cut: at scale both sides shuffle once on the key and
# AQE picks merge vs hash per skew.
# ---------------------------------------------------------------------------
@query(
    "q123_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS custkey,
             ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)::DOUBLE
               AS total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1),
    b AS (
      SELECT o_custkey AS custkey,
             ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)::DOUBLE
               AS total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1)
    SELECT COALESCE(a.custkey, b.custkey)::BIGINT AS custkey,
           CASE WHEN a.custkey IS NULL THEN 'added'
                WHEN b.custkey IS NULL THEN 'removed'
                WHEN a.total <> b.total THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.total AS total_old,
           b.total AS total_new
    FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
    ORDER BY custkey
    """,
)
def q123_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import dsum

    o = load_table(spark, sf_dir, "orders")

    def snap(year: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (
                    F.col("o_orderdate")
                    < F.lit(f"{year + 1}-01-01").cast("timestamp")
                )
            )
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(dsum("o_totalprice", "total"))
        )

    a = snap(1996).select("custkey", F.col("total").alias("total_old"))
    b = snap(1997).select(
        F.col("custkey").alias("custkey_b"), F.col("total").alias("total_new")
    )
    return (
        a.join(b, a["custkey"] == b["custkey_b"], "full_outer")
        .select(
            F.coalesce("custkey", "custkey_b").alias("custkey"),
            F.when(F.col("custkey").isNull(), "added")
            .when(F.col("custkey_b").isNull(), "removed")
            .when(F.col("total_old") != F.col("total_new"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            "total_old",
            "total_new",
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): embedding-cosine edges → connected
# components → keep the min-id representative per cluster. Exact
# cosine on the bounded vec_id<300 audit subset so the oracle is the
# DuckDB transitive closure over the identical edge set; the 100 TB
# path swaps the edge generator for the LSH/IVF-bucketed q58/q90
# candidates — the component + survivor machinery is unchanged.
# ---------------------------------------------------------------------------
@query(
    "q124_semantic_dedup",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))) >= 0.3),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT e.s, r.m FROM edges e JOIN reach r ON e.d = r.n),
    comp AS (SELECT n, MIN(m) AS c FROM reach GROUP BY n)
    SELECT v.vec_id,
           COALESCE(comp.c, v.vec_id)::BIGINT AS cluster_id,
           (COALESCE(comp.c, v.vec_id) = v.vec_id) AS kept
    FROM v LEFT JOIN comp ON comp.n = v.vec_id
    ORDER BY vec_id
    """,
)
def q124_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    v = with_norm(emb).select(
        F.col("vec_id"), F.col("__vec").alias("e"), F.col("__norm").alias("n")
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"),
        F.col("n").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"),
        F.col("n").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.3)
        .select("id_a", "id_b")
    )
    # propagation, not star: on this BOUNDED audit subset component
    # diameters are small, and propagation's one-join rounds beat star
    # contraction's two-pass rounds (measured 3.5s vs 5.7s; identical
    # labels). The unbounded-corpus path (q54) keeps star — O(log n)
    # rounds is the scale-safe default when diameter is unknown.
    comps = connected_components(
        pairs, src="id_a", dst="id_b", algorithm="propagation"
    )
    return (
        emb.select("vec_id")
        .join(comps, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster_id"),
        )
        .withColumn("kept", F.col("cluster_id") == F.col("vec_id"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization: per-vector scale = 127/max|e|, quantize
# with floor(x*scale + 0.5) (identical halfway behavior in every
# engine, unlike round()), reconstruct, and report per-label counts +
# mean squared reconstruction error. All list math stays JVM-side in
# one projection; the per-vector MSE is rounded then decimal-summed so
# the label average is order-independent. 4× storage cut per corpus.
# ---------------------------------------------------------------------------
@query(
    "q126_incremental_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
           FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    stop AS (SELECT s FROM sh WHERE doc_id % 2 = 0
             GROUP BY s HAVING count(*) > 20),
    b AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 1
          AND s NOT IN (SELECT s FROM stop)),
    c AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 0
          AND s NOT IN (SELECT s FROM stop)),
    sb AS (SELECT doc_id, count(*) AS n FROM b GROUP BY doc_id),
    sc2 AS (SELECT doc_id, count(*) AS n FROM c GROUP BY doc_id),
    common AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
                      count(*) AS nc
               FROM b JOIN c ON b.s = c.s GROUP BY 1, 2)
    SELECT batch_id, corpus_id,
           (nc / (sb.n + sc2.n - nc))::DOUBLE AS jaccard
    FROM common
    JOIN sb ON sb.doc_id = batch_id
    JOIN sc2 ON sc2.doc_id = corpus_id
    WHERE nc / (sb.n + sc2.n - nc) >= 0.4
    ORDER BY batch_id, corpus_id
    """,
)
def q126_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: today's batch vs the accepted corpus.

    Splits `documents` by id parity as the batch/corpus stand-ins; the
    pairing is cross-set only (no corpus self-pairs — the corpus was
    already deduplicated when it was admitted).
    """
    from ..operators.dedup import ngram_jaccard_pairs_against

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return ngram_jaccard_pairs_against(
        batch, corpus, id_col="doc_id", n=3, threshold=0.4, max_shingle_df=20
    ).orderBy("batch_id", "corpus_id")


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches: per-(event_type, day) HLL sketches
# union-merged to per-type totals. THE mergeable-aggregate pattern at
# 100 TB: daily sketches are tiny, persistable, and re-aggregable to
# any rollup level without touching raw data again (registers take the
# max — merge is exact, so merged-estimate == direct-estimate, pinned
# by test). Estimates are engine-internal (Datasketches) → rows-only;
# the ±5% error bound and merge-consistency are unit-tested.
# ---------------------------------------------------------------------------
@query("q127_sketch_rollup")
def q127_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q125_embedding_quantization",
    oracle="""
    WITH q AS (
      SELECT label,
             ROUND(
               list_aggregate(
                 list_transform(
                   embedding::DOUBLE[],
                   x -> POWER(x - floor(x * (127.0 / list_max(
                            list_transform(embedding::DOUBLE[],
                                           v -> abs(v)))) + 0.5)
                          / (127.0 / list_max(
                               list_transform(embedding::DOUBLE[],
                                              v -> abs(v)))), 2)),
                 'sum') / len(embedding), 12) AS mse
      FROM embeddings)
    SELECT label,
           count(*)::BIGINT AS n_vecs,
           ROUND(SUM(CAST(mse AS DECIMAL(28,14))), 12)::DOUBLE AS sum_mse
    FROM q
    GROUP BY label
    ORDER BY label
    """,
)
def q125_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    scale = 127.0 / F.array_max(F.transform(e, F.abs))
    err2 = F.transform(
        e,
        lambda x: F.pow(
            x - F.floor(x * scale + F.lit(0.5)) / scale, F.lit(2)
        ),
    )
    mse = F.round(
        F.aggregate(err2, F.lit(0.0), lambda acc, x: acc + x)
        / F.size("embedding"),
        12,
    )
    return (
        emb.select("label", mse.alias("mse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum(F.col("mse").cast("decimal(28,14)")), 12)
            .cast("double")
            .alias("sum_mse"),
        )
        .orderBy("label")
    )
