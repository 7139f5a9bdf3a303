"""Tenth analytics batch (round 9): distributed k-means embedding
clustering (q242) + centroid silhouette (q247), deterministic
stratified sampling (q243), label propagation communities (q244),
budget-capped greedy selection (q245), PCA top component (q246),
k-center greedy coreset selection (q248), and the prefix-filtered
exact similarity join (q249).

Cross-engine discipline notes for this batch:

- q242/q247 replay Lloyd's algorithm in the oracle iteration-by-
  iteration with MATERIALIZED CTEs (the q168 pagerank / q189 k-core
  pattern — without MATERIALIZED the unrolled prefix re-evaluates
  exponentially). Every squared-difference term is rounded at 6 dp
  and decimal-summed, assignment ties break on the lower cluster id,
  and centroid updates are ROUND(sum/count, 6) — so the full
  clustering trajectory is engine-independent (see
  operators/clustering.py for the scale design).
- q243/q245 are all-integer until one final division: quotas and
  budgets use exact integer division because float rates at
  representation boundaries would flip membership between engines.
- q244 is a pure integer trajectory (counts + ids) — bit-exact by
  construction.
- q246's matrix-vector terms are cast at 12 dp, NOT rounded at 6: a
  product of two 6-dp decimals is exactly a 12-dp decimal, and a
  6-dp ROUND puts 1/8 of the first-iteration products (× v0 = 0.125)
  on exact 5e-7 boundaries where Spark and DuckDB round one ulp
  apart (the q188 tie trap).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ..execution import spread
from ..functions.determinism import DEC, half_up

# ---------------------------------------------------------------------------
# q242 — k-means clustering of the embeddings table (Lloyd's, k=8,
# 3 update rounds + final assignment), reporting per-cluster size,
# inertia (exact-decimal sum of assigned squared distances), and the
# final centroid's squared norm. Scale shape (operators/clustering.py):
# assignment is codegen-only with literal broadcast centroids (zero
# shuffle), each update is ONE k-group exchange behind map-side
# combine, per-round collects are bounded at k·(d+1) values, and
# re-literalizing centroids keeps every iteration's plan flat (no
# lineage growth at all).
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 3
_KM_DIMS = 64
# the one audited copy of the seed/sample hash — the oracles below
# and the Spark paths must stay numerically identical
from ..operators.clustering import (  # noqa: E402
    HASH_MOD as _KM_HASH_MOD,
    HASH_MULT as _KM_HASH_MULT,
)


def _kmeans_prefix(k: int, iters: int, dims: int) -> str:
    """Shared unrolled Lloyd's replay through the final per-(point,
    centroid) distance frame ``dfin`` (q242 appends the cluster
    summary tail; q247 the silhouette tail)."""
    sql = f"""
    WITH edims AS MATERIALIZED (
        SELECT vec_id AS id, t.i::INT AS dim, embedding[t.i]::DOUBLE AS v
        FROM embeddings, range(1, {dims + 1}) AS t(i)),
    seeds AS MATERIALIZED (
        SELECT vec_id AS id,
               ROW_NUMBER() OVER (
                   ORDER BY ((vec_id % {_KM_HASH_MOD})
                             * {_KM_HASH_MULT}) % {_KM_HASH_MOD},
                            vec_id)::INT AS cid
        FROM embeddings
        QUALIFY cid <= {k}),
    c0 AS MATERIALIZED (
        SELECT s.cid, e.dim, e.v
        FROM seeds s JOIN edims e ON e.id = s.id)"""
    prev = "c0"
    for r in range(iters):
        sql += f""",
    d{r} AS MATERIALIZED (
        SELECT e.id, c.cid,
               SUM(CAST(ROUND((e.v - c.v) * (e.v - c.v), 6)
                        AS DECIMAL(28,6))) AS d2
        FROM edims e JOIN {prev} c USING (dim)
        GROUP BY e.id, c.cid),
    a{r} AS MATERIALIZED (
        SELECT id, cid FROM (
            SELECT id, cid,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY d2, cid) AS rn
            FROM d{r}) WHERE rn = 1),
    c{r + 1} AS MATERIALIZED (
        SELECT a.cid, e.dim,
               ROUND(CAST(SUM(CAST(e.v AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 6) AS v
        FROM a{r} a JOIN edims e USING (id)
        GROUP BY a.cid, e.dim)"""
        prev = f"c{r + 1}"
    return (
        sql
        + f""",
    dfin AS MATERIALIZED (
        SELECT e.id, c.cid,
               SUM(CAST(ROUND((e.v - c.v) * (e.v - c.v), 6)
                        AS DECIMAL(28,6))) AS d2
        FROM edims e JOIN {prev} c USING (dim)
        GROUP BY e.id, c.cid),
    cfin AS MATERIALIZED (SELECT * FROM {prev})"""
    )


def _kmeans_oracle(k: int, iters: int, dims: int) -> str:
    return (
        _kmeans_prefix(k, iters, dims)
        + """,
    afin AS MATERIALIZED (
        SELECT id, cid, d2 FROM (
            SELECT id, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY d2, cid) AS rn
            FROM dfin) WHERE rn = 1),
    norms AS (
        SELECT cid,
               ROUND(CAST(SUM(CAST(ROUND(v * v, 6) AS DECIMAL(28,6)))
                          AS DOUBLE), 6) AS centroid_norm
        FROM cfin GROUP BY cid)
    SELECT a.cid::INT AS cluster_id,
           COUNT(*)::BIGINT AS n_members,
           ROUND(CAST(SUM(a.d2) AS DOUBLE), 6) AS inertia,
           ANY_VALUE(n.centroid_norm) AS centroid_norm
    FROM afin a JOIN norms n ON n.cid = a.cid
    GROUP BY a.cid
    ORDER BY cluster_id"""
    )


@query(
    "q242_kmeans_clusters",
    oracle=_kmeans_oracle(_KM_K, _KM_ITERS, _KM_DIMS),
)
def q242_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iterations=_KM_ITERS
    )
    # Final-centroid squared norms, computed driver-side in exact
    # decimal (the centroids are k·d 6-dp doubles already on the
    # driver): term-rounded v² decimal sum, mirroring the oracle.
    norms = assigned.sparkSession.createDataFrame(
        [
            (
                cid,
                half_up(
                    float(
                        sum(
                            (
                                Decimal(repr(half_up(v * v, 6)))
                                for v in c
                            ),
                            Decimal(0),
                        )
                    ),
                    6,
                ),
            )
            for cid, c in sorted(centroids.items())
        ],
        "cluster_id int, centroid_norm double",
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(F.sum("d2").cast("double"), 6).alias("inertia"),
        )
        .join(F.broadcast(norms), "cluster_id")
        .select("cluster_id", "n_members", "inertia", "centroid_norm")
        .orderBy("cluster_id")
    )

# ---------------------------------------------------------------------------
# q243 — deterministic stratified sampling of the documents corpus:
# per-source proportional allocation (quota = floor(n_s / 5), a 20%
# rate via exact integer division — float rates hit representation
# boundaries), members chosen as the quota lowest multiplicative-hash
# doc ids within each stratum. The hash makes the sample a pure
# function of the id — repartition-invariant and replayable, the
# property a training-data pipeline needs for reproducible subsets.
# Scale: ONE exchange by source + a per-stratum rank window (sort is
# within-stratum, never global).
# ---------------------------------------------------------------------------


@query(
    "q243_stratified_sample",
    oracle=f"""
    WITH r AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ((doc_id % {_KM_HASH_MOD})
                             * {_KM_HASH_MULT}) % {_KM_HASH_MOD},
                            doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_total
        FROM documents)
    SELECT source, MAX(n_total)::BIGINT AS n_total,
           (MAX(n_total) // 5)::BIGINT AS n_sampled,
           SUM(CASE WHEN rn <= n_total // 5 THEN n_chars
                    ELSE 0 END)::BIGINT AS sampled_chars
    FROM r GROUP BY source ORDER BY source
    """,
)
def q243_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    by_src = Window.partitionBy("source")
    rank_w = by_src.orderBy(
        # id reduced first so the int64 multiply can't overflow at
        # corpus-scale ids (see operators/clustering.py seed hash)
        ((F.col("doc_id") % F.lit(_KM_HASH_MOD)) * F.lit(_KM_HASH_MULT))
        % F.lit(_KM_HASH_MOD),
        "doc_id",
    )
    r = d.select(
        "source",
        "n_chars",
        F.row_number().over(rank_w).alias("rn"),
        F.count(F.lit(1)).over(by_src).alias("n_total"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.max("n_total").cast("long").alias("n_total"),
            F.expr("max(n_total) div 5").cast("long").alias("n_sampled"),
            F.sum(
                F.when(
                    F.col("rn") <= F.expr("n_total div 5"), F.col("n_chars")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("sampled_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q244 — synchronous label propagation (2 rounds) on the co-purchase
# part graph: every node starts as its own community, then adopts the
# most frequent neighbor label (ties -> smallest label) each round —
# the cheap community-detection companion to connected components
# (which merges everything touching) and k-core (which peels). Pure
# integer trajectory, so the unrolled MATERIALIZED-CTE oracle is
# bit-exact. Scale shape: per round ONE join of the edge list against
# the node-sized label frame + one (node, label) rollup + a
# per-node rank window; labels localCheckpoint per round (the k-core
# lineage discipline, operators/graph.py:234); rounds bounded by
# construction.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_oracle(rounds: int) -> str:
    sql = """
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    e AS MATERIALIZED (
        SELECT DISTINCT a.p AS a, b.p AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
    sym AS MATERIALIZED (
        SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    l0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS lbl FROM sym)"""
    for r in range(1, rounds + 1):
        sql += f""",
    v{r} AS MATERIALIZED (
        SELECT s.a AS node, l.lbl, COUNT(*)::BIGINT AS c
        FROM sym s JOIN l{r - 1} l ON l.node = s.b
        GROUP BY s.a, l.lbl),
    l{r} AS MATERIALIZED (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, lbl) AS rn
            FROM v{r}) WHERE rn = 1)"""
    return (
        sql
        + f"""
    SELECT lbl::BIGINT AS community, COUNT(*)::BIGINT AS n_members
    FROM l{rounds} GROUP BY lbl ORDER BY community"""
    )


@query("q244_label_propagation", oracle=_lpa_oracle(_LPA_ROUNDS))
def q244_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("x"), li.alias("y")
    e = (
        a.join(b, (F.col("x.ok") == F.col("y.ok")) & (F.col("x.p") < F.col("y.p")))
        .select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))
        .distinct()
    )
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=False)  # reused every round
    labels = (
        sym.select("a").distinct().select(F.col("a").alias("node"))
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(labels, labels["node"] == sym["b"])
            .groupBy(sym["a"].alias("node"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # argmax by (c DESC, lbl ASC) as ONE hash aggregate (round 15):
        # max_by over the (c, -lbl) struct picks the same winner the
        # old row_number window did — (node, lbl) rows are distinct so
        # the key is total — without the window's extra sort. No
        # per-round lineage cut either: at _LPA_ROUNDS=2 the plan
        # stays small, and leaving the lineage visible lets the
        # optimizer REUSE the sym-side join exchange across rounds
        # (a checkpoint's LogicalRDD hides it).
        labels = votes.groupBy("node").agg(
            F.expr("max_by(lbl, named_struct('c', c, 'nl', -lbl))").alias(
                "lbl"
            )
        )
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy("community")
    )


# ---------------------------------------------------------------------------
# q245 — budget-capped greedy selection per source: each source gets
# a character budget (10% of its mass, exact integer division) and
# docs are admitted in (n_chars, doc_id) priority order while the
# inclusive running total stays within budget — the knapsack-greedy a
# curation pipeline runs to fill a per-domain token budget (shortest-
# first maximizes document diversity per char). Distinct from q243
# (fixed-COUNT quota by hash) and q187 (global mixture weights): the
# cutoff here is a per-stratum PREFIX-SUM condition, not a rank.
# All-integer until the final utilization division, so the trajectory
# is bit-exact. Scale: ONE exchange by source + two frames over the
# same within-stratum sort (never a global sort).
# ---------------------------------------------------------------------------


@query(
    "q245_budget_capped_selection",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n_chars) OVER (PARTITION BY source) AS tot
        FROM documents)
    SELECT source,
           (MAX(tot) // 10)::BIGINT AS budget_chars,
           SUM(CASE WHEN cum <= tot // 10 THEN 1 ELSE 0 END)::BIGINT
               AS n_selected,
           SUM(CASE WHEN cum <= tot // 10 THEN n_chars ELSE 0 END)::BIGINT
               AS chars_used,
           ROUND(SUM(CASE WHEN cum <= tot // 10 THEN n_chars
                          ELSE 0 END)::DOUBLE
                 / NULLIF(MAX(tot) // 10, 0), 6) AS utilization
    FROM r GROUP BY source ORDER BY source
    """,
)
def q245_budget_capped_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    by_src = Window.partitionBy("source")
    cum_w = by_src.orderBy("n_chars", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = load_table(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.sum("n_chars").over(cum_w).alias("cum"),
        F.sum("n_chars").over(by_src).alias("tot"),
    )
    sel = F.col("cum") <= F.expr("tot div 10")
    return (
        r.groupBy("source")
        .agg(
            F.expr("max(tot) div 10").cast("long").alias("budget_chars"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias(
                "n_selected"
            ),
            F.sum(F.when(sel, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_used"),
            F.round(
                F.sum(F.when(sel, F.col("n_chars")).otherwise(0)).cast(
                    "double"
                )
                # NULLIF: a source with under 10 total chars has
                # budget 0 — NULL utilization on BOTH engines rather
                # than an ANSI divide-by-zero crash (q229 empty-band
                # pattern)
                / F.expr("nullif(max(tot) div 10, 0)"),
                6,
            ).alias("utilization"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# q246 — top principal component of the embedding covariance via
# power iteration (3 rounds): the "all-but-the-top" whitening /
# dominant-direction diagnostic for embedding corpora. Distributed
# work is exactly two bounded-output passes (operators/pca.py): a
# d-group means rollup and ONE d(d+1)/2-group centered-product rollup
# expanded per-row by nested codegen transforms (no self-join — the
# exchange is bounded by d², not rows). The iteration itself runs on
# the collected d×d sketch, constant-size at any corpus scale, and
# replays in the oracle as unrolled MATERIALIZED matrix-vector CTEs
# under the round-terms-then-exact-decimal-sum discipline. v0 =
# 1/sqrt(64) = 0.125 exactly; sqrt is IEEE correctly rounded on both
# engines.
# ---------------------------------------------------------------------------

_PCA_ITERS = 3


def _pca_oracle(dims: int, iters: int) -> str:
    sql = f"""
    WITH edims AS MATERIALIZED (
        SELECT vec_id AS id, t.i::INT AS dim, embedding[t.i]::DOUBLE AS v
        FROM embeddings, range(1, {dims + 1}) AS t(i)),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM embeddings),
    m AS MATERIALIZED (
        SELECT dim,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
                     / (SELECT n FROM nn), 6) AS mu
        FROM edims GROUP BY dim),
    cov AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               ROUND(CAST(SUM(CAST(ROUND((a.v - ma.mu) * (b.v - mb.mu), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE)
                     / ((SELECT n FROM nn) - 1), 6) AS c
        FROM edims a
        JOIN edims b ON b.id = a.id AND b.dim >= a.dim
        JOIN m ma ON ma.dim = a.dim
        JOIN m mb ON mb.dim = b.dim
        GROUP BY a.dim, b.dim),
    sym AS MATERIALIZED (
        SELECT i, j, c FROM cov
        UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i < j),
    v0 AS MATERIALIZED (SELECT dim, 0.125::DOUBLE AS x FROM m)"""
    for r in range(1, iters + 1):
        sql += f""",
    u{r} AS MATERIALIZED (
        -- c and x are 6-dp decimals, so c*x is EXACTLY a 12-dp
        -- decimal: the 12-dp cast recovers it with no rounding
        -- boundary (a 6-dp ROUND here is the q188 tie trap — v0 =
        -- 0.125 puts 1/8 of the products on exact 5e-7 boundaries)
        SELECT s.i AS dim,
               CAST(SUM(CAST(s.c * p.x AS DECIMAL(38,12)))
                    AS DOUBLE) AS u
        FROM sym s JOIN v{r - 1} p ON p.dim = s.j
        GROUP BY s.i),
    nrm{r} AS (
        SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 6) AS DECIMAL(28,6)))
                         AS DOUBLE)) AS nr
        FROM u{r}),
    v{r} AS MATERIALIZED (
        SELECT dim, ROUND(u / (SELECT nr FROM nrm{r}), 6) AS x
        FROM u{r})"""
    return (
        sql
        + f"""
    SELECT v.dim::INT AS dim, v.x AS loading,
           ROUND((SELECT nr FROM nrm{iters}), 6) AS eigenvalue
    FROM v{iters} v ORDER BY dim"""
    )


@query(
    "q246_pca_top_component",
    oracle=_pca_oracle(_KM_DIMS, _PCA_ITERS),
)
def q246_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    loadings, eig = pca_top_component(
        emb, "embedding", dims=_KM_DIMS, iterations=_PCA_ITERS
    )
    # The result is the bounded d-row sketch itself — d is constant at
    # any corpus scale, so a literal frame is the correct shape (the
    # q236 cut-literal rule, applied to a whole eigenvector).
    return spark.createDataFrame(
        [(i + 1, loadings[i], eig) for i in range(_KM_DIMS)],
        "dim int, loading double, eigenvalue double",
    )

# ---------------------------------------------------------------------------
# q247 — centroid silhouette of the k-means clustering: per point,
# s = (b2 − a2) / max(a2, b2) where a2/b2 are the exact-decimal
# squared distances to the nearest and second-nearest FINAL centroid
# (the O(n·k) centroid form of the silhouette — the O(n²) pairwise
# form is not a 100-TB operation). Averaged per cluster, it is the
# cluster-quality screen that decides whether q242's k was sane.
# Scale: ONE codegen pass (sorted (d2, cid) struct array per row, no
# shuffle) + one k-group rollup; the oracle re-ranks the shared
# unrolled Lloyd's replay with rn ≤ 2. Degenerate contracts pinned on
# both engines: a collapsed single-centroid run and a point at two
# identical centroids both score 0.
# ---------------------------------------------------------------------------


@query(
    "q247_centroid_silhouette",
    oracle=_kmeans_prefix(_KM_K, _KM_ITERS, _KM_DIMS)
    + """,
    r2 AS (
        SELECT id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY d2, cid) AS rn
        FROM dfin),
    ab AS (
        SELECT o.id, o.cid, o.d2 AS a2, s.d2 AS b2
        FROM r2 o LEFT JOIN r2 s ON s.id = o.id AND s.rn = 2
        WHERE o.rn = 1),
    per AS (
        SELECT id, cid,
               CASE WHEN b2 IS NULL OR greatest(a2, b2) = 0 THEN 0.0
                    ELSE ROUND(CAST(b2 - a2 AS DOUBLE)
                               / CAST(greatest(a2, b2) AS DOUBLE), 6)
               END AS s
        FROM ab)
    SELECT cid::INT AS cluster_id, COUNT(*)::BIGINT AS n_members,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_silhouette
    FROM per GROUP BY cid ORDER BY cluster_id
    """,
)
def q247_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd, nearest_two_expr

    emb = load_table(spark, sf_dir, "embeddings")
    _, centroids = kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iterations=_KM_ITERS
    )
    srt = F.expr(nearest_two_expr("embedding", centroids))
    # spread: the silhouette pass re-scans the one-split parquet with
    # the O(k·d) sorted-distance expression — single-core without it
    two = spread(emb).select(
        F.element_at(srt, 1).alias("nearest"),
        F.get(srt, 1).alias("second"),  # 0-based get -> NULL if k = 1
    ).select(
        F.col("nearest.cid").alias("cluster_id"),
        F.col("nearest.d2").alias("a2"),
        F.col("second.d2").alias("b2"),
    )
    s = F.when(
        F.col("b2").isNull()
        | (F.greatest(F.col("a2"), F.col("b2")) == 0),
        F.lit(0.0),
    ).otherwise(
        F.round(
            (F.col("b2") - F.col("a2")).cast("double")
            / F.greatest(F.col("a2"), F.col("b2")).cast("double"),
            6,
        )
    )
    return (
        two.select("cluster_id", s.alias("s"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("s").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_silhouette"),
        )
        .orderBy("cluster_id")
    )

# ---------------------------------------------------------------------------
# q248 — k-center greedy coreset (Gonzalez farthest-point traversal):
# pick the embedding farthest from every already-chosen center, k
# times — the diversity-sampling primitive behind coreset selection
# and "maximally different exemplars" curation, the coverage-seeking
# complement of q242's density-seeking k-means. The selection order
# doubles as a coverage-radius curve (radius2 = how badly covered the
# corpus was before each pick). Scale (operators/clustering.py):
# every round is ONE codegen-only scan (min over r literal seed
# distances, no join/shuffle) + a top-1 reduction; plans are
# stateless so nothing accumulates across rounds. The oracle unrolls
# the traversal with MATERIALIZED running-min CTEs — exact decimals
# make incremental LEAST equal to Spark's min-over-all-literals. Each
# round joins every row's dims against the chosen center's dims only
# (filtered before the join), so a round is n·d rows, not n²·d.
# ---------------------------------------------------------------------------

_KC_K = 6


def _kcenter_oracle(k: int, dims: int) -> str:
    sql = f"""
    WITH edims AS MATERIALIZED (
        SELECT vec_id AS id, t.i::INT AS dim, embedding[t.i]::DOUBLE AS v
        FROM embeddings, range(1, {dims + 1}) AS t(i)),
    s1 AS MATERIALIZED (SELECT MIN(vec_id)::BIGINT AS id FROM embeddings),
    m1 AS MATERIALIZED (
        SELECT a.id,
               SUM(CAST(ROUND((a.v - b.v) * (a.v - b.v), 6)
                        AS DECIMAL(28,6))) AS md2
        FROM edims a JOIN (
            SELECT dim, v FROM edims WHERE id = (SELECT id FROM s1)) b
          ON b.dim = a.dim
        GROUP BY a.id)"""
    chosen = ["s1"]
    for r in range(2, k + 1):
        excl = " UNION ALL ".join(f"SELECT id FROM {s}" for s in chosen)
        sql += f""",
    s{r} AS MATERIALIZED (
        SELECT id, md2 FROM m{r - 1}
        WHERE id NOT IN ({excl})
        ORDER BY md2 DESC, id LIMIT 1)"""
        if r < k:
            sql += f""",
    m{r} AS MATERIALIZED (
        SELECT m.id, LEAST(m.md2, d.d2) AS md2
        FROM m{r - 1} m JOIN (
            SELECT a.id,
                   SUM(CAST(ROUND((a.v - b.v) * (a.v - b.v), 6)
                            AS DECIMAL(28,6))) AS d2
            FROM edims a JOIN (
                SELECT dim, v FROM edims WHERE id = (SELECT id FROM s{r})) b
              ON b.dim = a.dim
            GROUP BY a.id) d ON d.id = m.id)"""
        chosen.append(f"s{r}")
    parts = [
        """
    SELECT 1::BIGINT AS sel_rank, (SELECT id FROM s1) AS vec_id,
           NULL::DOUBLE AS radius2"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f"""
    SELECT {r}::BIGINT AS sel_rank, id AS vec_id,
           ROUND(md2::DOUBLE, 6) AS radius2
    FROM s{r}"""
        )
    return sql + "\n    " + " UNION ALL ".join(parts) + "\n    ORDER BY sel_rank"


@query(
    "q248_kcenter_coreset",
    oracle=_kcenter_oracle(_KC_K, _KM_DIMS),
)
def q248_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    sel = kcenter_greedy(emb, "vec_id", "embedding", k=_KC_K)
    # bounded k-row result — a literal frame is the correct shape
    return spark.createDataFrame(
        [
            (
                rank,
                vid,
                None if r2 is None else half_up(float(r2), 6),
            )
            for rank, vid, r2 in sel
        ],
        "sel_rank bigint, vec_id bigint, radius2 double",
    )

# ---------------------------------------------------------------------------
# q249 — exact similarity join via prefix filtering: all document
# pairs with shingle Jaccard ≥ 2/5 over the FULL shingle universe.
# The zero-recall-loss complement of q51 (whose stop-shingle df-cap
# redefines Jaccard over a pruned universe): the rarest-first global
# shingle order means any qualifying pair provably shares its rarest
# common shingle inside both documents' prefixes, so the candidate
# join buckets only on rare shingles and boilerplate never enters an
# index (operators/dedup.py prefix_filter_jaccard_pairs). Threshold
# arithmetic is all-integer (n_common·5 ≥ 2·union) — no float
# boundary. The oracle is the brute-force self-join, so every sweep
# proves the zero-recall-loss guarantee on real data.
# ---------------------------------------------------------------------------


@query(
    "q249_prefix_filter_jaccard",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  -- clamped slice + array_to_string, NOT toks[i+1] ||
                  -- ' ' || toks[i+2] || ... : a document with fewer
                  -- than 3 tokens must yield its PARTIAL shingle
                  -- (Spark's concat_ws-over-slice semantics), not a
                  -- NULL from an out-of-range index
                  array_to_string(toks[i+1:i+3], ' ') AS s
           FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*)::BIGINT AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common,
           (n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common))
               AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 5 >= 2 * (sa.n_sh + sb.n_sh - n_common)
    ORDER BY doc_a, doc_b
    """,
)
def q249_prefix_filter_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import prefix_filter_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        d, id_col="doc_id", n=3, threshold=(2, 5)
    ).orderBy("doc_a", "doc_b")

# ---------------------------------------------------------------------------
# q250 — product-quantization ANN (round 10): compress each embedding
# into m=8 integer codes via jointly-trained per-subspace Lloyd
# codebooks, score queries in the compressed domain through a
# broadcast ADC lookup table (m element_at lookups per corpus row
# instead of a d-term dot product), then exactly re-rank the top
# candidates. rows-only (approximate by design, like q56/q90); recall
# floors vs the exact q55 oracle are pinned at sf0.1 in
# tests/test_ann_recall_sf01.py (0.641 at this registered dial, 0.946
# at ksub=32/rerank=400), and reload≡rebuild of the persisted
# codebook+codes index in tests/test_similarity.py. See operators/
# pq.py for the 100-TB stage-by-stage design.
# ---------------------------------------------------------------------------


@query("q250_pq_ann_topk")
def q250_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return pq_ann_topk(
        queries_df, emb, k=10, ksub=16, iterations=1, rerank=150
    ).orderBy("query_id", "rank")

# ---------------------------------------------------------------------------
# q251 — PQ training replay: per-(subspace, code) member counts and
# exact-decimal quantization error after one joint-Lloyd round
# (operators/pq.py pq_train + pq_reconstruction_stats). This is the
# oracle-bearing proof for the PQ family: the DuckDB twin replays the
# ENTIRE trajectory — shared spread seeds, per-subspace assignment
# with (d2, cid) tie order, ROUND(sum/n, 6) codeword updates, final
# census — under the q242 decimal discipline, so a green hash means
# the joint trainer is numerically identical to m independent Lloyd
# runs. (q250 stays rows-only: ANN output is approximate by design;
# training correctness is what's provable.)
# ---------------------------------------------------------------------------

_PQ_M = 8
_PQ_KSUB = 8
_PQ_ITERS = 1


def _pq_train_oracle(m: int, ksub: int, iters: int, dims: int) -> str:
    dsub = dims // m
    sql = f"""
    WITH sdims AS MATERIALIZED (
        SELECT vec_id AS id,
               ((t.i - 1) // {dsub})::INT + 1 AS sub,
               ((t.i - 1) % {dsub})::INT + 1 AS sdim,
               embedding[t.i]::DOUBLE AS v
        FROM embeddings, range(1, {dims + 1}) AS t(i)),
    seeds AS MATERIALIZED (
        SELECT vec_id AS id,
               ROW_NUMBER() OVER (
                   ORDER BY ((vec_id % {_KM_HASH_MOD})
                             * {_KM_HASH_MULT}) % {_KM_HASH_MOD},
                            vec_id)::INT AS cid
        FROM embeddings
        QUALIFY cid <= {ksub}),
    c0 AS MATERIALIZED (
        SELECT s.cid, d.sub, d.sdim, d.v
        FROM seeds s JOIN sdims d ON d.id = s.id)"""
    prev = "c0"
    for r in range(iters):
        sql += f""",
    d{r} AS MATERIALIZED (
        SELECT e.id, e.sub, c.cid,
               SUM(CAST(ROUND((e.v - c.v) * (e.v - c.v), 6)
                        AS DECIMAL(28,6))) AS d2
        FROM sdims e JOIN {prev} c ON c.sub = e.sub AND c.sdim = e.sdim
        GROUP BY e.id, e.sub, c.cid),
    a{r} AS MATERIALIZED (
        SELECT id, sub, cid FROM (
            SELECT id, sub, cid,
                   ROW_NUMBER() OVER (PARTITION BY id, sub
                                      ORDER BY d2, cid) AS rn
            FROM d{r}) WHERE rn = 1),
    c{r + 1} AS MATERIALIZED (
        SELECT a.cid, e.sub, e.sdim,
               ROUND(CAST(SUM(CAST(e.v AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 6) AS v
        FROM a{r} a JOIN sdims e ON e.id = a.id AND e.sub = a.sub
        GROUP BY a.cid, e.sub, e.sdim)"""
        prev = f"c{r + 1}"
    return (
        sql
        + f""",
    dfin AS MATERIALIZED (
        SELECT e.id, e.sub, c.cid,
               SUM(CAST(ROUND((e.v - c.v) * (e.v - c.v), 6)
                        AS DECIMAL(28,6))) AS d2
        FROM sdims e JOIN {prev} c ON c.sub = e.sub AND c.sdim = e.sdim
        GROUP BY e.id, e.sub, c.cid),
    afin AS MATERIALIZED (
        SELECT id, sub, cid, d2 FROM (
            SELECT id, sub, cid, d2,
                   ROW_NUMBER() OVER (PARTITION BY id, sub
                                      ORDER BY d2, cid) AS rn
            FROM dfin) WHERE rn = 1)
    SELECT sub::INT AS sub, cid::INT AS code,
           COUNT(*)::BIGINT AS n_vectors,
           ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS sum_d2
    FROM afin GROUP BY sub, cid ORDER BY sub, code"""
    )


@query(
    "q251_pq_train_census",
    oracle=_pq_train_oracle(_PQ_M, _PQ_KSUB, _PQ_ITERS, _KM_DIMS),
)
def q251_pq_train_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_train_with_stats

    emb = load_table(spark, sf_dir, "embeddings")
    # shared-base path: train + census validate/checkpoint the
    # projection ONCE (round 11 — composing pq_train +
    # pq_reconstruction_stats paid checked_base twice)
    _, census = pq_train_with_stats(
        emb, dims=_KM_DIMS, m=_PQ_M, ksub=_PQ_KSUB, iterations=_PQ_ITERS
    )
    return census

# ---------------------------------------------------------------------------
# q252 — hybrid retrieval with reciprocal-rank fusion (RRF, the
# standard rank-fusion rule in RAG stacks): for each query document,
# a LEXICAL ranking (distinct-token Jaccard against every candidate)
# and a SEMANTIC ranking (embedding cosine) are fused as
# Σ 1/(60 + rank) and the top 10 fused candidates returned. The
# candidate universe is documents⋈embeddings on doc_id = vec_id (the
# corpus slice that has both representations). Determinism: both
# arms rank by an IEEE-identical double ordering key with doc_id
# tiebreak (total order); each reciprocal term is rounded at 6 dp
# before the one exact two-term sum, so the fused score replays
# bit-identically. Scale: both arms are a broadcast of |Q| query rows
# against one corpus scan + two |Q|-partition window ranks — no
# corpus self-join, no corpus shuffle beyond the rank windows.
# ---------------------------------------------------------------------------


@query(
    "q252_rrf_hybrid_retrieval",
    oracle=r"""
    WITH base AS MATERIALIZED (
        SELECT d.doc_id,
               -- string_split_regex, not string_split(' '): Spark
               -- tokenizes on \s+, and consecutive whitespace must
               -- not fabricate empty tokens in the oracle
               list_distinct(string_split_regex(lower(trim(d.text)), '\s+')) AS toks,
               e.embedding AS emb
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    q AS (SELECT * FROM base WHERE doc_id < 5),
    pairs AS MATERIALIZED (
        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
               len(list_intersect(q.toks, c.toks))::BIGINT AS n_int,
               (len(q.toks) + len(c.toks)
                - len(list_intersect(q.toks, c.toks)))::BIGINT AS n_uni,
               list_dot_product(q.emb, c.emb)
                 / (sqrt(list_dot_product(q.emb, q.emb))
                    * sqrt(list_dot_product(c.emb, c.emb))) AS cosine
        FROM q JOIN base c ON c.doc_id <> q.doc_id),
    ranked AS (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_int::DOUBLE / n_uni DESC,
                                           cand_id) AS lex_rank,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, cand_id) AS sem_rank
        FROM pairs),
    fused AS (
        SELECT query_id, cand_id, lex_rank, sem_rank,
               ROUND(1.0 / (60 + lex_rank), 6)
                 + ROUND(1.0 / (60 + sem_rank), 6) AS rrf
        FROM ranked)
    SELECT query_id, cand_id AS doc_id,
           lex_rank::BIGINT AS lex_rank, sem_rank::BIGINT AS sem_rank,
           ROUND(rrf, 6) AS rrf_score,
           rank::BIGINT AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, cand_id) AS rank
          FROM fused)
    WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def q252_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import dot, with_norm

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("toks"),
    )
    e = with_norm(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"),
        F.col("__vec").alias("emb"),
        F.col("__norm").alias("nrm"),
    )
    base = d.join(e, "doc_id")
    q = base.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("toks").alias("q_toks"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    n_int = F.size(F.array_intersect("q_toks", "toks")).cast("long")
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("cand_id"),
            n_int.alias("n_int"),
            (
                F.size("q_toks").cast("long")
                + F.size("toks").cast("long")
                - n_int
            ).alias("n_uni"),
            (
                dot(F.col("q_emb"), F.col("emb"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    by_q = Window.partitionBy("query_id")
    ranked = pairs.select(
        "query_id",
        "cand_id",
        F.row_number()
        .over(
            by_q.orderBy(
                (F.col("n_int").cast("double") / F.col("n_uni")).desc(),
                F.col("cand_id"),
            )
        )
        .alias("lex_rank"),
        F.row_number()
        .over(by_q.orderBy(F.col("cosine").desc(), F.col("cand_id")))
        .alias("sem_rank"),
    )
    rrf = F.round(1.0 / (60 + F.col("lex_rank")), 6) + F.round(
        1.0 / (60 + F.col("sem_rank")), 6
    )
    fused = ranked.withColumn("rrf", rrf)
    return (
        fused.withColumn(
            "rank",
            F.row_number().over(
                by_q.orderBy(F.col("rrf").desc(), F.col("cand_id"))
            ),
        )
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
            F.round("rrf", 6).alias("rrf_score"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )

# ---------------------------------------------------------------------------
# q253 — greedy maximum-coverage selection (budgeted set cover over
# 3-gram shingles): 5 rounds of "pick the document adding the most
# uncovered shingles" — the (1 − 1/e)-approximate submodular greedy
# that seeds eval sets and diversity-first subsets. Scale shape in
# operators/coverage.py: one checkpointed inverted frame, covered set
# bounded by R·shingles-per-doc riding as an array literal (no join,
# flat plans), per round one doc-group rollup + top-1 reduction. The
# oracle replays all 5 rounds as unrolled MATERIALIZED CTEs —
# integer gains, (gain DESC, doc_id) argmax — so sweeps prove the
# full trajectory.
# ---------------------------------------------------------------------------

_SC_ROUNDS = 5


def _set_cover_oracle(rounds: int) -> str:
    sql = r"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+3], ' ') AS s
        FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i))"""
    picked_sets: list[str] = []
    for r in range(1, rounds + 1):
        not_picked = (
            " AND doc_id NOT IN ("
            + " UNION ALL ".join(
                f"SELECT doc_id FROM s{p}" for p in range(1, r)
            )
            + ")"
            if r > 1
            else ""
        )
        not_covered = (
            f" AND s NOT IN (SELECT s FROM c{r - 1})" if r > 1 else ""
        )
        sql += f""",
    s{r} AS MATERIALIZED (
        SELECT doc_id, COUNT(*)::BIGINT AS gain
        FROM sh WHERE 1=1{not_picked}{not_covered}
        GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
    c{r} AS MATERIALIZED (
        SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM s{r})"""
        if r > 1:
            sql += f"""
        UNION SELECT s FROM c{r - 1}"""
        sql += ")"
        picked_sets.append(
            f"""
    SELECT {r}::BIGINT AS sel_rank, doc_id, gain,
           (SELECT COUNT(*) FROM c{r})::BIGINT AS cum_covered
    FROM s{r}"""
        )
    return sql + "\n    " + " UNION ALL ".join(picked_sets) + "\n    ORDER BY sel_rank"


@query("q253_greedy_set_cover", oracle=_set_cover_oracle(_SC_ROUNDS))
def q253_greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.coverage import greedy_set_cover

    d = load_table(spark, sf_dir, "documents")
    sel = greedy_set_cover(d, rounds=_SC_ROUNDS)
    # bounded R-row trajectory — a literal frame is the correct shape
    # (the q248 k-center precedent)
    return spark.createDataFrame(
        sel, "sel_rank bigint, doc_id bigint, gain bigint, cum_covered bigint"
    )

# ---------------------------------------------------------------------------
# q254 — IVF-PQ composed ANN (operators/pq.py ivfpq_topk, the
# residual-encoded IVFADC form): coarse inverted-file cells restrict
# WHICH rows are scored (nprobe/n_cells of the corpus), PQ codes
# trained on residuals (vector minus its cell centroid) make scoring
# them cheap (m lookups + a fold per row, in the compressed domain),
# and a bounded exact re-rank restores precision — the production ANN
# architecture. rows-only (approximate by design); the sf0.1 floor
# pinned in tests/test_ann_recall_sf01.py shows residual encoding at
# this dial reaches the probed-cell ceiling EXACTLY — recall equals
# plain IVF at the same nprobe (0.8173) — while never touching a raw
# vector outside the re-rank (round 11; raw-vector codebooks measured
# 0.7793 at an equal-cost dial in round 10).
# ---------------------------------------------------------------------------


@query("q254_ivfpq_ann_topk")
def q254_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivfpq_topk(
        queries_df, emb, k=10,
        nprobe=16, m=16, ksub=32, iterations=1, rerank=400,
    ).orderBy("query_id", "rank")

# ---------------------------------------------------------------------------
# q255 — cross-source contamination matrix: for every source pair,
# the distinct-3-gram-shingle overlap (count, Jaccard, and
# containment in the smaller side) — the corpus-level leakage audit a
# curation pipeline runs between training subsets and eval sources
# (the aggregate companion to q143's doc-level decontamination).
# Scale shape: ONE (source, shingle) distinct rollup (bounded by
# #sources × shingle universe), then a self-join on shingle whose
# cost is Σ_s (sources-per-shingle)² ≤ #sources² per shingle — never
# a doc×doc or row-scale pair frame. All-integer until two final
# divisions.
# ---------------------------------------------------------------------------


@query(
    "q255_source_overlap_matrix",
    oracle=r"""
    WITH t AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS toks
               FROM documents),
    ss AS MATERIALIZED (
        SELECT DISTINCT source, array_to_string(toks[i+1:i+3], ' ') AS s
        FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sz AS (SELECT source, COUNT(*)::BIGINT AS n FROM ss GROUP BY source),
    ov AS (SELECT a.source AS src_a, b.source AS src_b,
                  COUNT(*)::BIGINT AS n_common
           FROM ss a JOIN ss b ON b.s = a.s AND a.source < b.source
           GROUP BY 1, 2)
    SELECT src_a, src_b, n_common,
           za.n AS n_a, zb.n AS n_b,
           (n_common::DOUBLE / (za.n + zb.n - n_common))
             AS jaccard,
           (n_common::DOUBLE / least(za.n, zb.n))
             AS containment
    FROM ov JOIN sz za ON za.source = src_a
            JOIN sz zb ON zb.source = src_b
    ORDER BY src_a, src_b
    """,
)
def q255_source_overlap_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    ss = (
        shingles(spread(d), 3, "text")
        .select("source", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)  # reused by sizes + both join sides
    )
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ss.select(F.col("source").alias("src_a"), "s")
    b = ss.select(F.col("source").alias("src_b"), "s")
    ov = (
        a.join(b, "s")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        ov.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            # raw: each is ONE IEEE division of exact int64 counts
            # (the determinism.py safe class, de-ROUNDed round 14)
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b")
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )

# ---------------------------------------------------------------------------
# q256 — weighted sampling without replacement (Efraimidis–Spirakis
# A-ES, public literature): the top-20 documents by the key
# ln(u)/w with w = n_chars and u a deterministic id-hash uniform —
# the standard one-pass distributed weighted sampler (inclusion
# probability rises with weight; a plain top-k by key needs no
# per-group state). Distinct from q243 (unweighted stratified quota)
# and q150 (unweighted per-group reservoir). Determinism: u is the
# reduced Knuth hash mapped to (0,1]; ln(u) is ROUNDed at 6 dp (the
# sanctioned cross-engine ln discipline, q237), then divided by the
# integer weight — both engines perform the identical IEEE division
# of identical doubles, so the raw key doubles are bit-equal and the
# (key DESC, doc_id) ranking replays exactly. Scale: one scan + a
# top-k reduction (TakeOrdered, never a global sort).
# ---------------------------------------------------------------------------


@query(
    "q256_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ROUND(ln((((doc_id % {_KM_HASH_MOD}) * {_KM_HASH_MULT})
                         % {_KM_HASH_MOD} + 1)::DOUBLE
                        / {_KM_HASH_MOD + 1}::DOUBLE), 6)
                 / n_chars AS aes_key
        FROM documents WHERE n_chars > 0)
    SELECT sel_rank, doc_id, source, n_chars, aes_key
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY aes_key DESC, doc_id)
                    AS sel_rank
          FROM keyed)
    WHERE sel_rank <= 20
    ORDER BY sel_rank
    """,
)
def q256_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = (
        (F.col("doc_id") % F.lit(_KM_HASH_MOD)) * F.lit(_KM_HASH_MULT)
    ) % F.lit(_KM_HASH_MOD)
    u = (h + 1).cast("double") / F.lit(float(_KM_HASH_MOD + 1))
    key = F.round(F.log(u), 6) / F.col("n_chars")
    w = Window.orderBy(F.col("aes_key").desc(), F.col("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars", key.alias("aes_key"))
        .withColumn("sel_rank", F.row_number().over(w))
        .filter(F.col("sel_rank") <= 20)
        .select("sel_rank", "doc_id", "source", "n_chars", "aes_key")
        .orderBy("sel_rank")
    )

# ---------------------------------------------------------------------------
# q257 — dedup-aware split leakage audit: assign every document to a
# deterministic train/eval split (reduced id-hash, 80/20), find all
# EXACT near-duplicate pairs at Jaccard ≥ 1/2 via the lossless
# prefix-filter join (q249's operator — zero recall loss, so the
# leakage count is exact, not an LSH estimate), and report how many
# pairs land within-train / within-eval / ACROSS the split — the
# cross-split count is precisely the train→eval contamination a naive
# random split leaks and dedup-aware splitting must drive to zero.
# Scale: the pair frame is the prefix-filter join's output (bounded
# by true near-dup density), labels attach via two hash expressions —
# no extra corpus scan beyond the operator's own.
# ---------------------------------------------------------------------------


def _split_sql(col: str) -> str:
    return (
        f"CASE WHEN ((({col} % {_KM_HASH_MOD}) * {_KM_HASH_MULT})"
        f" % {_KM_HASH_MOD}) % 10 < 8 THEN 'train' ELSE 'eval' END"
    )


@query(
    "q257_split_leakage",
    oracle=rf"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(lower(trim(text)), '\s+') AS toks
               FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+3], ' ') AS s
           FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*)::BIGINT AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b,
               ROUND(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6)
                 AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 2 >= 1 * (sa.n_sh + sb.n_sh - n_common)),
    labeled AS (
        SELECT CASE
                 WHEN ({_split_sql('doc_a')}) = ({_split_sql('doc_b')})
                   THEN 'within_' || ({_split_sql('doc_a')})
                 ELSE 'cross_split'
               END AS pair_class,
               jaccard
        FROM pairs)
    SELECT pair_class, COUNT(*)::BIGINT AS n_pairs,
           ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_jaccard
    FROM labeled GROUP BY pair_class ORDER BY pair_class
    """,
)
def q257_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.determinism import DEC
    from ..operators.dedup import prefix_filter_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(
        d, id_col="doc_id", n=3, threshold=(1, 2)
    )
    sa = F.expr(_split_sql("doc_a"))
    sb = F.expr(_split_sql("doc_b"))
    return (
        pairs.select(
            F.when(sa == sb, F.concat(F.lit("within_"), sa))
            .otherwise(F.lit("cross_split"))
            .alias("pair_class"),
            # the decimal-sum average needs exact-6dp addends, so the
            # per-pair jaccard (raw since round 14) is re-quantized
            # here, mirroring the oracle's ROUND in its pairs CTE
            F.round(F.col("jaccard"), 6).alias("jaccard"),
        )
        .groupBy("pair_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
        )
        .orderBy("pair_class")
    )

# ---------------------------------------------------------------------------
# q258 — effective corpus size after exact dedup: per source, how
# much of the raw document/token mass survives one-row-per-distinct-
# text dedup (min-doc_id winner, q50 semantics — a cross-source
# duplicate is credited to its winner's source). THE pipeline sizing
# question: raw token counts overstate usable training mass by the
# duplicate ratio. All-integer sums, one final division. Scale: one
# text-key exchange (the dedup window) + one source rollup.
# ---------------------------------------------------------------------------


@query(
    "q258_effective_corpus_size",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT
                 AS n_toks,
               row_number() OVER (PARTITION BY text ORDER BY doc_id)
                 AS rn
        FROM documents)
    SELECT source,
           COUNT(*)::BIGINT AS raw_docs,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
           SUM(n_toks)::BIGINT AS raw_tokens,
           SUM(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)::BIGINT
             AS kept_tokens,
           ROUND(1.0 - SUM(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)::DOUBLE
                       / SUM(n_toks), 6) AS dup_token_ratio
    FROM t GROUP BY source ORDER BY source
    """,
)
def q258_effective_corpus_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("long")
        .alias("n_toks"),
        F.row_number()
        .over(Window.partitionBy("text").orderBy("doc_id"))
        .alias("rn"),
    )
    kept = F.when(F.col("rn") == 1, F.col("n_toks")).otherwise(0)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("raw_docs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("kept_docs"),
            F.sum("n_toks").cast("long").alias("raw_tokens"),
            F.sum(kept).cast("long").alias("kept_tokens"),
            F.round(
                1.0 - F.sum(kept).cast("double") / F.sum("n_toks"), 6
            ).alias("dup_token_ratio"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# q260 — token dispersion across sources (Gries' DP, public corpus-
# linguistics measure): for each token, DP = ½ Σ_i |p_i − s_i| where
# p_i is the token's count share in source i and s_i source i's share
# of total token mass. DP ≈ 0 = the token is spread exactly like the
# corpus (function words); DP → 1 = concentrated in few sources
# (domain markers) — the screen that finds source-specific
# vocabulary before it leaks into a "general" training mix. The
# (token × source) grid is DENSIFIED (chi² q230 lesson: absent cells
# contribute |0 − s_i| = s_i, so dropping them understates DP).
# Each |p−s| term is 6-dp rounded then decimal-summed (order-free).
# Scale: one (token, source) rollup; the grid is vocab × sources —
# bounded by vocabulary, not corpus.
# ---------------------------------------------------------------------------


@query(
    "q260_token_dispersion",
    oracle=r"""
    WITH tok AS (
        SELECT source, u.tok
        FROM (SELECT source,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents), unnest(toks) AS u(tok)),
    cnt AS (SELECT tok, source, COUNT(*)::BIGINT AS c
            FROM tok GROUP BY 1, 2),
    tot AS (SELECT tok, SUM(c)::BIGINT AS f FROM cnt GROUP BY tok),
    mass AS (SELECT source, SUM(c)::BIGINT AS m FROM cnt GROUP BY source),
    grand AS (SELECT SUM(m)::BIGINT AS g FROM mass),
    grid AS (
        SELECT t.tok, t.f, s.source, s.m,
               COALESCE(c.c, 0)::BIGINT AS c
        FROM tot t CROSS JOIN mass s
        LEFT JOIN cnt c ON c.tok = t.tok AND c.source = s.source)
    SELECT tok, MAX(f)::BIGINT AS total_count,
           SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END)::BIGINT AS n_sources,
           ROUND(0.5 * CAST(SUM(CAST(ROUND(
                 abs(c::DOUBLE / f - m::DOUBLE / (SELECT g FROM grand)),
                 6) AS DECIMAL(28,6))) AS DOUBLE), 6) AS dp
    FROM grid GROUP BY tok ORDER BY tok
    """,
)
def q260_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the documents parquet arrives as ONE split, and the
    # tokenize+explode map side must use every core. explode_outer +
    # isNotNull, not explode — the shingle_index lesson (an inferred
    # size()>0 filter would inline the split() twice). The split of a
    # trimmed non-NULL string is never NULL, so outer is value-equal.
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(
            "source",
            F.explode_outer(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    cnt = d.groupBy("tok", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cnt = cnt.localCheckpoint(eager=False)  # reused: tot, mass, grid
    tot = cnt.groupBy("tok").agg(F.sum("c").cast("long").alias("f"))
    mass = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("m"))
    g = mass.agg(F.sum("m")).first()[0]
    grid = (
        tot.crossJoin(F.broadcast(mass))
        .join(cnt, ["tok", "source"], "left")
        .select(
            "tok",
            "f",
            "m",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    term = F.round(
        F.abs(
            F.col("c").cast("double") / F.col("f")
            - F.col("m").cast("double") / F.lit(float(g))
        ),
        6,
    ).cast(DEC)
    return (
        grid.groupBy("tok")
        .agg(
            F.max("f").cast("long").alias("total_count"),
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_sources"),
            F.round(0.5 * F.sum(term).cast("double"), 6).alias("dp"),
        )
        .orderBy("tok")
    )

# ---------------------------------------------------------------------------
# q261 — densest-subgraph greedy peel (Charikar's 2-approximation in
# parallel batch form) over the uncapped co-purchase graph: per round
# record (nodes, edges, density, avg degree), then drop every vertex
# at or below the CURRENT average degree — density climbs toward the
# densest core, which a fixed-k k-core (q189) cannot find because
# the right k is data-dependent. Fixed-round contract, adaptive
# threshold (2.0·E)/N is the identical IEEE double on both engines;
# a round that peels everyone truncates identically. Scale shape in
# operators/graph.py densest_subgraph_peel.
# ---------------------------------------------------------------------------

_DSG_ROUNDS = 4


def _densest_oracle(rounds: int) -> str:
    sql = """
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS a, b.p AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p)"""
    prev = "e0"
    rows = []
    for r in range(1, rounds + 1):
        sql += f""",
    s{r} AS MATERIALIZED (SELECT a, b FROM {prev}
                          UNION ALL SELECT b, a FROM {prev}),
    d{r} AS MATERIALIZED (SELECT a, COUNT(*)::BIGINT AS d
                          FROM s{r} GROUP BY a),
    st{r} AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n,
                                  COALESCE(SUM(d), 0)::BIGINT AS twoe
                           FROM d{r}),
    n{r} AS MATERIALIZED (
        SELECT a AS node FROM d{r}
        WHERE d > (2.0 * ((SELECT twoe FROM st{r}) // 2))
                  / (SELECT n FROM st{r})),
    e{r} AS MATERIALIZED (SELECT t.a, t.b FROM {prev} t
        WHERE t.a IN (SELECT node FROM n{r})
          AND t.b IN (SELECT node FROM n{r}))"""
        prev = f"e{r}"
        rows.append(f"""
    SELECT {r}::BIGINT AS round, n AS n_nodes,
           (twoe // 2)::BIGINT AS n_edges,
           ROUND((twoe // 2)::DOUBLE / n, 6) AS density,
           ROUND((2.0 * (twoe // 2)) / n, 6) AS avg_degree
    FROM st{r} WHERE n > 0""")
    return sql + "\n    " + " UNION ALL ".join(rows) + "\n    ORDER BY round"


@query("q261_densest_subgraph", oracle=_densest_oracle(_DSG_ROUNDS))
def q261_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import densest_subgraph_peel

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    a = li.select(F.col("ok"), F.col("p").alias("u"))
    b = li.select(F.col("ok"), F.col("p").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    traj = densest_subgraph_peel(edges, rounds=_DSG_ROUNDS)
    return spark.createDataFrame(
        traj,
        "round bigint, n_nodes bigint, n_edges bigint, "
        "density double, avg_degree double",
    )

# ---------------------------------------------------------------------------
# q262 — multimodal perceptual-hash near-dup join (round 11:
# operators/multimodal.py phash64 + phash_near_dup_pairs): a 64-bit
# DCT pHash per binary blob (Arrow-batched mapInPandas over the
# content column, the q65 decode plumbing; codec stubbed, hash math
# real), then Hamming-banded candidate buckets (the q53 simhash band
# pattern — pigeonhole-LOSSLESS at max_hamming < bands) + exact
# popcount verification. The corpus is the synthetic blob table PLUS
# a planted 2-char-edit variant of every 7th document (the q141
# augmentation discipline: the synthetic corpus needs known
# near-dups), so the detector must surface the planted edits and the
# corpus's natural exact-dup blobs (hamming 0). rows-only: the DCT
# matmul has no faithful SQL replay; determinism, banded-vs-brute
# zero recall loss, and partitioning invariance are pinned in
# tests/test_multimodal.py instead (the q65/q56 pattern).
# ---------------------------------------------------------------------------


def _planted_blob_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import synthetic_blob_table

    d = load_table(spark, sf_dir, "documents")
    base = synthetic_blob_table(d)
    edited = synthetic_blob_table(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 10),
                F.lit("qq"),
                F.expr("substring(text, 13)"),
            ).alias("text"),
        )
    )
    return base.unionByName(edited)


@query("q262_phash_near_dup")
def q262_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import phash_near_dup_pairs

    blobs = _planted_blob_corpus(spark, sf_dir)
    return (
        phash_near_dup_pairs(blobs, max_hamming=3)
        .orderBy("id_a", "id_b")
    )

# ---------------------------------------------------------------------------
# q263 — MMR diverse re-ranking (round 11: operators/similarity.py
# mmr_diverse_topk): exact top-20 candidates per query, then 8 greedy
# maximal-marginal-relevance rounds (7·relevance − 3·max-sim-to-
# selected, ties to the lower id) — the standard diversity re-ranker
# next to q252's RRF fusion. The grouped-map stage is the q69 packing
# precedent (sequential WITHIN a query, parallel ACROSS queries; all
# state executor-local); scores are exact integers over 6-dp decimals
# so the DuckDB oracle replays the FULL selection trajectory as
# unrolled MATERIALIZED rounds (the q253 set-cover pattern) — the
# greedy argmax is oracle-proven, not rows-only.
# ---------------------------------------------------------------------------

_MMR_K = 8
_MMR_N = 20
_MMR_WREL = 7
_MMR_WDIV = 3


def _mmr_oracle(k: int, n: int, w_rel: int, w_div: int) -> str:
    head = f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    nv AS MATERIALIZED (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    rel AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6)
                 AS rel
        FROM nv q JOIN nv c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 5),
    cand AS MATERIALIZED (
        SELECT query_id, cand_id, rel FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
            FROM rel) WHERE rn <= {n}),
    sim AS MATERIALIZED (
        SELECT a.query_id, a.cand_id AS ia, b.cand_id AS ib,
               ROUND(list_dot_product(na.e, nb.e) / (na.nrm * nb.nrm), 6)
                 AS s
        FROM cand a
        JOIN cand b ON b.query_id = a.query_id AND b.cand_id != a.cand_id
        JOIN nv na ON na.vec_id = a.cand_id
        JOIN nv nb ON nb.vec_id = b.cand_id),
    s1 AS MATERIALIZED (
        SELECT query_id, cand_id, rel, 1 AS r FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
            FROM cand) WHERE rn = 1),
    sel1 AS MATERIALIZED (SELECT query_id, cand_id FROM s1)"""
    rounds = []
    for r in range(2, k + 1):
        rounds.append(f""",
    s{r} AS MATERIALIZED (
        SELECT query_id, cand_id, rel, {r} AS r FROM (
            SELECT c.query_id, c.cand_id, c.rel,
                   row_number() OVER (PARTITION BY c.query_id ORDER BY
                       {w_rel} * CAST(c.rel AS DECIMAL(28,6))
                     - {w_div} * CAST(mx.m AS DECIMAL(28,6)) DESC,
                       c.cand_id) AS rn
            FROM cand c
            JOIN (SELECT s.query_id AS qid, s.ia AS cid, MAX(s.s) AS m
                  FROM sim s JOIN sel{r - 1} p
                    ON p.query_id = s.query_id AND p.cand_id = s.ib
                  GROUP BY 1, 2) mx
              ON mx.qid = c.query_id AND mx.cid = c.cand_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel{r - 1} p2
                WHERE p2.query_id = c.query_id
                  AND p2.cand_id = c.cand_id)
        ) WHERE rn = 1),
    sel{r} AS MATERIALIZED (
        SELECT query_id, cand_id FROM sel{r - 1}
        UNION ALL SELECT query_id, cand_id FROM s{r})""")
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, k + 1)
    )
    return (
        head + "".join(rounds) + f"""
    SELECT query_id, cand_id AS neighbor_id, r AS mmr_rank,
           rel AS relevance
    FROM ({union})
    ORDER BY query_id, mmr_rank
    """
    )


@query(
    "q263_mmr_diverse_topk",
    oracle=_mmr_oracle(_MMR_K, _MMR_N, _MMR_WREL, _MMR_WDIV),
)
def q263_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_diverse_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_diverse_topk(
        emb.filter(F.col("vec_id") < 5), emb,
        k=_MMR_K, n_candidates=_MMR_N,
        w_rel=_MMR_WREL, w_div=_MMR_WDIV,
    ).orderBy("query_id", "mmr_rank")

# ---------------------------------------------------------------------------
# q264 — ANN index maintenance (round 11: operators/pq.py
# ivfpq_encode_with_index / ivfpq_index_append / ivfpq_index_delete):
# build an IVF-PQ index on the old corpus half, append a new batch
# WITHOUT retraining (coding is a pure per-row function of the frozen
# centroids+codebooks — one zero-shuffle codegen scan), tombstone-
# delete a takedown list (broadcast anti-join; right-to-be-forgotten
# without a rebuild), then serve top-k against the maintained index.
# rows-only (the served ranking is approximate by design); the
# maintenance algebra is pinned in tests/test_similarity.py:
# encode-with-index ≡ build's own coding scan, and full-probe/full-
# rerank over the maintained index ≡ exact brute force over the
# maintained corpus.
# ---------------------------------------------------------------------------


@query("q264_ann_index_maintenance")
def q264_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import (
        ivfpq_build,
        ivfpq_index_append,
        ivfpq_index_delete,
        ivfpq_topk_with_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") >= 100)
    new = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    cents, _, books, coded = ivfpq_build(
        old, n_cells=16, m=8, ksub=16, iterations=1
    )
    coded = ivfpq_index_append(coded, new, cents, books)
    maintained = old.unionByName(new)
    takedown = maintained.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    coded = ivfpq_index_delete(coded, takedown)
    kept = maintained.filter(F.col("vec_id") % 10 != 0)
    return ivfpq_topk_with_index(
        emb.filter(F.col("vec_id") < 5), cents, books, coded, kept,
        k=10, nprobe=8, rerank=200,
    ).orderBy("query_id", "rank")

# ---------------------------------------------------------------------------
# q265 — Poisson-bootstrap confidence intervals (round 11): per-source
# mean tokens/doc with a deterministic 20-resample bootstrap envelope.
# The SCALABLE bootstrap (Poisson(1) weights per (doc, resample) —
# public literature: Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012): classic resample-n-with-
# replacement needs n draws per resample coordinated globally, which
# doesn't shard; Poisson weights are per-row independent, so ALL B
# resamples ride one explode(sequence(1,B)) + ONE (source, b) rollup
# behind map-side combine — no per-resample scan, no shuffle growth
# beyond ×B rows. Weights come from the repo's reduced multiplicative
# id-hash pushed through the exact Poisson(1) inverse CDF at 1e-6
# resolution, so both engines draw IDENTICAL integer weights and every
# resample mean is one bigint/bigint division — the whole envelope is
# oracle-exact (no RNG, no float accumulation).
# ---------------------------------------------------------------------------

_BOOT_B = 20
# Poisson(1) CDF at 1e-6 resolution: P(X<=k)*1e6 for k = 0..4; u above
# the last threshold caps at weight 5 (P ~ 0.06%).
_BOOT_CDF = (367879, 735759, 919699, 981012, 996340)


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    return f"(CASE {cases} ELSE {len(_BOOT_CDF)} END)"


@query(
    "q265_bootstrap_ci",
    oracle=rf"""
    WITH d AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT
                 AS n_toks
        FROM documents),
    w AS (
        SELECT source, b.b, n_toks,
               {_boot_w_sql(f"((((doc_id % {_KM_HASH_MOD}) * {_BOOT_B} + b.b) "
                            f"% {_KM_HASH_MOD}) * {_KM_HASH_MULT}) "
                            f"% {_KM_HASH_MOD} % 1000000")}::BIGINT AS w
        FROM d, (SELECT unnest(range(1, {_BOOT_B} + 1)) AS b) b),
    bm AS (
        -- RAW doubles, deliberately un-ROUNDed: each mean is ONE
        -- bigint/bigint IEEE division (bit-identical on both engines),
        -- while ROUND of a ratio whose denominator has only 2/5
        -- factors can land exactly on the 5e-7 half-grid where the
        -- engines round 1 ulp apart (the q256 lesson)
        SELECT source, b,
               SUM(w * n_toks)::DOUBLE / NULLIF(SUM(w), 0) AS mean_b
        FROM w GROUP BY source, b),
    pt AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               SUM(n_toks)::DOUBLE / COUNT(*) AS mean_tokens
        FROM d GROUP BY source)
    SELECT pt.source, pt.n_docs, pt.mean_tokens,
           MIN(bm.mean_b) AS boot_lo, MAX(bm.mean_b) AS boot_hi
    FROM pt JOIN bm ON bm.source = pt.source
    GROUP BY pt.source, pt.n_docs, pt.mean_tokens
    ORDER BY pt.source
    """,
)
def q265_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim("text")), r"\s+"))
        .cast("long")
        .alias("n_toks"),
    )
    w = d.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
        "n_toks",
        "doc_id",
    ).select(
        "source",
        "b",
        "n_toks",
        F.expr(
            _boot_w_sql(
                f"((((doc_id % {_KM_HASH_MOD}) * {_BOOT_B} + b) "
                f"% {_KM_HASH_MOD}) * {_KM_HASH_MULT}) "
                f"% {_KM_HASH_MOD} % 1000000"
            )
        )
        .cast("long")
        .alias("w"),
    )
    # raw doubles, no ROUND: one bigint/bigint IEEE division per mean
    # is bit-identical cross-engine, while ROUND of a ratio risks the
    # exact half-grid tie class the q256 A-ES key documents
    bm = w.groupBy("source", "b").agg(
        (
            F.sum(F.col("w") * F.col("n_toks")).cast("double")
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("mean_b")
    )
    pt = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("n_toks").cast("double") / F.count(F.lit(1))).alias(
            "mean_tokens"
        ),
    )
    return (
        pt.join(bm, "source")
        .groupBy("source", "n_docs", "mean_tokens")
        .agg(
            F.min("mean_b").alias("boot_lo"),
            F.max("mean_b").alias("boot_hi"),
        )
        .orderBy("source")
    )
