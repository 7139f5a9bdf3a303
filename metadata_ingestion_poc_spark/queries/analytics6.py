"""Ninth analytics batch (round 8): population-stability drift (PSI),
chi-square independence + Cramér's V, geo k-nearest-neighbors, event
run-length islands, Theil inequality index, out-of-vocabulary rate
against a reference vocabulary, embedding-centroid drift per label,
RFM quintile segmentation, and Kaplan-Meier survival (log space).

Cross-engine discipline notes for this batch:

- q229/q230/q233 follow the q215/q228 probability discipline: every
  share is ONE double division of exact BIGINT (or decimal-exact)
  totals, every libm term (ln) is rounded at 6 dp BEFORE its decimal
  sum, so the scalar statistics are exact 6-dp sums on both engines.
- q229's band cuts come from the exact-percentile operator rounded at
  6 (q198 established that the rank-based interpolation matches
  DuckDB's quantile_cont at 6 dp).
- q231's ranking key is (ROUND(distance, 6), s_suppkey) — a total
  order, so row_number is engine-independent even when two suppliers
  sit at the same rounded distance.
- q232 is pure integer window arithmetic (the gaps-and-islands
  row_number difference), bit-identical by construction.
- q234's reference vocabulary is a top-k under the total order
  (count DESC, token ASC), so the 500-token boundary is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ._util import DEC, collect_literal_row, literal_row

# ---------------------------------------------------------------------------
# q229 — population stability index (PSI) of the order-price
# distribution, reference era (orderdate < 1998) vs current era: the
# standard model-monitoring drift score, banded on the REFERENCE
# quintiles (the convention — bands move with the baseline, not the
# mixture). Scale shape: one orders scan feeds both eras; the cuts
# frame is 1 row broadcast; the banded rollup is a 10-cell groupBy
# with map-side combine. PSI term (cur-ref)·ln(cur/ref) rounded at 6
# per band; the headline PSI is the exact 6-dp sum of the 5 rows.
# ---------------------------------------------------------------------------

_PSI_SPLIT_YEAR = 1998


@query(
    "q229_psi_drift",
    oracle=f"""
    WITH o AS (SELECT o_totalprice AS v,
                      CASE WHEN year(o_orderdate) < {_PSI_SPLIT_YEAR}
                           THEN 'ref' ELSE 'cur' END AS era
               FROM orders),
    c AS (SELECT ROUND(quantile_cont(v, 0.2), 6) AS p20,
                 ROUND(quantile_cont(v, 0.4), 6) AS p40,
                 ROUND(quantile_cont(v, 0.6), 6) AS p60,
                 ROUND(quantile_cont(v, 0.8), 6) AS p80
          FROM o WHERE era = 'ref'),
    b AS (SELECT era,
                 CASE WHEN v <= p20 THEN 'b1' WHEN v <= p40 THEN 'b2'
                      WHEN v <= p60 THEN 'b3' WHEN v <= p80 THEN 'b4'
                      ELSE 'b5' END AS band
          FROM o, c),
    cell AS (SELECT band,
                    SUM(CASE WHEN era = 'ref' THEN 1 ELSE 0 END)::BIGINT
                      AS ref_n,
                    SUM(CASE WHEN era = 'cur' THEN 1 ELSE 0 END)::BIGINT
                      AS cur_n
             FROM b GROUP BY band),
    t AS (SELECT SUM(ref_n)::BIGINT AS ref_t, SUM(cur_n)::BIGINT AS cur_t
          FROM cell)
    SELECT band, ref_n, cur_n,
           (ref_n::DOUBLE / ref_t) AS ref_share,
           (cur_n::DOUBLE / cur_t) AS cur_share,
           CASE WHEN ref_n = 0 OR cur_n = 0 THEN NULL
                ELSE ROUND((cur_n::DOUBLE / cur_t - ref_n::DOUBLE / ref_t)
                           * ln((cur_n::DOUBLE / cur_t)
                                / (ref_n::DOUBLE / ref_t)), 6)
           END AS psi_term
    FROM cell, t
    ORDER BY band
    """,
)
def q229_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_percentiles_continuous

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
        F.when(F.year("o_orderdate") < _PSI_SPLIT_YEAR, "ref")
        .otherwise("cur")
        .alias("era"),
    )
    # prices are near-unique doubles: the continuous (distributed-sort
    # rank-lookup) percentile path, not the discrete histogram one
    cuts = exact_percentiles_continuous(
        o.filter(F.col("era") == "ref"),
        "v",
        {"p20": 0.2, "p40": 0.4, "p60": 0.6, "p80": 0.8},
        tiebreak_cols=["o_orderkey"],
    ).select(
        *[F.round(p, 6).alias(p) for p in ("p20", "p40", "p60", "p80")]
    )
    cell = (
        o.crossJoin(F.broadcast(cuts))
        .select(
            "era",
            F.when(F.col("v") <= F.col("p20"), "b1")
            .when(F.col("v") <= F.col("p40"), "b2")
            .when(F.col("v") <= F.col("p60"), "b3")
            .when(F.col("v") <= F.col("p80"), "b4")
            .otherwise("b5")
            .alias("band"),
        )
        .groupBy("band")
        .agg(
            F.sum(F.when(F.col("era") == "ref", 1).otherwise(0))
            .cast("long")
            .alias("ref_n"),
            F.sum(F.when(F.col("era") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("cur_n"),
        )
    )
    cell = cell.localCheckpoint(eager=False)  # feeds totals AND select
    t = cell.agg(
        F.sum("ref_n").cast("long").alias("ref_t"),
        F.sum("cur_n").cast("long").alias("cur_t"),
    )
    ref_share = F.col("ref_n").cast("double") / F.col("ref_t")
    cur_share = F.col("cur_n").cast("double") / F.col("cur_t")
    return (
        cell.crossJoin(F.broadcast(t))
        .select(
            "band",
            "ref_n",
            "cur_n",
            # raw exact-operand IEEE divisions (safe class, r14);
            # psi_term keeps ROUND (ln is the libm residual class)
            ref_share.alias("ref_share"),
            cur_share.alias("cur_share"),
            # A band empty in either era has an undefined ln ratio
            # (DuckDB errors on ln(0); Spark yields NULL) — emit an
            # explicit NULL on both engines so tiny scale factors
            # can't crash the oracle side.
            F.when(
                (F.col("ref_n") > 0) & (F.col("cur_n") > 0),
                F.round(
                    (cur_share - ref_share) * F.log(cur_share / ref_share),
                    6,
                ),
            ).alias("psi_term"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q230 — chi-square test of independence + Cramér's V between event
# type and day-of-week (5×7 contingency): the categorical-association
# screen that complements q228's mutual information with the
# classical effect size. Expected counts are products of BIGINT
# marginals divided once (row·col ≤ 6e5² — no overflow); the cell
# frame is densified to the full r×c grid (marginal cross join,
# bounded) so empty cells still contribute E; each cell's
# (obs-exp)²/exp is rounded at 6 and decimal-summed; V's sqrt is
# IEEE-correctly-rounded on both engines so one final round at 6 is
# exact. One events scan, one 35-cell groupBy; everything downstream
# is on the checkpointed cell frame.
# ---------------------------------------------------------------------------


@query(
    "q230_chi2_independence",
    oracle="""
    WITH b AS (SELECT event_type AS x, (isodow(ts) - 1)::BIGINT AS y
               FROM events),
    obs AS (SELECT x, y, COUNT(*)::BIGINT AS n FROM b GROUP BY x, y),
    mx AS (SELECT x, SUM(n)::BIGINT AS nx FROM obs GROUP BY x),
    my AS (SELECT y, SUM(n)::BIGINT AS ny FROM obs GROUP BY y),
    t AS (SELECT SUM(n)::BIGINT AS nt FROM obs),
    cell AS (SELECT mx.x, my.y, mx.nx, my.ny,
                    COALESCE(obs.n, 0)::BIGINT AS n
             FROM mx CROSS JOIN my
             LEFT JOIN obs ON obs.x = mx.x AND obs.y = my.y),
    terms AS (SELECT ROUND(
                 (c.n::DOUBLE - (c.nx * c.ny)::DOUBLE / t.nt)
                 * (c.n::DOUBLE - (c.nx * c.ny)::DOUBLE / t.nt)
                 / ((c.nx * c.ny)::DOUBLE / t.nt), 6) AS term
              FROM cell c, t),
    agg AS (SELECT ROUND(SUM(CAST(term AS DECIMAL(28,6))), 6)::DOUBLE
                     AS chi2
            FROM terms),
    dims AS (SELECT COUNT(DISTINCT x)::BIGINT AS r,
                    COUNT(DISTINCT y)::BIGINT AS c FROM obs)
    SELECT t.nt AS n_events, (dims.r * dims.c)::BIGINT AS n_cells,
           agg.chi2,
           ((dims.r - 1) * (dims.c - 1))::BIGINT AS dof,
           ROUND(sqrt(agg.chi2
                      / (t.nt * least(dims.r - 1, dims.c - 1))), 6)
             AS cramers_v
    FROM agg, dims, t
    """,
)
def q230_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        F.weekday("ts").cast("long").alias("y"),
    )
    obs = b.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("n"))
    obs = obs.localCheckpoint(eager=False)  # feeds marginals + cells
    mx = obs.groupBy("x").agg(F.sum("n").cast("long").alias("nx"))
    my = obs.groupBy("y").agg(F.sum("n").cast("long").alias("ny"))
    t = obs.agg(F.sum("n").cast("long").alias("nt"))
    # Densify to the full r×c grid (bounded: marginal-count product)
    # so an empty contingency cell still contributes its expected
    # count E to chi² — observed-cells-only understates the statistic.
    cell = (
        mx.crossJoin(F.broadcast(my))
        .join(F.broadcast(obs), ["x", "y"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
    )
    exp = (F.col("nx") * F.col("ny")).cast("double") / F.col("nt")
    terms = cell.crossJoin(F.broadcast(t)).select(
        F.round(
            (F.col("n").cast("double") - exp)
            * (F.col("n").cast("double") - exp)
            / exp,
            6,
        ).alias("term")
    )
    agg = terms.agg(
        F.round(F.sum(F.col("term").cast(DEC)), 6)
        .cast("double")
        .alias("chi2")
    )
    dims = obs.agg(
        F.count_distinct("x").cast("long").alias("r"),
        F.count_distinct("y").cast("long").alias("c"),
    )
    return (
        agg.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("nt").alias("n_events"),
            (F.col("r") * F.col("c")).cast("long").alias("n_cells"),
            "chi2",
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("nt") * F.least(F.col("r") - 1, F.col("c") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# q231 — geo k-nearest-neighbors: the 3 closest suppliers within
# 500 km of each probe customer, via the banded radius join
# (operators/geo.py) + a per-query rank window. The contract is
# "k nearest WITHIN R_max" — the radius cap is what keeps candidate
# generation Σ cell-pair density instead of |Q|·|P|; a caller needing
# unbounded k-NN re-probes the rare empty queries at 2·R. The oracle
# is the brute-force cross join + ROW_NUMBER, so every sweep proves
# the banding misses no neighbor. Ranking key (rounded distance,
# supplier key) is a total order on both engines.
# ---------------------------------------------------------------------------

_KNN_RADIUS_KM = 500.0
_KNN_K = 3
_KNN_BITS = 5


@query(
    "q231_geo_knn",
    oracle=f"""
    WITH q AS (SELECT c_custkey,
                      (c_custkey * 6151 % 12000) / 100.0 - 60.0 AS lat,
                      (c_custkey * 9973 % 36000) / 100.0 - 180.0 AS lon
               FROM customer WHERE c_custkey % 20 = 0),
    p AS (SELECT s_suppkey,
                 (s_suppkey * 7919 % 12000) / 100.0 - 60.0 AS lat,
                 (s_suppkey * 104729 % 36000) / 100.0 - 180.0 AS lon
          FROM supplier),
    d AS (SELECT q.c_custkey, p.s_suppkey,
                 ROUND(2.0 * 6371.0 * asin(sqrt(
                     sin(radians(p.lat - q.lat) / 2)
                       * sin(radians(p.lat - q.lat) / 2)
                     + cos(radians(q.lat)) * cos(radians(p.lat))
                       * sin(radians(p.lon - q.lon) / 2)
                       * sin(radians(p.lon - q.lon) / 2))), 6) AS dist
          FROM q, p),
    r AS (SELECT c_custkey, s_suppkey, dist,
                 ROW_NUMBER() OVER (PARTITION BY c_custkey
                                    ORDER BY dist, s_suppkey) AS nn_rank
          FROM d WHERE dist <= {_KNN_RADIUS_KM!r})
    SELECT c_custkey, nn_rank::BIGINT AS nn_rank, s_suppkey,
           dist AS distance_km
    FROM r WHERE nn_rank <= {_KNN_K}
    ORDER BY c_custkey, nn_rank
    """,
)
def q231_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import radius_join
    from .geo_queries import CUST_LAT, CUST_LON, sup_points

    qs = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select(
            "c_custkey",
            F.expr(CUST_LAT).alias("q_lat"),
            F.expr(CUST_LON).alias("q_lon"),
        )
    )
    ps = sup_points(spark, sf_dir)  # (s_suppkey, p_lat, p_lon)
    pairs = radius_join(qs, ps, _KNN_RADIUS_KM, bits=_KNN_BITS)
    w = Window.partitionBy("c_custkey").orderBy("distance_km", "s_suppkey")
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nn_rank") <= _KNN_K)
        .select("c_custkey", "nn_rank", "s_suppkey", "distance_km")
        .orderBy("c_custkey", "nn_rank")
    )


# ---------------------------------------------------------------------------
# q232 — run-length encoding of per-user event-type sequences (the
# gaps-and-islands pattern): consecutive same-type events collapse to
# runs, reported as a (event_type, run_len) histogram — the
# repetition screen a sessionized clickstream pipeline uses to spot
# bot loops (long click runs) and retry storms (error runs). Pure
# integer window arithmetic on one exchange: island id = global
# row_number minus per-type row_number, both over (ts, event_id) —
# a total order, so runs are engine-independent.
# ---------------------------------------------------------------------------


@query(
    "q232_event_runs",
    oracle="""
    WITH e AS (SELECT user_id, event_type, ts, event_id FROM events),
    r AS (SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                 - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS island
          FROM e),
    runs AS (SELECT user_id, event_type, island,
                    COUNT(*)::BIGINT AS run_len
             FROM r GROUP BY user_id, event_type, island)
    SELECT event_type, run_len, COUNT(*)::BIGINT AS n_runs
    FROM runs GROUP BY event_type, run_len
    ORDER BY event_type, run_len
    """,
)
def q232_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    return (
        e.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias(
                "island"
            ),
        )
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
        .groupBy("event_type", "run_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_runs"))
        .orderBy("event_type", "run_len")
    )


# ---------------------------------------------------------------------------
# q233 — Theil T inequality index of customer revenue within each
# nation: T = (1/n)·Σ (x/μ)·ln(x/μ), the decomposable cousin of q210's
# Gini (Theil splits cleanly into within/between-group terms, which is
# why mixture-audit pipelines prefer it). Per-customer revenue is a
# decimal-exact 6-dp sum; μ is one double division of decimal-exact
# totals; each ln term is rounded at 6 before the decimal sum; the
# final /n is one more exact division. Two shuffles at data scale
# (customer rollup, nation rollup) + one broadcast dim join.
# ---------------------------------------------------------------------------


@query(
    "q233_theil_index",
    oracle="""
    WITH x AS (SELECT o_custkey,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                        ::DOUBLE AS rev
               FROM orders GROUP BY o_custkey),
    g AS (SELECT n.n_name, x.o_custkey, x.rev,
                 COUNT(*) OVER (PARTITION BY n.n_name)::BIGINT AS n,
                 ROUND(SUM(CAST(x.rev AS DECIMAL(28,6)))
                         OVER (PARTITION BY n.n_name), 6)::DOUBLE AS tot
          FROM x
          JOIN customer c ON c.c_custkey = x.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey),
    terms AS (SELECT n_name, n, tot,
                     ROUND((rev / (tot / n)) * ln(rev / (tot / n)), 6)
                       AS term
              FROM g)
    SELECT n_name, FIRST(n) AS n_custs, FIRST(tot) AS total_rev,
           ROUND(ROUND(SUM(CAST(term AS DECIMAL(28,6))), 6)::DOUBLE
                 / FIRST(n), 6) AS theil_t
    FROM terms GROUP BY n_name ORDER BY n_name
    """,
)
def q233_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("rev")
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = x.join(
        F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)),
        x.o_custkey == F.col("c_custkey"),
    ).select("n_name", "rev")
    # g feeds the nation rollup AND the term join — cut lineage so the
    # orders scan + dim joins run once, not once per consumer
    g = g.localCheckpoint(eager=False)
    per_nation = g.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("rev").cast(DEC)), 6)
        .cast("double")
        .alias("tot"),
    )
    mu = F.col("tot") / F.col("n")
    return (
        g.join(F.broadcast(per_nation), "n_name")
        .select(
            "n_name",
            "n",
            "tot",
            F.round(
                (F.col("rev") / mu) * F.log(F.col("rev") / mu), 6
            ).alias("term"),
        )
        .groupBy("n_name")
        .agg(
            F.first("n").alias("n_custs"),
            F.first("tot").alias("total_rev"),
            F.round(
                F.round(F.sum(F.col("term").cast(DEC)), 6).cast("double")
                / F.first("n"),
                6,
            ).alias("theil_t"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q234 — out-of-vocabulary rate per source against a reference
# vocabulary (the global top-k tokens): the tokenizer-coverage
# screen run before committing a vocab/tokenizer to a corpus mix —
# a source with a high OOV rate will fragment into subwords and
# inflate its true token cost. Scale shape: ONE tokenize pass
# collapsed immediately to per-(source, token) counts (map-side
# combine; the exchange carries the vocabulary, not the corpus),
# checkpointed to feed both the global top-k (TakeOrdered — never a
# single-partition sort of the corpus) and the per-source rollup;
# the k-row vocab broadcasts. k is calibrated to the generator: the
# synthetic corpus draws from a 31-token near-uniform vocabulary at
# every SF (a production corpus would use k=32000-ish), so k=15
# leaves ~49% of mass out-of-vocabulary — both code paths carry
# signal. The top-k tiebreak (count DESC, token ASC) is a total
# order, so the boundary is engine-independent even with tied counts.
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 15


@query(
    "q234_oov_rate",
    oracle=rf"""
    WITH toks AS (SELECT source, unnest(string_split_regex(
                      lower(trim(text)), '\s+')) AS tok
                  FROM documents),
    tc AS (SELECT source, tok, COUNT(*)::BIGINT AS n
           FROM toks GROUP BY source, tok),
    vocab AS (SELECT tok FROM (
                SELECT tok, SUM(n) AS cnt FROM tc GROUP BY tok
                ORDER BY cnt DESC, tok LIMIT {_OOV_VOCAB_K})),
    j AS (SELECT tc.source, tc.n,
                 CASE WHEN v.tok IS NULL THEN tc.n ELSE 0 END AS oov_n
          FROM tc LEFT JOIN vocab v USING (tok))
    SELECT source,
           SUM(n)::BIGINT AS n_tokens,
           SUM(oov_n)::BIGINT AS n_oov,
           ROUND(SUM(oov_n)::DOUBLE / SUM(n), 6) AS oov_rate
    FROM j GROUP BY source ORDER BY source
    """,
)
def q234_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tc = tc.localCheckpoint(eager=False)  # feeds vocab AND the rollup
    vocab = (
        tc.groupBy("tok")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_OOV_VOCAB_K)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    return (
        tc.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q235 — embedding drift per label: cosine similarity between the
# label centroid of era A (even vec_id) and era B (odd vec_id) — the
# embedding-space drift monitor a training pipeline runs when a new
# encoder version or data batch lands. ONE (label, dim) exchange with
# conditional aggregation computes both era centroids (float→double
# casts are exact; per-dim sums go through DECIMAL(28,6) per the q108
# discipline); dot/norm products are rounded at 6 before their decimal
# sums; sqrt is IEEE-correctly-rounded on both engines.
# ---------------------------------------------------------------------------


@query(
    "q235_embedding_label_drift",
    oracle="""
    WITH e AS (SELECT label, vec_id % 2 AS half, embedding::DOUBLE[] AS emb
               FROM embeddings),
    u AS (SELECT label, half, i AS dim,
                 CAST(emb[i+1] AS DECIMAL(28,6)) AS v
          FROM e, unnest(range(len(emb))) AS t(i)),
    m AS (SELECT label, dim,
                 ROUND(SUM(v) FILTER (half = 0), 6)::DOUBLE
                   / COUNT(*) FILTER (half = 0) AS ma,
                 ROUND(SUM(v) FILTER (half = 1), 6)::DOUBLE
                   / COUNT(*) FILTER (half = 1) AS mb
          FROM u GROUP BY label, dim),
    s AS (SELECT label,
                 ROUND(SUM(CAST(ROUND(ma * mb, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE AS dot,
                 ROUND(SUM(CAST(ROUND(ma * ma, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE AS na2,
                 ROUND(SUM(CAST(ROUND(mb * mb, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE AS nb2
          FROM m GROUP BY label),
    n AS (SELECT label,
                 COUNT(*) FILTER (vec_id % 2 = 0)::BIGINT AS n_a,
                 COUNT(*) FILTER (vec_id % 2 = 1)::BIGINT AS n_b
          FROM embeddings GROUP BY label)
    SELECT s.label, n.n_a, n.n_b,
           ROUND(s.dot / (sqrt(s.na2) * sqrt(s.nb2)), 6)
             AS centroid_cosine
    FROM s JOIN n USING (label)
    ORDER BY label
    """,
)
def q235_embedding_label_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        "embedding",
        "vec_id",
    )
    u = e.select(
        "label", "half", F.posexplode("embedding").alias("dim", "x")
    )
    xdec = F.col("x").cast("double").cast(DEC)
    m = u.groupBy("label", "dim").agg(
        (
            F.round(F.sum(F.when(F.col("half") == 0, xdec)), 6)
            .cast("double")
            / F.count(F.when(F.col("half") == 0, F.lit(1)))
        ).alias("ma"),
        (
            F.round(F.sum(F.when(F.col("half") == 1, xdec)), 6)
            .cast("double")
            / F.count(F.when(F.col("half") == 1, F.lit(1)))
        ).alias("mb"),
    )
    s = m.groupBy("label").agg(
        F.round(F.sum(F.round(F.col("ma") * F.col("mb"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("dot"),
        F.round(F.sum(F.round(F.col("ma") * F.col("ma"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("na2"),
        F.round(F.sum(F.round(F.col("mb") * F.col("mb"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("nb2"),
    )
    n = e.groupBy("label").agg(
        F.count(F.when(F.col("half") == 0, F.lit(1)))
        .cast("long")
        .alias("n_a"),
        F.count(F.when(F.col("half") == 1, F.lit(1)))
        .cast("long")
        .alias("n_b"),
    )
    return (
        s.join(n, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
            ).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q236 — RFM segmentation: per-customer Recency / Frequency / Monetary
# quintile scores, rolled up per segment — the classical CRM
# micro-segmentation. The scale point is HOW the quintile cuts are
# computed: R and F are small-integer columns (bounded distinct
# values), so the histogram-based exact-percentile path applies; M is
# a near-unique double, so the continuous distributed-sort path
# applies — one query composing both percentile operators, never a
# one-task ntile over all customers. Scores = 1 + Σ (v > cut) on
# 6-dp-rounded cuts, identical CASE arithmetic on both engines.
# ---------------------------------------------------------------------------


@query(
    "q236_rfm_segments",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_d
                 FROM orders),
    cust AS (SELECT o_custkey,
                    date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                              (SELECT ref_d FROM ref))::BIGINT AS r,
                    COUNT(*)::BIGINT AS f,
                    ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                      ::DOUBLE AS m
             FROM orders GROUP BY o_custkey),
    rc AS (SELECT ROUND(quantile_cont(r, 0.2), 6) AS c1,
                  ROUND(quantile_cont(r, 0.4), 6) AS c2,
                  ROUND(quantile_cont(r, 0.6), 6) AS c3,
                  ROUND(quantile_cont(r, 0.8), 6) AS c4 FROM cust),
    fc AS (SELECT ROUND(quantile_cont(f, 0.2), 6) AS c1,
                  ROUND(quantile_cont(f, 0.4), 6) AS c2,
                  ROUND(quantile_cont(f, 0.6), 6) AS c3,
                  ROUND(quantile_cont(f, 0.8), 6) AS c4 FROM cust),
    mc AS (SELECT ROUND(quantile_cont(m, 0.2), 6) AS c1,
                  ROUND(quantile_cont(m, 0.4), 6) AS c2,
                  ROUND(quantile_cont(m, 0.6), 6) AS c3,
                  ROUND(quantile_cont(m, 0.8), 6) AS c4 FROM cust),
    scored AS (SELECT
        (1 + (r > rc.c1)::INT + (r > rc.c2)::INT
           + (r > rc.c3)::INT + (r > rc.c4)::INT)::BIGINT AS r_score,
        (1 + (f > fc.c1)::INT + (f > fc.c2)::INT
           + (f > fc.c3)::INT + (f > fc.c4)::INT)::BIGINT AS f_score,
        (1 + (m > mc.c1)::INT + (m > mc.c2)::INT
           + (m > mc.c3)::INT + (m > mc.c4)::INT)::BIGINT AS m_score,
        m
      FROM cust, rc, fc, mc)
    SELECT r_score, f_score, m_score,
           COUNT(*)::BIGINT AS n_customers,
           ROUND(CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q236_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import (
        exact_percentiles_bounded,
        exact_percentiles_continuous,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_totalprice",
    )
    ref = o.agg(F.max("d").alias("ref_d"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("m"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_d", "last_d").cast("long").alias("r"),
            "f",
            "m",
        )
    )
    cust = cust.localCheckpoint(eager=False)  # feeds 3 cut passes + scoring
    quints = {"c1": 0.2, "c2": 0.4, "c3": 0.6, "c4": 0.8}
    spark_ = cust.sparkSession

    # R / F are bounded-distinct integers: ONE fused histogram job
    # computes both quintile sets (driver interpolation over the
    # collected histogram — bounded by the day range / order-count
    # cap, not the customer count). The cut frames are 1-row literals
    # (HALF_UP 6-dp via the audited helper), so the scoring plan
    # carries 8 doubles, not an operator join tree.
    rf = exact_percentiles_bounded(cust, ["r", "f"], quints)

    r_cuts = literal_row(spark_, {c: rf["r"][c] for c in quints})
    f_cuts = literal_row(spark_, {c: rf["f"][c] for c in quints})
    # M: near-unique doubles -> continuous distributed-sort path
    # (already a literal 1-row frame)
    m_cuts = exact_percentiles_continuous(
        cust, "m", quints, tiebreak_cols=["o_custkey"]
    ).select(*[F.round(c, 6).alias(c) for c in quints])

    scored = (
        cust.crossJoin(F.broadcast(r_cuts.select(*[F.col(c).alias(f"r_{c}") for c in quints])))
        .crossJoin(F.broadcast(f_cuts.select(*[F.col(c).alias(f"f_{c}") for c in quints])))
        .crossJoin(F.broadcast(m_cuts.select(*[F.col(c).alias(f"m_{c}") for c in quints])))
        .select(
            (
                F.lit(1)
                + sum(
                    ((F.col("r") > F.col(f"r_{c}")).cast("int") for c in quints),
                    F.lit(0),
                )
            ).cast("long").alias("r_score"),
            (
                F.lit(1)
                + sum(
                    ((F.col("f") > F.col(f"f_{c}")).cast("int") for c in quints),
                    F.lit(0),
                )
            ).cast("long").alias("f_score"),
            (
                F.lit(1)
                + sum(
                    ((F.col("m") > F.col(f"m_{c}")).cast("int") for c in quints),
                    F.lit(0),
                )
            ).cast("long").alias("m_score"),
            "m",
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum(F.col("m").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# q237 — Kaplan-Meier survival of customer engagement: duration =
# days between a customer's first and last order; a customer is an
# observed churn event if their last order is >= 1 year before the
# dataset end (they had a full year to return and didn't), censored
# otherwise. Emits the KM table in LOG space — km_log_survival =
# Σ ln(1 − d_t/n_t) — because a cumulative product is not
# cross-engine-reproducible but a cumulative sum of 6-dp-rounded ln
# terms is exact. The at-risk counts come from a reverse cumulative
# sum over the per-duration rollup, a frame bounded by the DATE RANGE
# (distinct day-gaps), not the data size, so its windows never see
# the corpus.
# ---------------------------------------------------------------------------

_KM_CHURN_DAYS = 365


@query(
    "q237_km_survival",
    oracle=f"""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d
                 FROM orders),
    cust AS (SELECT o_custkey,
                    date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                              MAX(CAST(o_orderdate AS DATE)))::BIGINT
                      AS duration,
                    (date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                               (SELECT max_d FROM ref))
                     >= {_KM_CHURN_DAYS}) AS churned
             FROM orders GROUP BY o_custkey),
    dur AS (SELECT duration,
                   COUNT(*)::BIGINT AS n_total,
                   SUM(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT
                     AS n_churned
            FROM cust GROUP BY duration),
    risk AS (SELECT duration, n_churned,
                    SUM(n_total) OVER (ORDER BY duration DESC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)::BIGINT
                      AS n_at_risk
             FROM dur),
    ev AS (SELECT duration, n_at_risk, n_churned,
                  ROUND(ln(1.0::DOUBLE
                           - n_churned::DOUBLE / n_at_risk), 6) AS km_step
           FROM risk WHERE n_churned >= 1 AND n_churned < n_at_risk)
    SELECT duration AS duration_days, n_at_risk, n_churned, km_step,
           ROUND(SUM(CAST(km_step AS DECIMAL(28,6)))
                   OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW), 6)::DOUBLE AS km_log_survival
    FROM ev
    ORDER BY duration_days
    """,
)
def q237_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    ref = o.agg(F.max("d").alias("max_d"))
    cust = (
        o.groupBy("o_custkey")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
        .crossJoin(F.broadcast(ref))
        .select(
            F.datediff("last_d", "first_d").cast("long").alias("duration"),
            (
                F.datediff("max_d", "last_d") >= _KM_CHURN_DAYS
            ).alias("churned"),
        )
    )
    dur = cust.groupBy("duration").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
    )
    # compact frame from here on: one row per distinct day-gap
    w_desc = (
        Window.orderBy(F.col("duration").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = dur.select(
        "duration",
        "n_churned",
        F.sum("n_total").over(w_desc).cast("long").alias("n_at_risk"),
    )
    ev = risk.filter(
        (F.col("n_churned") >= 1)
        & (F.col("n_churned") < F.col("n_at_risk"))
    ).select(
        F.col("duration").alias("duration_days"),
        "n_at_risk",
        "n_churned",
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_churned").cast("double") / F.col("n_at_risk")
            ),
            6,
        ).alias("km_step"),
    )
    w_asc = (
        Window.orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "duration_days",
        "n_at_risk",
        "n_churned",
        "km_step",
        F.round(F.sum(F.col("km_step").cast(DEC)).over(w_asc), 6)
        .cast("double")
        .alias("km_log_survival"),
    ).orderBy("duration_days")


# ---------------------------------------------------------------------------
# q238 — cross-document chunk duplication over the FULL corpus,
# reusing q214's window constants (W/S only — q214 itself chunks a
# doc_id %5 subsample, which would keep just 4 of 20 sources here):
# per source, how many chunk instances are verbatim-shared with at
# least one OTHER document — chunk-granularity boilerplate that
# whole-document dedup (q50) and near-dup (q51) both miss. Chunk text
# crosses the network ONCE (the combined (text, source) rollup with
# map-side combine); everything after runs on the collapsed identity
# frame. Identity is the exact string, so both engines agree by
# construction.
# ---------------------------------------------------------------------------

from .analytics5 import CHUNK_S, CHUNK_W  # noqa: E402 — shared contract


@query(
    "q238_chunk_dedup",
    oracle=f"""
    WITH t AS (SELECT d.doc_id, d.source,
                      string_split(trim(d.text), ' ') AS toks
               FROM documents d),
    n AS (SELECT doc_id, source, toks, len(toks) AS n_tok FROM t),
    c AS (SELECT doc_id, source,
                 array_to_string(
                     list_slice(toks, i * {CHUNK_S} + 1,
                                i * {CHUNK_S} + {CHUNK_W}), ' ')
                   AS chunk_text
          FROM n, LATERAL (SELECT unnest(generate_series(
                   0, (greatest(n_tok - {CHUNK_W}, 0) + {CHUNK_S - 1})
                          // {CHUNK_S})) AS i)),
    cs AS (SELECT chunk_text, source,
                  COUNT(*)::BIGINT AS n_inst,
                  COUNT(DISTINCT doc_id)::BIGINT AS nd
           FROM c GROUP BY chunk_text, source),
    tot AS (SELECT source, n_inst,
                   SUM(nd) OVER (PARTITION BY chunk_text) AS total_nd
            FROM cs)
    SELECT source,
           SUM(n_inst)::BIGINT AS n_chunks,
           SUM(CASE WHEN total_nd >= 2 THEN n_inst ELSE 0 END)::BIGINT
             AS n_shared,
           ROUND(SUM(CASE WHEN total_nd >= 2 THEN n_inst ELSE 0 END)::DOUBLE
                 / SUM(n_inst), 6) AS shared_rate
    FROM tot
    GROUP BY source
    ORDER BY source
    """,
)
def q238_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = CHUNK_W, CHUNK_S
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.split(F.trim("text"), " ").alias("toks"),
        )
        .withColumn("n_tok", F.size("toks"))
    )
    n_last = (
        F.floor(
            (F.greatest(F.col("n_tok") - W, F.lit(0)) + F.lit(S - 1)) / S
        )
    ).cast("int")
    chunks = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_last),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * S + 1, W), " "
                ),
            )
        ).alias("chunk_text"),
    )
    # ONE combined shuffle: collapse to (chunk_text, source) with
    # instance and distinct-doc counts (map-side combine carries the
    # chunk text across the network once); since each doc has exactly
    # one source, the per-text doc total is the window SUM of the
    # per-source distinct counts — computed on the already-collapsed
    # frame, never by re-joining chunk instances.
    cs = chunks.groupBy("chunk_text", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_inst"),
        F.count_distinct("doc_id").cast("long").alias("nd"),
    )
    total_nd = F.sum("nd").over(Window.partitionBy("chunk_text"))
    shared = F.when(F.col("total_nd") >= 2, F.col("n_inst")).otherwise(0)
    return (
        cs.withColumn("total_nd", total_nd)
        .groupBy("source")
        .agg(
            F.sum("n_inst").cast("long").alias("n_chunks"),
            F.sum(shared).cast("long").alias("n_shared"),
            F.round(
                F.sum(shared).cast("double") / F.sum("n_inst"), 6
            ).alias("shared_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# average rank WITH TIES — the Spearman building block: rank() gives
# the min rank of a tie group, count-over-(group, value) its size, so
# min + (size-1)/2 is the tie group's mean rank (.5-granular, exact).
# Module-level so the hand-checked tie tests exercise THIS expression,
# not a copy.
def avg_rank(group_col: str, col: str) -> F.Column:
    return (
        F.rank().over(Window.partitionBy(group_col).orderBy(col))
        + (
            F.count(F.lit(1)).over(Window.partitionBy(group_col, col)) - 1
        )
        / 2.0
    )


# ---------------------------------------------------------------------------
# q239 — Spearman rank correlation per nation between a customer's
# order count and total revenue: the robust (monotone, outlier-proof)
# sibling of q153's per-group OLS. Average ranks handle ties exactly
# (rank() + (|equal|-1)/2 — a .5-granular value, exact in decimal);
# rho is Pearson over those ranks with every sum decimal-exact and
# ONE sqrt/division at the end. Two shuffles at data scale (customer
# rollup, nation rank window); cross-engine exactness bound: the
# n·Σxy products stay under 2^53 for groups up to ~2e5 customers —
# far beyond the per-nation cardinality here, and the formula itself
# is standard at any scale.
# ---------------------------------------------------------------------------


@query(
    "q239_spearman_rank_corr",
    oracle="""
    WITH cust AS (SELECT o_custkey,
                         COUNT(*)::BIGINT AS f,
                         ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                           ::DOUBLE AS m
                  FROM orders GROUP BY o_custkey),
    g AS (SELECT n.n_name, cust.f, cust.m
          FROM cust
          JOIN customer c ON c.c_custkey = cust.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey),
    ranked AS (SELECT n_name,
                      RANK() OVER (PARTITION BY n_name ORDER BY f)
                        + (COUNT(*) OVER (PARTITION BY n_name, f) - 1)
                          / 2.0 AS rf,
                      RANK() OVER (PARTITION BY n_name ORDER BY m)
                        + (COUNT(*) OVER (PARTITION BY n_name, m) - 1)
                          / 2.0 AS rm
               FROM g),
    s AS (SELECT n_name,
                 COUNT(*)::BIGINT AS n,
                 CAST(SUM(CAST(rf AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(rm AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(rf * rm AS DECIMAL(38,6))) AS DOUBLE)
                   AS sxy,
                 CAST(SUM(CAST(rf * rf AS DECIMAL(38,6))) AS DOUBLE)
                   AS sxx,
                 CAST(SUM(CAST(rm * rm AS DECIMAL(38,6))) AS DOUBLE)
                   AS syy
          FROM ranked GROUP BY n_name)
    SELECT n_name, n,
           ROUND((n * sxy - sx * sy)
                 / sqrt(NULLIF((n * sxx - sx * sx)
                               * (n * syy - sy * sy), 0)), 6)
             AS spearman_rho
    FROM s
    ORDER BY n_name
    """,
)
def q239_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("f"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("m"),
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = cust.join(
        F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)),
        cust.o_custkey == F.col("c_custkey"),
    ).select("n_name", "f", "m")
    D38 = "decimal(38,6)"
    ranked = g.select(
        "n_name",
        avg_rank("n_name", "f").alias("rf"),
        avg_rank("n_name", "m").alias("rm"),
    )
    s = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rf").cast(D38)).cast("double").alias("sx"),
        F.sum(F.col("rm").cast(D38)).cast("double").alias("sy"),
        F.sum((F.col("rf") * F.col("rm")).cast(D38))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("rf") * F.col("rf")).cast(D38))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("rm") * F.col("rm")).cast(D38))
        .cast("double")
        .alias("syy"),
    )
    nn = F.col("n").cast("double")
    # zero rank variance (a nation where every customer ties on a
    # metric, e.g. a single-customer nation at tiny SF) makes the
    # denominator 0 — rho is undefined there: emit NULL, never divide
    # (ANSI mode would THROW; non-ANSI would emit NaN vs the oracle's
    # NULL — both wrong)
    den = (nn * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        nn * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "n_name",
        "n",
        F.when(
            den > 0,
            F.round(
                (nn * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(den),
                6,
            ),
        ).alias("spearman_rho"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# q240 — autocorrelation (ACF) of the daily revenue series at lags
# 1..7: the stationarity/seasonality screen run before any
# forecasting model (the dow seasonality of q220 shows up as a lag-7
# peak). The series is the decimal-exact daily rollup (bounded by the
# DATE RANGE, so the lag self-join and the mean broadcast never see
# the raw corpus); deviations multiply as doubles and round at 6
# before decimal sums; missing calendar days simply drop their pairs
# (documented contract — both engines join on the same date_add key).
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "q240_revenue_acf",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                        ::DOUBLE AS rev
               FROM orders GROUP BY day),
    mu AS (SELECT CAST(ROUND(SUM(CAST(rev AS DECIMAL(28,6))), 6) AS DOUBLE)
                    / COUNT(*) AS mu
           FROM d),
    dev AS (SELECT day, rev - mu.mu AS e FROM d, mu),
    den AS (SELECT ROUND(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(28,6))), 6)
                     ::DOUBLE AS ss
            FROM dev),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    pairs AS (SELECT lags.lag, a.e AS ea, b.e AS eb
              FROM lags
              JOIN dev a ON TRUE
              JOIN dev b ON b.day = a.day + to_days(lags.lag::INT))
    SELECT lag::BIGINT AS lag,
           COUNT(*)::BIGINT AS n_pairs,
           ROUND(ROUND(SUM(CAST(ROUND(ea * eb, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE
                 / (SELECT ss FROM den), 6) AS acf
    FROM pairs GROUP BY lag ORDER BY lag
    """,
)
def q240_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("rev")
        )
    )
    d = d.localCheckpoint(eager=False)  # bounded day frame, 4 consumers
    mu = d.agg(
        (
            F.round(F.sum(F.col("rev").cast(DEC)), 6).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    dev = d.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("rev") - F.col("mu")).alias("e")
    )
    dev = dev.localCheckpoint(eager=False)  # feeds den + both join sides
    den = dev.agg(
        F.round(F.sum(F.round(F.col("e") * F.col("e"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("ss")
    )
    lags = dev.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dev.crossJoin(F.broadcast(lags))
    b = dev.select(F.col("day").alias("bday"), F.col("e").alias("eb"))
    pairs = a.join(
        b, F.date_add(F.col("day"), F.col("lag")) == F.col("bday")
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.round(F.col("e") * F.col("eb"), 6).cast(DEC)), 6
            )
            .cast("double")
            .alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            F.round(F.col("num") / F.col("ss"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# q241 — geo hotspot clustering: DBSCAN-lite over the Morton grid.
# Points are a deterministic 7-city mixture (2/3 of keys; ±2°
# integer-derived jitter) over uniform background noise (1/3) — the uniform hash coordinates of
# q221/q222 are intentionally clump-free and would make ANY density
# rule degenerate). Cells whose point count exceeds 2x the
# non-empty-cell mean are "dense" — a RELATIVE threshold, so the rule
# is scale-invariant across SFs, and an all-integer comparison
# n·n_cells > 2·total, so no float boundary; dense cells that are
# 8-neighbors (longitude wraps, latitude clamps) merge into hotspots
# via connected components (operators/components.py — the same
# large/small-star machinery the near-dup clusters use, here over a
# cell graph BOUNDED by the grid, not the data). Output: one row per
# hotspot with its cell and point mass. The oracle replays the
# density rule and runs the q54-style RECURSIVE reachability over the
# same integer adjacency.
# ---------------------------------------------------------------------------

from ..operators.geo import quant as _geo_quant  # noqa: E402
from ..operators.geo import quant_sql as _geo_quant_sql  # noqa: E402

_HOT_BITS = 5
# 2/3 of points form 7 tight cities (center = key % 7, ±2° jitter);
# 1/3 are uniform background noise — the separation DBSCAN exists for
_HOT_LAT = (
    "(CASE WHEN c_custkey % 3 = 0"
    " THEN (c_custkey * 7919 % 18000) / 100.0 - 90.0"
    " ELSE (c_custkey % 7) * 25.0 - 75.0"
    "      + (c_custkey * 7919 % 400) / 100.0 - 2.0 END)"
)
_HOT_LON = (
    "(CASE WHEN c_custkey % 3 = 0"
    " THEN (c_custkey * 9973 % 36000) / 100.0 - 180.0"
    " ELSE (c_custkey % 7) * 53.0 - 159.0"
    "      + (c_custkey * 9973 % 400) / 100.0 - 2.0 END)"
)


@query(
    "q241_geo_hotspots",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT {_geo_quant_sql(_HOT_LAT, -90.0, 180.0, 1 << _HOT_BITS)} AS ix,
             {_geo_quant_sql(_HOT_LON, -180.0, 360.0, 1 << _HOT_BITS)} AS iy
      FROM customer),
    cells AS (SELECT ix, iy, COUNT(*)::BIGINT AS n FROM pts
              GROUP BY ix, iy),
    t AS (SELECT SUM(n)::BIGINT AS total, COUNT(*)::BIGINT AS nc
          FROM cells),
    dense AS (SELECT ix, iy, n, ix * {1 << _HOT_BITS} + iy AS key
              FROM cells, t WHERE n * t.nc > 2 * t.total),
    edges AS (
      SELECT a.key AS s, b.key AS d
      FROM dense a
      JOIN dense b
        ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
       AND (b.iy = (a.iy + 1) % {1 << _HOT_BITS}
            OR b.iy = (a.iy - 1 + {1 << _HOT_BITS}) % {1 << _HOT_BITS}
            OR b.iy = a.iy)
       AND a.key <> b.key),
    reach AS (
      SELECT key AS n, key AS m FROM dense
      UNION
      SELECT e.s, r.m FROM edges e JOIN reach r ON e.d = r.n
    ),
    comp AS (SELECT n AS key, MIN(m) AS cluster_id FROM reach GROUP BY n)
    SELECT comp.cluster_id::BIGINT AS cluster_id,
           COUNT(*)::BIGINT AS n_cells,
           SUM(dense.n)::BIGINT AS n_points
    FROM dense JOIN comp USING (key)
    GROUP BY comp.cluster_id
    ORDER BY cluster_id
    """,
)
def q241_geo_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    cells_n = 1 << _HOT_BITS
    pts = load_table(spark, sf_dir, "customer").select(
        _geo_quant(F.expr(_HOT_LAT), -90.0, 180.0, cells_n).alias("ix"),
        _geo_quant(F.expr(_HOT_LON), -180.0, 360.0, cells_n).alias("iy"),
    )
    cells = pts.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cells = cells.localCheckpoint(eager=False)  # feeds totals + dense
    t = cells.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("nc"),
    )
    dense = (
        cells.crossJoin(F.broadcast(t))
        .filter(F.col("n") * F.col("nc") > 2 * F.col("total"))
        .select(
            "ix", "iy", "n", (F.col("ix") * cells_n + F.col("iy")).alias("key")
        )
    )
    dense = dense.localCheckpoint(eager=False)  # feeds edges + rollup
    nbr = dense.select(
        F.col("key").alias("ka"),
        F.explode(
            F.sequence(F.lit(-1), F.lit(1))
        ).alias("dx"),
        "ix",
        "iy",
    ).select(
        "ka",
        (F.col("ix") + F.col("dx")).alias("bix"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.pmod(F.col("iy") + 1, F.lit(cells_n)),
                    F.pmod(F.col("iy") - 1, F.lit(cells_n)),
                    F.col("iy"),
                )
            )
        ).alias("biy"),
    )
    other = dense.select(
        F.col("ix").alias("bix"),
        F.col("iy").alias("biy"),
        F.col("key").alias("kb"),
    )
    pairs = (
        nbr.join(other, ["bix", "biy"])
        .filter(F.col("ka") < F.col("kb"))
        .select(F.col("ka").alias("doc_a"), F.col("kb").alias("doc_b"))
        .distinct()
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("key"), F.col("component").alias("cluster_id")
    )
    return (
        dense.join(comps, "key", "left")
        .select(
            F.coalesce(F.col("cluster_id"), F.col("key")).alias(
                "cluster_id"
            ),
            "n",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
        .orderBy("cluster_id")
    )
