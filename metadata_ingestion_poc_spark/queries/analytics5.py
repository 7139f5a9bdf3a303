"""Eighth analytics batch (round 7): RAG-style document chunking,
Jensen-Shannon categorical drift, Herfindahl-Hirschman market
concentration, Cohen's-kappa rater agreement, weekly cohort
retention, bigram-LM perplexity-proxy scoring, and day-of-week
seasonality.

Cross-engine discipline notes specific to this batch:

- q214 is pure integer/array arithmetic (ceil-division chunk counts,
  1-based slices) — identical in any engine by construction; the only
  care point is that both sides use the same non-negative ceil-div
  form ``(max(n-W,0)+S-1) div S + 1`` so the n<=W edge yields exactly
  one chunk without negative-floor asymmetry.
- q215/q217 derive every probability as ONE double division of two
  exact BIGINT counts (bit-identical everywhere); the only libm call
  is q215's ln(), whose ULP noise is absorbed by rounding each
  (p-side / q-side) term at 6 dp BEFORE their sum — adding two 6-dp
  values is exact.
- q216 follows q01's revenue discipline: each line's
  ext*(1-disc) is rounded at 6 and decimal-summed, shares are one
  double division of two decimal-exact totals cast to DOUBLE first
  (DuckDB decimal/decimal division rounds differently than double
  division — cast BEFORE dividing), and share² is rounded at 6 before
  the decimal HHI sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ._util import DEC, collect_literal_row

# ---------------------------------------------------------------------------
# q214 — RAG chunking: split every document into overlapping
# token-window chunks (window W=32 tokens, stride S=24), the standard
# retrieval-corpus preparation step. One pass, zero shuffles until the
# final presentation sort: tokens and chunk offsets are computed
# per-row with array functions, the chunk axis is a posexplode of a
# sequence — never a self-join. At 100 TB this is embarrassingly
# parallel and stays entirely inside whole-stage codegen.
# ---------------------------------------------------------------------------

CHUNK_W = 32
CHUNK_S = 24


@query(
    "q214_rag_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
               FROM documents WHERE doc_id % 5 = 0),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t),
    c AS (SELECT doc_id, toks, n_tok,
                 unnest(generate_series(
                     0, (greatest(n_tok - {CHUNK_W}, 0) + {CHUNK_S - 1})
                            // {CHUNK_S})) AS chunk_idx
          FROM n)
    SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           (chunk_idx * {CHUNK_S})::BIGINT AS chunk_start,
           len(list_slice(toks, chunk_idx * {CHUNK_S} + 1,
                          chunk_idx * {CHUNK_S} + {CHUNK_W}))::BIGINT
               AS n_tokens,
           array_to_string(
               list_slice(toks, chunk_idx * {CHUNK_S} + 1,
                          chunk_idx * {CHUNK_S} + {CHUNK_W}), ' ')
               AS chunk_text
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def q214_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    W, S = CHUNK_W, CHUNK_S
    toks = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.split(F.trim("text"), " ").alias("toks"))
        .withColumn("n_tok", F.size("toks"))
    )
    # non-negative ceil-div: n<=W -> exactly 1 chunk; the last chunk is
    # the (possibly short) tail, matching list_slice truncation.
    n_last = (
        F.floor(
            (F.greatest(F.col("n_tok") - W, F.lit(0)) + F.lit(S - 1)) / S
        )
    ).cast("int")
    return (
        toks.select(
            "doc_id",
            "toks",
            F.posexplode(F.sequence(F.lit(0), n_last)).alias(
                "chunk_idx", "_dup"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * S).cast("long").alias("chunk_start"),
            F.size(F.slice(F.col("toks"), F.col("chunk_idx") * S + 1, W))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_idx") * S + 1, W), " "
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# q215 — Jensen-Shannon divergence between two categorical
# distributions: the p_brand mix of discounted (>= 5%) vs
# non-discounted lineitems. Complements the numeric KS drift screen
# (q176) with the categorical drift screen an LLM-corpus pipeline runs
# on source/domain mixes. Per-brand contribution rows (not just the
# scalar) so the differential proves the whole table. Scale shape:
# part is broadcast; the two distributions come from ONE scan +
# ONE groupBy on (brand, side); the final per-brand pivot is a 25-row
# frame.
# ---------------------------------------------------------------------------


@query(
    "q215_js_divergence",
    oracle="""
    WITH j AS (SELECT p.p_brand AS brand,
                      CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS disc
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    c AS (SELECT brand,
                 SUM(disc)::BIGINT AS n_p,
                 SUM(1 - disc)::BIGINT AS n_q
          FROM j GROUP BY brand),
    tot AS (SELECT SUM(n_p)::BIGINT AS tp, SUM(n_q)::BIGINT AS tq FROM c),
    d AS (SELECT brand, n_p, n_q,
                 n_p::DOUBLE / tp AS p, n_q::DOUBLE / tq AS q
          FROM c, tot)
    SELECT brand, n_p, n_q,
           p AS p_share, q AS q_share,
           ROUND(CASE WHEN n_p = 0 THEN 0.0::DOUBLE
                      ELSE 0.5::DOUBLE * p * ln(p / (0.5::DOUBLE * (p + q)))
                 END, 6)
           + ROUND(CASE WHEN n_q = 0 THEN 0.0::DOUBLE
                        ELSE 0.5::DOUBLE * q * ln(q / (0.5::DOUBLE * (p + q)))
                   END, 6) AS js_contrib
    FROM d
    ORDER BY brand
    """,
)
def q215_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    c = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.when(F.col("l_discount") >= 0.05, F.lit(1))
            .otherwise(F.lit(0))
            .alias("disc"),
        )
        .groupBy("brand")
        .agg(
            F.sum("disc").cast("long").alias("n_p"),
            F.sum(1 - F.col("disc")).cast("long").alias("n_q"),
        )
    )
    # 25-row distribution frame feeds BOTH the totals and the final
    # select — cut lineage so lineitem+part are scanned once, not twice
    c = c.localCheckpoint(eager=False)
    tot = c.agg(
        F.sum("n_p").cast("long").alias("tp"),
        F.sum("n_q").cast("long").alias("tq"),
    )
    p = F.col("n_p").cast("double") / F.col("tp")
    q = F.col("n_q").cast("double") / F.col("tq")
    m = F.lit(0.5) * (p + q)
    term = lambda n, s: F.round(  # noqa: E731
        F.when(n == 0, F.lit(0.0)).otherwise(F.lit(0.5) * s * F.log(s / m)), 6
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "n_p",
            "n_q",
            # raw exact-operand IEEE divisions (safe class, r14);
            # js_contrib keeps ROUND (ln is the libm residual class)
            p.alias("p_share"),
            q.alias("q_share"),
            (term(F.col("n_p"), p) + term(F.col("n_q"), q)).alias(
                "js_contrib"
            ),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# q216 — Herfindahl-Hirschman concentration index: how concentrated is
# lineitem revenue among suppliers, per supplier nation. Complements
# the Gini screen (q210) with the antitrust-style concentration
# measure (sum of squared market shares; 1/n = perfect competition,
# 1.0 = monopoly). Scale shape: one lineitem scan, partial-agg
# shuffle on (nation, supplier) — ~#suppliers rows after the first
# agg; everything downstream is negligible. supplier/nation broadcast.
# ---------------------------------------------------------------------------


@query(
    "q216_hhi_concentration",
    oracle="""
    WITH rev AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
                        ROUND(SUM(CAST(ROUND(
                            l.l_extendedprice * (1 - l.l_discount), 6)
                            AS DECIMAL(28,6))), 6) AS srev
                 FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY s.s_nationkey, l.l_suppkey),
    n AS (SELECT nk, ROUND(SUM(srev), 6) AS nrev,
                 COUNT(*)::BIGINT AS n_suppliers
          FROM rev GROUP BY nk),
    sh AS (SELECT r.nk,
                  ROUND(CAST(r.srev AS DOUBLE) / CAST(n.nrev AS DOUBLE)
                        * (CAST(r.srev AS DOUBLE) / CAST(n.nrev AS DOUBLE)),
                        6) AS share2
           FROM rev r JOIN n USING (nk))
    SELECT nn.n_name AS nation,
           n.n_suppliers,
           CAST(n.nrev AS DOUBLE) AS nation_revenue,
           ROUND(SUM(CAST(sh.share2 AS DECIMAL(28,6))), 6)::DOUBLE AS hhi
    FROM sh
    JOIN n USING (nk)
    JOIN nation nn ON nn.n_nationkey = sh.nk
    GROUP BY nn.n_name, n.n_suppliers, n.nrev
    ORDER BY nation
    """,
)
def q216_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nk"), F.col("l_suppkey").alias("sk")
        )
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                        6,
                    ).cast(DEC)
                ),
                6,
            ).alias("srev")
        )
    )
    # ~#suppliers-row frame feeds the nation totals AND the share join —
    # cut lineage so lineitem+supplier are scanned once, not twice
    rev = rev.localCheckpoint(eager=False)
    ntot = rev.groupBy("nk").agg(
        F.round(F.sum("srev"), 6).alias("nrev"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    share = F.col("srev").cast("double") / F.col("nrev").cast("double")
    return (
        rev.join(F.broadcast(ntot), "nk")
        .select("nk", "nrev", "n_suppliers", F.round(share * share, 6).alias("share2"))
        .groupBy("nk", "nrev", "n_suppliers")
        .agg(F.round(F.sum(F.col("share2").cast(DEC)), 6).cast("double").alias("hhi"))
        .join(F.broadcast(nat), F.col("nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.col("nrev").cast("double").alias("nation_revenue"),
            "hhi",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# q217 — Cohen's kappa: chance-corrected agreement between two binary
# "raters" derived from each lineitem (rater A: the line was returned;
# rater B: the line was discounted >= 5%), per ship year. The
# agreement screen an annotation pipeline runs on double-labeled data.
# Every probability is one double division of exact BIGINT confusion
# counts; kappa = (po - pe) / (1 - pe) is then a fixed sequence of
# IEEE double ops — bit-identical in both engines, shipped RAW (the
# determinism.py safe class; de-ROUNDed round 14). One scan, one
# 7-group shuffle.
# ---------------------------------------------------------------------------


@query(
    "q217_cohens_kappa",
    oracle="""
    WITH r AS (SELECT year(l_shipdate) AS ship_year,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
                      CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b
               FROM lineitem),
    c AS (SELECT ship_year,
                 COUNT(*)::BIGINT AS n,
                 SUM(a * b)::BIGINT AS n11,
                 SUM(a * (1 - b))::BIGINT AS n10,
                 SUM((1 - a) * b)::BIGINT AS n01,
                 SUM((1 - a) * (1 - b))::BIGINT AS n00
          FROM r GROUP BY ship_year),
    k AS (SELECT *,
                 (n11 + n00)::DOUBLE / n AS po,
                 ((n11 + n10)::DOUBLE / n) * ((n11 + n01)::DOUBLE / n)
                 + ((n01 + n00)::DOUBLE / n) * ((n10 + n00)::DOUBLE / n)
                     AS pe
          FROM c)
    SELECT ship_year, n, n11, n10, n01, n00,
           po, pe,
           ((po - pe) / (1 - pe)) AS kappa
    FROM k
    ORDER BY ship_year
    """,
)
def q217_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("ship_year"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("a"),
        F.when(F.col("l_discount") >= 0.05, F.lit(1))
        .otherwise(F.lit(0))
        .alias("b"),
    )
    c = r.groupBy("ship_year").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") / F.col("n")
    ) * ((F.col("n11") + F.col("n01")).cast("double") / F.col("n")) + (
        (F.col("n01") + F.col("n00")).cast("double") / F.col("n")
    ) * ((F.col("n10") + F.col("n00")).cast("double") / F.col("n"))
    return c.select(
        "ship_year",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        # raw: po/pe/kappa are fixed chains of IEEE primitives over
        # exact int64 confusion counts — identical expression trees in
        # both engines are bit-identical (safe class, r14)
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (1 - pe)).alias("kappa"),
    ).orderBy("ship_year")


# ---------------------------------------------------------------------------
# q218 — cohort retention triangle: for each signup cohort week, the
# share of users active again at week-age 0,1,2,... — the classic
# product-analytics companion to the q202 LTV curve (which tracks
# revenue; this tracks presence). WEEKLY grain because the synthetic
# events table spans one calendar month at every SF (TESTDATA.md) —
# weeks give a real triangle where months would collapse to one
# cell — and PURCHASE events only, whose sparser per-user cadence
# yields multiple cohorts with genuinely declining retention (all-event
# activity is so dense every user lands in cohort week 1 at ~1.0); trunc-to-Monday parity: Spark trunc(date,'week') == DuckDB
# date_trunc('week'), so age is an exact multiple-of-7 day diff.
# All integer arithmetic and exact distinct counts; retention is one
# double division. Scale shape: ONE (user,week) distinct collapse up
# front (the exchange carries user-weeks, not raw events), first-week
# and activity then join on user_id — same key, AQE reuses the
# partitioning — and the final cohort×age grid is tiny; cohort sizes
# broadcast.
# ---------------------------------------------------------------------------


@query(
    "q218_cohort_retention",
    oracle="""
    WITH um AS (SELECT DISTINCT user_id,
                       date_trunc('week', CAST(ts AS DATE))::DATE AS w
                FROM events WHERE event_type = 'purchase'),
    f AS (SELECT user_id, MIN(w) AS cohort FROM um GROUP BY user_id),
    coh AS (SELECT cohort, COUNT(*)::BIGINT AS cohort_size
            FROM f GROUP BY cohort),
    act AS (SELECT f.cohort,
                   (date_diff('day', f.cohort, u.w) // 7)::BIGINT
                       AS age_weeks,
                   COUNT(DISTINCT u.user_id)::BIGINT AS n_active
            FROM um u JOIN f USING (user_id)
            GROUP BY f.cohort, age_weeks)
    SELECT a.cohort AS cohort_week, a.age_weeks, c.cohort_size,
           a.n_active,
           (a.n_active::DOUBLE / c.cohort_size) AS retention
    FROM act a JOIN coh c USING (cohort)
    ORDER BY cohort_week, age_weeks
    """,
)
def q218_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    um = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.trunc(F.to_date("ts"), "week").alias("w"))
        .distinct()
    )
    um = um.localCheckpoint(eager=False)  # feeds first-week AND activity
    f = um.groupBy("user_id").agg(F.min("w").alias("cohort"))
    coh = f.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    age = F.floor(F.datediff(F.col("w"), F.col("cohort")) / 7).cast("long")
    act = (
        um.join(f, "user_id")
        .groupBy("cohort", age.alias("age_weeks"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )
    return (
        act.join(F.broadcast(coh), "cohort")
        .select(
            F.col("cohort").alias("cohort_week"),
            "age_weeks",
            "cohort_size",
            "n_active",
            # raw exact-operand IEEE division (safe class, r14)
            (
                F.col("n_active").cast("double") / F.col("cohort_size")
            ).alias("retention"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


# ---------------------------------------------------------------------------
# q219 — bigram language-model scoring: train add-k-smoothed bigram
# probabilities on the corpus, score every document by its average
# log-probability — the KenLM-style perplexity-proxy quality filter of
# LLM data pipelines, reduced to counts (no model binary needed).
# Float discipline: p = (c2 + 0.5) / (c1 + 0.5·V) has exact-integer
# operands and exact 0.5 scaling, so only ln() needs the rounded-
# contribution (6 dp) + decimal-sum treatment; avg is one double
# division. Scale shape: the model is two count tables bounded by the
# (df-capped, in production) vocabulary — broadcast here; at a 100 TB
# corpus with a large V the same joins run as shuffle equi-joins on
# the bigram key, and everything else is per-doc array math.
# ---------------------------------------------------------------------------

_LM_K = 0.5


@query(
    "q219_bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    bg AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
           FROM t, unnest(range(len(toks) - 1)) AS u(i)
           WHERE len(toks) >= 2),
    c2 AS (SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*)::BIGINT AS c1 FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w)::BIGINT AS v
          FROM (SELECT unnest(toks) AS w FROM t)),
    sc AS (SELECT bg.doc_id,
                  ROUND(ln((c2.c2 + {_LM_K}::DOUBLE)
                           / (c1.c1 + {_LM_K}::DOUBLE * v.v)), 6) AS lp
           FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_bigrams,
           ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logp
    FROM sc GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q219_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("toks")
    )
    n = F.size("toks")
    bg = (
        t.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1),
                    F.slice("toks", 2, n - 1),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.0").alias("w1"), F.col("b.1").alias("w2"))
    )
    bg = bg.localCheckpoint(eager=False)  # feeds model counts AND scoring
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    v = t.select(F.explode("toks").alias("w")).agg(
        F.count_distinct("w").cast("long").alias("v")
    )
    lp = F.round(
        F.log(
            (F.col("c2") + F.lit(_LM_K))
            / (F.col("c1") + F.lit(_LM_K) * F.col("v"))
        ),
        6,
    )
    return (
        bg.join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .withColumn("lp", lp)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("lp").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q220 — day-of-week seasonality index of order revenue: average
# revenue of a Monday (…Sunday) relative to the average day overall —
# the quick seasonal-decomposition screen behind staffing/alerting
# baselines. Weekday numbering parity: Spark weekday() and DuckDB
# isodow()-1 both give 0=Monday..6=Sunday. Daily revenues are
# decimal-exact sums; both index divisions happen on doubles cast
# from exact decimals. Scale shape: one orders scan, one day-grain
# map-combined groupBy; everything after is a ≤7-row frame with the
# global total broadcast.
# ---------------------------------------------------------------------------


@query(
    "q220_dow_seasonality",
    oracle="""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                          AS rev
               FROM orders GROUP BY day),
    s AS (SELECT (isodow(day) - 1)::BIGINT AS dow,
                 COUNT(*)::BIGINT AS n_days,
                 ROUND(SUM(rev), 6) AS dow_rev
          FROM d GROUP BY dow),
    t AS (SELECT ROUND(SUM(rev), 6) AS tot, COUNT(*)::BIGINT AS nd FROM d)
    SELECT dow, n_days,
           CAST(dow_rev AS DOUBLE) AS dow_revenue,
           ROUND((CAST(dow_rev AS DOUBLE) / n_days)
                 / (CAST(tot AS DOUBLE) / nd), 6) AS seasonality_index
    FROM s, t
    ORDER BY dow
    """,
)
def q220_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6).alias("rev")
        )
    )
    d = d.localCheckpoint(eager=False)  # feeds dow rollup AND global total
    s = d.groupBy(F.weekday("day").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.sum("rev"), 6).alias("dow_rev"),
    )
    t = d.agg(
        F.round(F.sum("rev"), 6).alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "n_days",
            F.col("dow_rev").cast("double").alias("dow_revenue"),
            F.round(
                (F.col("dow_rev").cast("double") / F.col("n_days"))
                / (F.col("tot").cast("double") / F.col("nd")),
                6,
            ).alias("seasonality_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q223 — V-shape pattern detection in the daily revenue series: days
# that are a strict local minimum with both a drop and a recovery of
# at least 20% — the lag/lead form of MATCH_RECOGNIZE-style pattern
# search (which Spark lacks). Daily revenues are decimal-exact sums;
# the drop/recovery ratios are single double divisions of decimal
# totals rounded at 6. One day-grain exchange, then a 1-partition
# window over |days| rows (~2.4k at sf1 — the series axis, not the
# data axis; a per-entity pattern search would partition by entity).
# ---------------------------------------------------------------------------

_V_DEPTH = 0.2


@query(
    "q223_vshape_patterns",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                          AS rev
               FROM orders GROUP BY day),
    w AS (SELECT day, rev,
                 lag(rev) OVER (ORDER BY day) AS prev_rev,
                 lead(rev) OVER (ORDER BY day) AS next_rev
          FROM d)
    SELECT day,
           CAST(prev_rev AS DOUBLE) AS prev_rev,
           CAST(rev AS DOUBLE) AS rev,
           CAST(next_rev AS DOUBLE) AS next_rev,
           ROUND(1.0 - CAST(rev AS DOUBLE) / CAST(prev_rev AS DOUBLE), 6)
               AS drop_pct,
           ROUND(CAST(next_rev AS DOUBLE) / CAST(rev AS DOUBLE) - 1.0, 6)
               AS recovery_pct
    FROM w
    WHERE prev_rev IS NOT NULL AND next_rev IS NOT NULL
      AND ROUND(1.0 - CAST(rev AS DOUBLE) / CAST(prev_rev AS DOUBLE), 6)
          >= {_V_DEPTH!r}
      AND ROUND(CAST(next_rev AS DOUBLE) / CAST(rev AS DOUBLE) - 1.0, 6)
          >= {_V_DEPTH!r}
    ORDER BY day
    """,
)
def q223_vshape_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6).alias("rev")
        )
    )
    w = Window.orderBy("day")
    ser = d.select(
        "day",
        "rev",
        F.lag("rev").over(w).alias("prev_rev"),
        F.lead("rev").over(w).alias("next_rev"),
    )
    drop = F.round(
        F.lit(1.0)
        - F.col("rev").cast("double") / F.col("prev_rev").cast("double"),
        6,
    )
    rec = F.round(
        F.col("next_rev").cast("double") / F.col("rev").cast("double")
        - F.lit(1.0),
        6,
    )
    return (
        ser.filter(
            F.col("prev_rev").isNotNull() & F.col("next_rev").isNotNull()
        )
        .select(
            "day",
            F.col("prev_rev").cast("double").alias("prev_rev"),
            F.col("rev").cast("double").alias("rev"),
            F.col("next_rev").cast("double").alias("next_rev"),
            drop.alias("drop_pct"),
            rec.alias("recovery_pct"),
        )
        .filter(
            (F.col("drop_pct") >= _V_DEPTH)
            & (F.col("recovery_pct") >= _V_DEPTH)
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q224 — seasonally-adjusted revenue anomalies: divide each day's
# revenue by its day-of-week mean (the q220 index machinery) and flag
# days whose deseasonalized ratio deviates >= 30% from 1 — the
# STL-lite anomaly screen that removes the weekly cycle a plain
# z-score would keep flagging. dow means are exact-decimal sums with
# one double division; the ratio is one more division, rounded at 6.
# Scale shape: one day-grain map-combined exchange; the 7-row dow
# profile broadcasts back onto the day frame.
# ---------------------------------------------------------------------------

_ANOM_DEV = 0.3


@query(
    "q224_deseasonalized_anomalies",
    oracle=f"""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                          AS rev
               FROM orders GROUP BY day),
    s AS (SELECT (isodow(day) - 1)::BIGINT AS dow,
                 ROUND(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 6) AS dow_mean
          FROM d GROUP BY dow),
    r AS (SELECT d.day, CAST(d.rev AS DOUBLE) AS rev, s.dow_mean,
                 ROUND(CAST(d.rev AS DOUBLE) / s.dow_mean, 6) AS ratio
          FROM d JOIN s ON (isodow(d.day) - 1) = s.dow)
    SELECT day, rev, dow_mean, ratio
    FROM r
    WHERE abs(ratio - 1.0) >= {_ANOM_DEV!r}
    ORDER BY day
    """,
)
def q224_deseasonalized_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6).alias("rev")
        )
    )
    d = d.localCheckpoint(eager=False)  # feeds the dow profile AND the scan
    s = d.groupBy(F.weekday("day").cast("long").alias("dow")).agg(
        F.round(
            F.sum("rev").cast("double") / F.count(F.lit(1)), 6
        ).alias("dow_mean")
    )
    ratio = F.round(F.col("rev").cast("double") / F.col("dow_mean"), 6)
    return (
        d.withColumn("dow", F.weekday("day").cast("long"))
        .join(F.broadcast(s), "dow")
        .select(
            "day",
            F.col("rev").cast("double").alias("rev"),
            "dow_mean",
            ratio.alias("ratio"),
        )
        .filter(F.abs(F.col("ratio") - 1.0) >= _ANOM_DEV)
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q225 — CUSUM change-point screen on the daily revenue series: the
# cumulative sum of deviations from the global mean peaks exactly
# where the level shifts; the top-|S| days locate candidate change
# points (classic Page CUSUM, offline form). Exactness: daily
# revenues and the running deviation sum are DECIMAL (associative —
# any partitioning), the mean is one rounded double division, each
# deviation is rounded at 6 before the decimal running sum, so |S|
# comparisons and the top-5 are bit-identical cross-engine. Scale
# shape: one day-grain map-combined exchange; the running-sum window
# runs on the |days| frame (the series axis, bounded ~2.4k rows at
# any SF).
# ---------------------------------------------------------------------------


@query(
    "q225_cusum_changepoint",
    oracle="""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                          AS rev
               FROM orders GROUP BY day),
    m AS (SELECT ROUND(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 6) AS mu
          FROM d),
    s AS (SELECT day,
                 SUM(CAST(ROUND(CAST(rev AS DOUBLE) - m.mu, 6)
                          AS DECIMAL(28,6)))
                     OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cusum
          FROM d, m)
    SELECT day, CAST(cusum AS DOUBLE) AS cusum,
           CASE WHEN cusum >= 0 THEN 'high' ELSE 'low' END AS regime
    FROM s
    ORDER BY abs(cusum) DESC, day
    LIMIT 5
    """,
)
def q225_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6).alias("rev")
        )
    )
    d = d.localCheckpoint(eager=False)  # feeds the mean AND the series
    m = d.agg(
        F.round(
            F.sum("rev").cast("double") / F.count(F.lit(1)), 6
        ).alias("mu")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = (
        d.crossJoin(F.broadcast(m))
        .withColumn(
            "cusum",
            F.sum(
                F.round(F.col("rev").cast("double") - F.col("mu"), 6).cast(
                    DEC
                )
            ).over(w),
        )
    )
    return (
        s.select(
            "day",
            F.col("cusum").cast("double").alias("cusum"),
            F.when(F.col("cusum") >= 0, F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("regime"),
        )
        .orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# q226 — weight-of-evidence / information-value scoring bins: quartile
# bins of l_extendedprice scored against the returned-line target —
# the credit-scoring feature screen (IV ranks predictors before any
# model). Cutoffs are exact global percentiles rounded at 6 in both
# engines (q14/q198 established quantile_cont parity); every share is
# one double division of exact BIGINT counts; the single ln() is
# rounded at 6 BEFORE entering the IV product, whose other factor is
# a deterministic double difference. Scale shape: percentile pass +
# one binning groupBy, 4-row frame after; totals broadcast.
# ---------------------------------------------------------------------------


@query(
    "q226_woe_iv",
    oracle="""
    WITH c AS (SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                      ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
                      ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
               FROM lineitem),
    b AS (SELECT CASE WHEN l_extendedprice <= p25 THEN 'q1'
                      WHEN l_extendedprice <= p50 THEN 'q2'
                      WHEN l_extendedprice <= p75 THEN 'q3'
                      ELSE 'q4' END AS bin,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
          FROM lineitem, c),
    g AS (SELECT bin, COUNT(*)::BIGINT AS n,
                 SUM(1 - bad)::BIGINT AS n_good,
                 SUM(bad)::BIGINT AS n_bad
          FROM b GROUP BY bin),
    t AS (SELECT SUM(n_good)::BIGINT AS gt, SUM(n_bad)::BIGINT AS bt FROM g)
    SELECT bin, n, n_good, n_bad,
           ROUND(ln((n_good::DOUBLE / gt) / (n_bad::DOUBLE / bt)), 6)
               AS woe,
           ROUND((n_good::DOUBLE / gt - n_bad::DOUBLE / bt)
                 * ROUND(ln((n_good::DOUBLE / gt)
                            / (n_bad::DOUBLE / bt)), 6), 6) AS iv_contrib
    FROM g, t
    ORDER BY bin
    """,
)
def q226_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_percentiles_continuous

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("bad"),
    )
    # l_extendedprice is near-unique with a CONSTANT group: the
    # continuous (distributed range-sort rank-lookup) percentile path,
    # not the histogram one, whose single-group rank window would
    # degenerate to a one-task sort of the column at scale. Collected
    # to a 1-row literal (HALF_UP 6-dp via the audited helper) so the
    # binning plan carries 3 doubles, not an operator join tree.
    cuts = collect_literal_row(
        exact_percentiles_continuous(
            load_table(spark, sf_dir, "lineitem").select(
                "l_extendedprice", "l_orderkey", "l_linenumber"
            ),
            "l_extendedprice",
            {"p25": 0.25, "p50": 0.5, "p75": 0.75},
            tiebreak_cols=["l_orderkey", "l_linenumber"],
        )
    )
    g = (
        li.crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("l_extendedprice") <= F.col("p25"), "q1")
            .when(F.col("l_extendedprice") <= F.col("p50"), "q2")
            .when(F.col("l_extendedprice") <= F.col("p75"), "q3")
            .otherwise("q4")
            .alias("bin"),
            "bad",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    g = g.localCheckpoint(eager=False)  # 4-row frame feeds totals + select
    t = g.agg(
        F.sum("n_good").cast("long").alias("gt"),
        F.sum("n_bad").cast("long").alias("bt"),
    )
    gs = F.col("n_good").cast("double") / F.col("gt")
    bs = F.col("n_bad").cast("double") / F.col("bt")
    woe = F.round(F.log(gs / bs), 6)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "n_good",
            "n_bad",
            woe.alias("woe"),
            F.round((gs - bs) * woe, 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q227 — ABC inventory classification: rank parts by revenue, class A
# = parts covering the first 70% of cumulative revenue, B to 90%, C
# the tail. The cumulative share over a GLOBAL descending order is the
# one-task-window cliff — computed here with the distributed prefix
# sum (operators/indexing.py global_running_sum: range partition, one
# bounded totals collect, broadcast offsets). Revenues are DECIMAL
# end-to-end, so the distributed prefix sum is bit-identical to the
# sequential window (decimal addition is associative) — the oracle IS
# that sequential window. One (part) exchange + the range exchange.
# ---------------------------------------------------------------------------


@query(
    "q227_abc_classification",
    oracle="""
    WITH rev AS (SELECT l_partkey AS p,
                        ROUND(SUM(CAST(ROUND(
                            l_extendedprice * (1 - l_discount), 6)
                            AS DECIMAL(28,6))), 6) AS srev
                 FROM lineitem GROUP BY l_partkey),
    t AS (SELECT ROUND(SUM(srev), 6) AS tot FROM rev),
    r AS (SELECT p, srev,
                 SUM(srev) OVER (ORDER BY srev DESC, p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
          FROM rev),
    c AS (SELECT p, srev,
                 CASE WHEN ROUND(CAST(cum AS DOUBLE)
                                 / CAST(t.tot AS DOUBLE), 6) <= 0.7
                          THEN 'A'
                      WHEN ROUND(CAST(cum AS DOUBLE)
                                 / CAST(t.tot AS DOUBLE), 6) <= 0.9
                          THEN 'B'
                      ELSE 'C' END AS abc_class
          FROM r, t)
    SELECT abc_class, COUNT(*)::BIGINT AS n_parts,
           CAST(ROUND(SUM(srev), 6) AS DOUBLE) AS class_revenue,
           MIN(p) AS min_part, MAX(p) AS max_part
    FROM c GROUP BY abc_class ORDER BY abc_class
    """,
)
def q227_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_running_sum

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p"))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                        6,
                    ).cast(DEC)
                ),
                6,
            ).alias("srev")
        )
    )
    rev = rev.localCheckpoint(eager=False)  # feeds total AND prefix sum
    t = rev.agg(F.round(F.sum("srev"), 6).alias("tot"))
    r = global_running_sum(
        rev.withColumn("__neg", -F.col("srev")),
        ["__neg", "p"],
        "srev",
        out_col="cum",
    )
    share = F.round(
        F.col("cum").cast("double") / F.col("tot").cast("double"), 6
    )
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "p",
            "srev",
            F.when(share <= 0.7, "A")
            .when(share <= 0.9, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("srev"), 6)
            .cast("double")
            .alias("class_revenue"),
            F.min("p").alias("min_part"),
            F.max("p").alias("max_part"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# q228 — mutual information between two categoricals: discount band
# (none / low / high) × return flag — the model-free dependence screen
# feature selection runs before training (the two-variable sibling of
# the PMI collocations in q177). Every probability is one double
# division of exact BIGINT counts; each cell's contribution
# p(x,y)·ln(p(x,y)/(p(x)p(y))) is rounded at 6 — per-cell rows, so
# the differential proves the full table, and the MI scalar is their
# exact 6-dp sum. One scan, one 9-cell groupBy; marginals broadcast.
# ---------------------------------------------------------------------------


@query(
    "q228_mutual_information",
    oracle="""
    WITH b AS (SELECT CASE WHEN l_discount = 0.0 THEN 'none'
                           WHEN l_discount <= 0.05 THEN 'low'
                           ELSE 'high' END AS x,
                      l_returnflag AS y
               FROM lineitem),
    cell AS (SELECT x, y, COUNT(*)::BIGINT AS n FROM b GROUP BY x, y),
    mx AS (SELECT x, SUM(n)::BIGINT AS nx FROM cell GROUP BY x),
    my AS (SELECT y, SUM(n)::BIGINT AS ny FROM cell GROUP BY y),
    t AS (SELECT SUM(n)::BIGINT AS nt FROM cell)
    SELECT c.x, c.y, c.n,
           (c.n::DOUBLE / t.nt) AS p_xy,
           (mx.nx::DOUBLE / t.nt) AS p_x,
           (my.ny::DOUBLE / t.nt) AS p_y,
           ROUND((c.n::DOUBLE / t.nt)
                 * ln((c.n::DOUBLE / t.nt)
                      / ((mx.nx::DOUBLE / t.nt)
                         * (my.ny::DOUBLE / t.nt))), 6) AS mi_contrib
    FROM cell c JOIN mx USING (x) JOIN my USING (y), t
    ORDER BY x, y
    """,
)
def q228_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_discount") == 0.0, "none")
        .when(F.col("l_discount") <= 0.05, "low")
        .otherwise("high")
        .alias("x"),
        F.col("l_returnflag").alias("y"),
    )
    cell = b.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cell = cell.localCheckpoint(eager=False)  # feeds marginals + select
    mx = cell.groupBy("x").agg(F.sum("n").cast("long").alias("nx"))
    my = cell.groupBy("y").agg(F.sum("n").cast("long").alias("ny"))
    t = cell.agg(F.sum("n").cast("long").alias("nt"))
    p_xy = F.col("n").cast("double") / F.col("nt")
    p_x = F.col("nx").cast("double") / F.col("nt")
    p_y = F.col("ny").cast("double") / F.col("nt")
    return (
        cell.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(t))
        .select(
            "x",
            "y",
            "n",
            # raw exact-operand IEEE divisions (safe class, r14);
            # mi_contrib keeps ROUND (ln is the libm residual class)
            p_xy.alias("p_xy"),
            p_x.alias("p_x"),
            p_y.alias("p_y"),
            F.round(p_xy * F.log(p_xy / (p_x * p_y)), 6).alias(
                "mi_contrib"
            ),
        )
        .orderBy("x", "y")
    )
