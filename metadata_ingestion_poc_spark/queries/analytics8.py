"""Eleventh analytics batch (round 11, late): distributed model
training reduced to aggregations — multinomial Naive Bayes language
identification (q266).

Cross-engine discipline notes for this batch:

- q266 follows the q219 bigram-LM ln() discipline: every log
  conditional and log prior is an ln() of an exact integer-ratio
  double ROUNDed at 6 dp and cast to decimal ONCE; token-count ×
  log-prob products are DECIMAL(12,0) × DECIMAL(20,6) (exact — the
  widths keep Spark's product precision at 33 < 38, clear of the
  allowPrecisionLoss cap), and per-(doc, label) posteriors are exact
  decimal sums, so argmax, runner-up and margin are engine-
  independent. The ranking tiebreak (score DESC, label ASC) compares
  exact decimals on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ..execution import spread
from ..operators.clustering import (
    HASH_MOD as _KM_HASH_MOD,
    HASH_MULT as _KM_HASH_MULT,
)

# ---------------------------------------------------------------------------
# q266 — Naive Bayes language identification, self-trained on the
# corpus: the fasttext-style lang-ID screen of LLM data pipelines
# reduced to count tables (operators/classify.py). Train = one token
# explode + two bounded groupBys; model = |langs| × |vocab| grid of
# 6-dp log conditionals; score = one token-key join + one
# (doc, lang) exchange + a |langs|-rows-per-doc ranking window.
# Output: per-doc predicted language, exact posterior score, margin
# to the runner-up, and whether the argmax recovers the labeled lang
# (the vocabulary is near-uniform across langs on this synthetic
# corpus, so accuracy is weak — the contract under test is the exact
# posterior table, not the classifier's skill).
# ---------------------------------------------------------------------------


@query(
    "q266_naive_bayes_langid",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    ct AS (SELECT lang, tok, COUNT(*)::BIGINT AS c FROM tk GROUP BY lang, tok),
    tot AS (SELECT lang, SUM(c)::BIGINT AS t FROM ct GROUP BY lang),
    vcb AS (SELECT DISTINCT tok FROM ct),
    v AS (SELECT COUNT(*)::BIGINT AS v FROM vcb),
    grid AS (
      SELECT tot.lang, vcb.tok, tot.t, COALESCE(ct.c, 0)::BIGINT AS c
      FROM tot CROSS JOIN vcb
      LEFT JOIN ct ON ct.lang = tot.lang AND ct.tok = vcb.tok
    ),
    model AS (
      SELECT lang, tok,
             CAST(ROUND(LN((c::DOUBLE + 1.0)
                           / (t::DOUBLE + 1.0 * v.v::DOUBLE)), 6)
                  AS DECIMAL(20,6)) AS lp
      FROM grid, v
    ),
    pri AS (
      SELECT lang,
             CAST(ROUND(LN(COUNT(*)::DOUBLE
                           / (SELECT COUNT(*) FROM documents)::DOUBLE), 6)
                  AS DECIMAL(28,6)) AS pr
      FROM documents GROUP BY lang
    ),
    dt AS (SELECT doc_id, tok, COUNT(*)::DECIMAL(12,0) AS c
           FROM tk GROUP BY doc_id, tok),
    sc AS (
      SELECT dt.doc_id, m.lang, pri.pr + SUM(dt.c * m.lp) AS s
      FROM dt JOIN model m USING (tok) JOIN pri ON pri.lang = m.lang
      GROUP BY dt.doc_id, m.lang, pri.pr
    ),
    rk AS (SELECT doc_id, lang AS pred_lang, s,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, lang) AS rn,
                  LEAD(s) OVER (PARTITION BY doc_id
                                ORDER BY s DESC, lang) AS s2
           FROM sc)
    SELECT d.doc_id,
           d.lang,
           rk.pred_lang,
           ROUND(rk.s::DOUBLE, 6) AS score,
           ROUND((rk.s - rk.s2)::DOUBLE, 6) AS margin,
           (d.lang = rk.pred_lang) AS correct
    FROM rk JOIN documents d USING (doc_id)
    WHERE rk.rn = 1
    ORDER BY d.doc_id
    """,
)
def q266_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import naive_bayes_model, naive_bayes_score
    docs = spread(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )  # reused: train counts, priors, scoring, and the label join-back
    model, priors = naive_bayes_model(docs, "text", "lang", alpha=1.0)
    pred = naive_bayes_score(docs, model, priors, "text", "doc_id", "lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "lang",
            "pred_lang",
            "score",
            "margin",
            (F.col("lang") == F.col("pred_lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q267 — lossless q-gram edit-distance join (entity resolution over a
# dirty catalog): 40-char document prefixes + deterministically
# planted typo variants (one substitution / one deletion / two
# substitutions — all pure substring/concat arithmetic both engines
# replay verbatim), then EVERY pair within levenshtein <= 2 via
# positional q-gram count filtering (operators/fuzzy.py
# qgram_edit_join — Gravano et al. VLDB'01, zero recall loss by
# construction). The oracle is the brute-force levenshtein join, so
# the sweep differentially proves the filter lossless on real data.
# All-integer except the final int distance — no float discipline
# needed.
# ---------------------------------------------------------------------------


@query(
    "q267_qgram_edit_join",
    oracle=r"""
    WITH b AS (
      SELECT doc_id AS id, substring(lower(trim(text)), 1, 40) AS s
      FROM documents
      WHERE doc_id % 4 = 0 AND length(lower(trim(text))) >= 40
    ),
    p AS (SELECT id, s, (id % 38) + 2 AS pos, id % 8 AS m FROM b),
    v1 AS (SELECT id + 100000000 AS id,
                  substring(s, 1, pos - 1) || '#' || substring(s, pos + 1)
                      AS s
           FROM p WHERE m = 0),
    vd AS (SELECT id + 100000000 AS id,
                  substring(s, 1, pos - 1) || substring(s, pos + 1) AS s
           FROM p WHERE m = 4),
    w AS (SELECT id, s, (id % 19) + 2 AS p1, (id % 19) + 21 AS p2
          FROM b WHERE id % 8 = 2),
    v2 AS (SELECT id + 100000000 AS id,
                  substring(s, 1, p1 - 1) || '#'
                  || substring(s, p1 + 1, p2 - p1 - 1) || '%'
                  || substring(s, p2 + 1) AS s
           FROM w),
    c AS (SELECT id, s FROM b
          UNION ALL SELECT id, s FROM v1
          UNION ALL SELECT id, s FROM vd
          UNION ALL SELECT id, s FROM v2)
    SELECT a.id AS id_1, b2.id AS id_2,
           levenshtein(a.s, b2.s)::INT AS dist
    FROM c a JOIN c b2
      ON a.id < b2.id AND abs(length(a.s) - length(b2.s)) <= 2
    WHERE levenshtein(a.s, b2.s) <= 2
    ORDER BY id_1, id_2
    """,
)
def q267_qgram_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import qgram_edit_join

    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim("text")).alias("t"))
        .filter((F.col("doc_id") % 4 == 0) & (F.length("t") >= 40))
        .select(
            F.col("doc_id").alias("id"), F.substring("t", 1, 40).alias("s")
        )
    )
    p = base.selectExpr("id", "s", "(id % 38) + 2 AS pos", "id % 8 AS m")
    v1 = p.filter("m = 0").selectExpr(
        "id + 100000000 AS id",
        "substring(s, 1, pos - 1) || '#' || substring(s, pos + 1) AS s",
    )
    vd = p.filter("m = 4").selectExpr(
        "id + 100000000 AS id",
        "substring(s, 1, pos - 1) || substring(s, pos + 1) AS s",
    )
    v2 = base.filter("id % 8 = 2").selectExpr(
        "id", "s", "(id % 19) + 2 AS p1", "(id % 19) + 21 AS p2"
    ).selectExpr(
        "id + 100000000 AS id",
        "substring(s, 1, p1 - 1) || '#' "
        "|| substring(s, p1 + 1, p2 - p1 - 1) || '%' "
        "|| substring(s, p2 + 1) AS s",
    )
    corpus = base.unionAll(v1).unionAll(vd).unionAll(v2)
    return qgram_edit_join(corpus, "id", "s", max_dist=2, q=2).orderBy(
        "id_1", "id_2"
    )


# ---------------------------------------------------------------------------
# q268 — closed-form ridge regression (normal equations) of
# l_extendedprice on (l_quantity, l_discount): the one-pass
# sufficient-statistics pattern — the ONLY scalable shape for linear
# models at 100 TB (one scan, one 9-value map-combined aggregate,
# zero driver collect; the 3×3 solve is scalar expressions on the
# 1-row stats frame). Float discipline: every input is a true 2-dp
# value, so DECIMAL(14,2) casts are exact, products are exact 4-dp
# decimals, sums are exact — the Gram matrix reaches the solver as
# identical doubles on both engines with NO rounding anywhere, and
# the Cramer/cofactor solve + probe predictions are a fixed scalar
# expression tree (same string on both engines) evaluated in IEEE
# double — bit-identical, emitted RAW (the q265 never-round-a-ratio
# rule, generalized: never round a pure-IEEE-derived output).
# λ penalizes slopes only (intercept row/col of A is unpenalized).
# ---------------------------------------------------------------------------

_RIDGE_L = "CAST(1000.0 AS DOUBLE)"


def _ridge_w() -> dict[str, str]:
    a11 = f"(s11 + {_RIDGE_L})"
    a22 = f"(s22 + {_RIDGE_L})"
    det = (
        f"(n * ({a11} * {a22} - s12 * s12)"
        f" - s1 * (s1 * {a22} - s12 * s2)"
        f" + s2 * (s1 * s12 - {a11} * s2))"
    )
    det0 = (
        f"(sy * ({a11} * {a22} - s12 * s12)"
        f" - s1 * (s1y * {a22} - s12 * s2y)"
        f" + s2 * (s1y * s12 - {a11} * s2y))"
    )
    det1 = (
        f"(n * (s1y * {a22} - s12 * s2y)"
        f" - sy * (s1 * {a22} - s12 * s2)"
        f" + s2 * (s1 * s2y - s1y * s2))"
    )
    det2 = (
        f"(n * ({a11} * s2y - s1y * s12)"
        f" - s1 * (s1 * s2y - s1y * s2)"
        f" + sy * (s1 * s12 - {a11} * s2))"
    )
    return {
        "w0": f"({det0} / {det})",
        "w1": f"({det1} / {det})",
        "w2": f"({det2} / {det})",
    }


_RIDGE_PROBES = [
    ("pred_q10_d05", "10.0", "0.05"),
    ("pred_q25_d00", "25.0", "0.0"),
    ("pred_q50_d10", "50.0", "0.10"),
]


def _ridge_pred(qty: str, disc: str) -> str:
    return (
        f"w0 + w1 * CAST({qty} AS DOUBLE) + w2 * CAST({disc} AS DOUBLE)"
    )


_W = _ridge_w()


def _ridge_fit(xy: DataFrame) -> DataFrame:
    """1-row (w0, w1, w2) frame from an (x1, x2, y) decimal frame.

    NOTE: the q268 oracle replays the same formula strings, so a
    cofactor sign error would pass the sweep on both engines at once —
    tests/test_ridge.py cross-checks the solve against numpy."""
    st = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
    )
    return st.selectExpr(
        f"{_W['w0']} AS w0", f"{_W['w1']} AS w1", f"{_W['w2']} AS w2"
    )


@query(
    "q268_ridge_closed_form",
    oracle=f"""
    WITH r AS (SELECT l_quantity::DECIMAL(14,2) AS x1,
                      l_discount::DECIMAL(14,2) AS x2,
                      l_extendedprice::DECIMAL(14,2) AS y
               FROM lineitem),
    st AS (SELECT COUNT(*)::DOUBLE AS n,
                  (SUM(x1))::DOUBLE AS s1,
                  (SUM(x2))::DOUBLE AS s2,
                  (SUM(y))::DOUBLE AS sy,
                  (SUM(x1 * x1))::DOUBLE AS s11,
                  (SUM(x1 * x2))::DOUBLE AS s12,
                  (SUM(x2 * x2))::DOUBLE AS s22,
                  (SUM(x1 * y))::DOUBLE AS s1y,
                  (SUM(x2 * y))::DOUBLE AS s2y
           FROM r),
    w AS (SELECT {_W["w0"]} AS w0, {_W["w1"]} AS w1, {_W["w2"]} AS w2
          FROM st)
    SELECT 'intercept' AS term, w0 AS value FROM w
    UNION ALL SELECT 'l_quantity', w1 FROM w
    UNION ALL SELECT 'l_discount', w2 FROM w
    UNION ALL SELECT '{_RIDGE_PROBES[0][0]}',
                     {_ridge_pred(_RIDGE_PROBES[0][1], _RIDGE_PROBES[0][2])}
              FROM w
    UNION ALL SELECT '{_RIDGE_PROBES[1][0]}',
                     {_ridge_pred(_RIDGE_PROBES[1][1], _RIDGE_PROBES[1][2])}
              FROM w
    UNION ALL SELECT '{_RIDGE_PROBES[2][0]}',
                     {_ridge_pred(_RIDGE_PROBES[2][1], _RIDGE_PROBES[2][2])}
              FROM w
    ORDER BY term
    """,
)
def q268_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(14,2)").alias("x1"),
        F.col("l_discount").cast("decimal(14,2)").alias("x2"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("y"),
    )
    w = _ridge_fit(li)
    stack_args = [
        "'intercept', w0",
        "'l_quantity', w1",
        "'l_discount', w2",
    ] + [
        f"'{name}', {_ridge_pred(q, d)}" for name, q, d in _RIDGE_PROBES
    ]
    return w.selectExpr(
        f"stack(6, {', '.join(stack_args)}) AS (term, value)"
    ).orderBy("term")


# ---------------------------------------------------------------------------
# q269 — logistic regression by full-batch gradient descent
# (operators/classify.py logreg_gd): learn a planted linear decision
# boundary over lineitem features. Every numeric column in this
# generator is hash-uniform (corr(qty, price) ≈ 0.003 — probed before
# writing, the q259 rule), so the label is PLANTED: the sign of a
# known linear score of the features plus deterministic integer-grid
# noise, computed from the identical expression string on both
# engines — GD then genuinely learns the boundary (accuracy 0.50 →
# 0.93 across the census). The oracle replays all four iterations as
# unrolled MATERIALIZED CTEs (the q242 Lloyd pattern): per-row
# sigmoid terms ROUNDed at 6 dp before exact decimal gradient sums,
# weight updates as the identical IEEE expression ROUNDed at 6 dp,
# confusion counts on the sign of the identical double z, accuracy
# as a RAW bigint/bigint division.
# ---------------------------------------------------------------------------

_LR_X1 = "((l_quantity - 25.5) / 25.0)"
_LR_X2 = "((l_discount - 0.05) * 20.0)"
# The planted label's comparison is ALL-INTEGER (hardened round 13
# after the q276 driver reds): the float score
#   2·(qty−25.5)/25 − (disc−0.05)·20 + ((7·ok+ln)%11 − 5)/10 > 0
# scaled by 50 is  4·qty − 52 − 10·disĉ + 5·k > 0  with
# disĉ = FLOOR(disc·100 + 0.5) (the house integer-grid rule) — an
# integer predicate is bit-identical on every engine and every engine
# VERSION, where the float chain's sign flips on knife-edge rows
# whenever a literal parses as DECIMAL on one engine (DuckDB) and
# DOUBLE on the other. The label VALUES stay 1.0/0.0 doubles for the
# downstream GD arithmetic.
_LR_Y = (
    "CASE WHEN 4 * CAST(l_quantity AS INT) - 52"
    " - 10 * CAST(FLOOR(l_discount * 100 + 0.5) AS INT)"
    " + 5 * (CAST((l_orderkey * 7 + l_linenumber) % 11 AS INT) - 5)"
    " > 0 THEN 1.0 ELSE 0.0 END"
)
_LR_ETA = 0.5
_LR_ITERS = 4


def _logreg_prefix(iters: int) -> str:
    """Unrolled GD replay through the trained-weights CTE t{iters}.

    q269 appends the census tail; q271/q272 append scoring tails that
    reference only t{iters} (DuckDB prunes the then-unreferenced
    final stats CTE)."""
    sql = f"""
    WITH base AS MATERIALIZED (
        SELECT {_LR_X1} AS x1, {_LR_X2} AS x2, {_LR_Y} AS y
        FROM lineitem),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM base),
    t0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                  CAST(0.0 AS DOUBLE) AS w2)"""
    for i in range(iters + 1):
        z = "(w.w0 + w.w1 * b.x1 + w.w2 * b.x2)"
        sig = f"(1.0 / (1.0 + exp(-{z})))"
        sql += f""",
    s{i} AS MATERIALIZED (
        SELECT SUM(CAST(ROUND(({sig} - b.y) * 1.0, 6)
                        AS DECIMAL(28,6))) AS g0,
               SUM(CAST(ROUND(({sig} - b.y) * b.x1, 6)
                        AS DECIMAL(28,6))) AS g1,
               SUM(CAST(ROUND(({sig} - b.y) * b.x2, 6)
                        AS DECIMAL(28,6))) AS g2,
               SUM(CASE WHEN {z} > 0 AND b.y = 1.0
                        THEN 1 ELSE 0 END)::BIGINT AS tp,
               SUM(CASE WHEN {z} > 0 AND b.y = 0.0
                        THEN 1 ELSE 0 END)::BIGINT AS fp,
               SUM(CASE WHEN NOT ({z} > 0) AND b.y = 0.0
                        THEN 1 ELSE 0 END)::BIGINT AS tn,
               SUM(CASE WHEN NOT ({z} > 0) AND b.y = 1.0
                        THEN 1 ELSE 0 END)::BIGINT AS fn
        FROM base b, t{i} w)"""
        if i < iters:
            sql += f""",
    t{i + 1} AS (
        SELECT ROUND(w.w0 - {_LR_ETA} * (s.g0::DOUBLE / nn.n), 6) AS w0,
               ROUND(w.w1 - {_LR_ETA} * (s.g1::DOUBLE / nn.n), 6) AS w1,
               ROUND(w.w2 - {_LR_ETA} * (s.g2::DOUBLE / nn.n), 6) AS w2
        FROM t{i} w, s{i} s, nn)"""
    return sql


def _logreg_oracle(iters: int) -> str:
    rows = [
        f"""
    SELECT {i}::INT AS iter, w.w0, w.w1, w.w2, s.tp, s.fp, s.tn, s.fn,
           CAST(s.tp + s.tn AS DOUBLE) / CAST(nn.n AS DOUBLE) AS accuracy
    FROM t{i} w, s{i} s, nn"""
        for i in range(iters + 1)
    ]
    return (
        _logreg_prefix(iters)
        + "\n    UNION ALL".join(rows)
        + "\n    ORDER BY iter"
    )


@query("q269_logreg_gd", oracle=_logreg_oracle(_LR_ITERS))
def q269_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import logreg_gd

    li = load_table(spark, sf_dir, "lineitem")
    return logreg_gd(li, _LR_X1, _LR_X2, _LR_Y, _LR_ETA, _LR_ITERS)


# ---------------------------------------------------------------------------
# q270 — split-conformal prediction intervals for order totals: a
# per-priority mean model fit on the train split, the conformal
# radius = ceil(0.9·(n_cal+1))-th smallest |residual| on the
# calibration split (the standard finite-sample-valid split-conformal
# quantile), and empirical coverage measured on the held-out test
# split. Splits are 60/20/20 by the audited id hash. Float
# discipline: o_totalprice is true 2-dp, so the train mean is an
# exact decimal sum over one IEEE division (raw double, identical
# both engines); |y − mu| and the radius are identical raw doubles;
# the rank k is pure integer arithmetic; coverage is a RAW
# bigint/bigint division. Scale shape: the per-group order statistic
# uses global_row_number's range-partitioned sort over
# (grp, absres) — EVERY group spreads across all partitions, so
# there is no per-group single-task sort cliff (the q226 lesson) —
# plus one bounded per-group (rn0, n_cal) rollup; train/test passes
# are map-combined aggregates against broadcast per-group frames.
# Truncation contract: a group whose calibration rank exceeds n_cal
# drops out on both engines (never happens at these SFs: k <= n_cal
# whenever n_cal >= 9).
# ---------------------------------------------------------------------------


def _cf_split(col: str) -> str:
    return (
        f"CASE WHEN ((({col} % {_KM_HASH_MOD}) * {_KM_HASH_MULT})"
        f" % {_KM_HASH_MOD}) % 10 < 6 THEN 'train'"
        f" WHEN ((({col} % {_KM_HASH_MOD}) * {_KM_HASH_MULT})"
        f" % {_KM_HASH_MOD}) % 10 < 8 THEN 'cal' ELSE 'test' END"
    )


@query(
    "q270_conformal_interval",
    oracle=f"""
    WITH o AS (SELECT o_orderpriority AS grp, o_orderkey AS k,
                      o_totalprice AS y,
                      {_cf_split('o_orderkey')} AS split
               FROM orders),
    tr AS (SELECT grp, COUNT(*)::BIGINT AS n_train,
                  (SUM(y::DECIMAL(18,2)))::DOUBLE / COUNT(*) AS mu
           FROM o WHERE split = 'train' GROUP BY grp),
    cal AS (SELECT o.grp, abs(o.y - tr.mu) AS absres, o.k
            FROM o JOIN tr ON tr.grp = o.grp WHERE o.split = 'cal'),
    rk AS (SELECT grp, absres,
                  ROW_NUMBER() OVER (PARTITION BY grp
                                     ORDER BY absres, k) AS rn,
                  COUNT(*) OVER (PARTITION BY grp)::BIGINT AS n_cal
           FROM cal),
    rad AS (SELECT grp, n_cal, absres AS radius
            FROM rk WHERE rn = (9 * (n_cal + 1) + 9) // 10),
    te AS (SELECT o.grp, abs(o.y - tr.mu) AS absres
           FROM o JOIN tr ON tr.grp = o.grp WHERE o.split = 'test'),
    agg AS (SELECT t.grp, COUNT(*)::BIGINT AS n_test,
                   SUM(CASE WHEN t.absres <= rad.radius
                            THEN 1 ELSE 0 END)::BIGINT AS covered
            FROM te t JOIN rad ON rad.grp = t.grp GROUP BY t.grp)
    SELECT tr.grp AS o_orderpriority, tr.n_train, rad.n_cal, a.n_test,
           tr.mu, rad.radius, a.covered,
           CAST(a.covered AS DOUBLE) / CAST(a.n_test AS DOUBLE)
               AS coverage
    FROM tr JOIN rad ON rad.grp = tr.grp JOIN agg a ON a.grp = tr.grp
    ORDER BY o_orderpriority
    """,
)
def q270_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_row_number

    o = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderpriority AS grp",
            "o_orderkey AS k",
            "o_totalprice AS y",
            f"{_cf_split('o_orderkey')} AS split",
        )
        .localCheckpoint(eager=False)  # reused by all three splits
    )
    tr = (
        o.filter("split = 'train'")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            (
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu"),
        )
    )
    cal = (
        o.filter("split = 'cal'")
        .join(F.broadcast(tr.select("grp", "mu")), "grp")
        .select("grp", F.abs(F.col("y") - F.col("mu")).alias("absres"), "k")
    )
    rk = global_row_number(cal, ["grp", "absres", "k"], "rn")
    targets = (
        rk.groupBy("grp")
        .agg(
            F.min("rn").alias("rn0"),
            F.count(F.lit(1)).cast("long").alias("n_cal"),
        )
        .selectExpr(
            "grp",
            "n_cal",
            "rn0 + ((9 * (n_cal + 1) + 9) DIV 10) - 1 AS target_rn",
        )
    )
    rad = (
        rk.join(F.broadcast(targets), "grp")
        .filter(F.col("rn") == F.col("target_rn"))
        .select("grp", "n_cal", F.col("absres").alias("radius"))
    )
    te = (
        o.filter("split = 'test'")
        .join(F.broadcast(tr.select("grp", "mu")), "grp")
        .join(F.broadcast(rad), "grp")
    )
    return (
        te.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("mu")) <= F.col("radius"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("covered"),
        )
        .join(F.broadcast(tr), "grp")
        .join(F.broadcast(rad.select("grp", "n_cal", "radius")), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_train",
            "n_cal",
            "n_test",
            "mu",
            "radius",
            "covered",
            (
                F.col("covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q271 — exact ROC AUC of the q269 logistic scorer, by the
# Mann-Whitney rank-sum identity with midrank ties
# (operators/classify.py auc_rank_sum): 2·R⁺ is an integer by the
# tied-group formula n⁺_g·(2·offset + size + 1), so everything stays
# integer until ONE raw double division. Scores are identical IEEE
# doubles on both engines (fixed expression of the replayed 6-dp
# weights), so score-equality groups and their order match exactly.
# The oracle re-runs the full GD replay prefix and scores with the
# trained-weights CTE. Scale note in the operator docstring: the
# distinct-score frame here is bounded by the feature grid
# (50 quantities × 11 discounts); a continuous score would ride
# global_running_sum instead of the tiny single-partition window.
# ---------------------------------------------------------------------------


@query(
    "q271_logreg_auc",
    oracle=_logreg_prefix(_LR_ITERS)
    + f""",
    sc AS MATERIALIZED (
        SELECT (1.0 / (1.0 + exp(-(w.w0 + w.w1 * b.x1 + w.w2 * b.x2))))
                   AS p,
               b.y
        FROM base b, t{_LR_ITERS} w),
    g AS (SELECT p,
                 SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS np,
                 SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)::BIGINT AS nn2
          FROM sc GROUP BY p),
    r AS (SELECT np, nn2,
                 COALESCE(SUM(np + nn2) OVER (
                     ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0)::BIGINT AS cumb
          FROM g),
    s AS (SELECT SUM(np * (2 * cumb + np + nn2 + 1))::BIGINT AS rs2,
                 SUM(np)::BIGINT AS n_pos,
                 SUM(nn2)::BIGINT AS n_neg,
                 COUNT(*)::BIGINT AS n_scores
          FROM r)
    SELECT n_pos, n_neg, n_scores,
           CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM s
    """,
)
def q271_logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import auc_rank_sum, gd_train

    li = load_table(spark, sf_dir, "lineitem")
    _, w, _, b = gd_train(li, _LR_X1, _LR_X2, _LR_Y, _LR_ETA, _LR_ITERS)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    scored = b.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"), "y"
    )
    return auc_rank_sum(scored, "p", "y")


# ---------------------------------------------------------------------------
# q272 — calibration (reliability) bins of the q269 logistic scorer:
# predicted probability binned into fixed deciles (floor(p·10)
# clamped to 9 — an integer function of the identical double p), per
# bin the observed positive rate vs the mean predicted probability,
# plus the Brier-style gap. Per-bin mean predictions are exact
# decimal sums of 6-dp-rounded p over one RAW double division; rates
# are raw bigint/bigint. One extra scan after training; the bin
# rollup is a map-combined 10-group aggregate — nothing about this
# changes at 100 TB.
# ---------------------------------------------------------------------------


@query(
    "q272_logreg_calibration",
    oracle=_logreg_prefix(_LR_ITERS)
    + f""",
    sc AS (
        SELECT (1.0 / (1.0 + exp(-(w.w0 + w.w1 * b.x1 + w.w2 * b.x2))))
                   AS p,
               b.y
        FROM base b, t{_LR_ITERS} w)
    SELECT LEAST(FLOOR(p * 10.0), 9)::INT AS bin,
           COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
           CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
           CAST(SUM(CAST(ROUND(p, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_pred
    FROM sc
    GROUP BY bin
    ORDER BY bin
    """,
)
def q272_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import gd_train
    from ..functions.determinism import DEC

    li = load_table(spark, sf_dir, "lineitem")
    _, w, _, b = gd_train(li, _LR_X1, _LR_X2, _LR_Y, _LR_ETA, _LR_ITERS)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    sc = b.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"), "y"
    )
    pos = F.sum(F.when(F.col("y") == F.lit(1.0), 1).otherwise(0)).cast(
        "long"
    )
    return (
        sc.groupBy(
            F.least(F.floor(F.col("p") * 10.0), F.lit(9))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pos.alias("n_pos"),
            (pos.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "pos_rate"
            ),
            (
                F.sum(F.round(F.col("p"), 6).cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_pred"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q273 — 5-fold cross-validated ridge regression from ONE data scan:
# per-fold sufficient statistics (the q268 Gram entries, grouped by
# the audited id-hash fold) are computed in a single map-combined
# aggregate; each fold's LEAVE-FOLD-OUT Gram matrix is the exact
# decimal difference total − fold, so all five training solves fall
# out of one pass — the only scalable shape for CV at 100 TB (naive
# CV rescans the corpus k times). The five solves reuse the q268
# Cramer formulas on a 5-row frame; held-out MSE is a second scan
# with the fold's weights joined back by fold id (5-row broadcast,
# never collected). Float discipline: decimal Gram entries subtract
# exactly, solves and predictions are fixed IEEE expression trees,
# per-row squared residuals are ROUNDed at 6 dp before the exact
# decimal sum, and MSE is a RAW double division. Residuals are
# scaled to THOUSANDS before squaring (mse_k = mean((res/1000)²)):
# raw squared residuals reach 1e10, where the 6-dp grid sits BELOW
# the double's ulp and Spark/DuckDB ROUND diverge by 1 ulp (caught
# by the first sf0.001 differential run of this query — the
# big-magnitude cousin of the 5e-7 tie trap); at ~50² the grid is
# eight orders above ulp and the rounding is engine-exact.
# ---------------------------------------------------------------------------


def _cv_fold(col: str) -> str:
    return (
        f"(((({col} % {_KM_HASH_MOD}) * {_KM_HASH_MULT})"
        f" % {_KM_HASH_MOD}) % 5)"
    )


_CV_STATS = [
    ("n", "COUNT(*)::DECIMAL(20,2)"),
    ("s1", "SUM(x1)"),
    ("s2", "SUM(x2)"),
    ("sy", "SUM(y)"),
    ("s11", "SUM(x1 * x1)"),
    ("s12", "SUM(x1 * x2)"),
    ("s22", "SUM(x2 * x2)"),
    ("s1y", "SUM(x1 * y)"),
    ("s2y", "SUM(x2 * y)"),
]


@query(
    "q273_ridge_cv",
    oracle=f"""
    WITH r AS (SELECT l_quantity::DECIMAL(14,2) AS x1,
                      l_discount::DECIMAL(14,2) AS x2,
                      l_extendedprice::DECIMAL(14,2) AS y,
                      {_cv_fold('l_orderkey * 10 + l_linenumber')} AS fold
               FROM lineitem),
    fs AS (SELECT fold,
                  {", ".join(f"{expr} AS {name}" for name, expr in _CV_STATS)}
           FROM r GROUP BY fold),
    tot AS (SELECT {", ".join(f"SUM({name}) AS {name}" for name, _ in _CV_STATS)}
            FROM fs),
    loo AS (SELECT fs.fold,
                   {", ".join(
                       f"CAST(tot.{name} - fs.{name} AS DOUBLE) AS {name}"
                       for name, _ in _CV_STATS
                   )}
            FROM fs, tot),
    w AS (SELECT fold, {_W["w0"]} AS w0, {_W["w1"]} AS w1, {_W["w2"]} AS w2
          FROM loo),
    te AS (SELECT r.fold,
                  COUNT(*)::BIGINT AS n_test,
                  SUM(CAST(ROUND(
                      ((r.y::DOUBLE - (w.w0 + w.w1 * r.x1::DOUBLE
                                       + w.w2 * r.x2::DOUBLE)) / 1000.0)
                      * ((r.y::DOUBLE - (w.w0 + w.w1 * r.x1::DOUBLE
                                         + w.w2 * r.x2::DOUBLE)) / 1000.0),
                      6) AS DECIMAL(38,6))) AS sse
           FROM r JOIN w ON w.fold = r.fold
           GROUP BY r.fold)
    SELECT te.fold::INT AS fold, te.n_test, w.w0, w.w1, w.w2,
           CAST(te.sse AS DOUBLE) / CAST(te.n_test AS DOUBLE) AS mse_k
    FROM te JOIN w ON w.fold = te.fold
    ORDER BY fold
    """,
)
def q273_ridge_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.determinism import DEC

    r = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_quantity AS q",
            "l_discount AS d",
            "l_extendedprice AS p",
            f"{_cv_fold('l_orderkey * 10 + l_linenumber')} AS fold",
        )
        .select(
            F.col("q").cast("decimal(14,2)").alias("x1"),
            F.col("d").cast("decimal(14,2)").alias("x2"),
            F.col("p").cast("decimal(14,2)").alias("y"),
            "fold",
        )
    )
    # spread before the checkpoint (the classify.py gd_train note)
    r = spread(r).localCheckpoint(
        eager=False
    )  # reused: fold stats + eval scan
    fs = r.groupBy("fold").agg(
        F.count(F.lit(1)).cast("decimal(20,2)").alias("n"),
        *[
            F.sum(F.expr(expr[4:-1])).alias(name)
            for name, expr in _CV_STATS[1:]
        ],
    )
    fs = fs.localCheckpoint(eager=False)  # reused: totals + loo
    tot = fs.agg(
        *[F.sum(name).alias(name) for name, _ in _CV_STATS]
    )
    loo = fs.crossJoin(F.broadcast(tot.select(
        *[F.col(name).alias(f"t_{name}") for name, _ in _CV_STATS]
    ))).select(
        "fold",
        *[
            (F.col(f"t_{name}") - F.col(name)).cast("double").alias(name)
            for name, _ in _CV_STATS
        ],
    )
    w = loo.selectExpr(
        "fold",
        f"{_W['w0']} AS w0",
        f"{_W['w1']} AS w1",
        f"{_W['w2']} AS w2",
    )
    pred = F.col("w0") + F.col("w1") * F.col("x1").cast("double") + F.col(
        "w2"
    ) * F.col("x2").cast("double")
    res = (F.col("y").cast("double") - pred) / F.lit(1000.0)
    te = (
        r.join(F.broadcast(w), "fold")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.round(res * res, 6).cast("decimal(38,6)")).alias("sse"),
        )
    )
    return (
        te.join(F.broadcast(w), "fold")
        .select(
            F.col("fold").cast("int").alias("fold"),
            "n_test",
            "w0",
            "w1",
            "w2",
            (
                F.col("sse").cast("double") / F.col("n_test").cast("double")
            ).alias("mse_k"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q274 — Holt linear-trend exponential smoothing of per-priority daily
# revenue (operators/forecast.py holt_linear): the forecasting member
# of the time-series family (q224 deseasonalizes, q225 changepoints,
# q240 autocorrelates — none extrapolates). Sequential in time but
# parallel across series, so the distributed shape is one
# (priority, day) rollup + one collect_list per group bounded by the
# ~2.4k-day orders calendar (the q237 boundedness argument) + one
# aggregate() codegen fold per group — no UDF, no driver loop; a
# billion keys scale out linearly. Float discipline: the ENTIRE
# smoothing state is exact decimal (alpha/beta as DECIMAL(8,6)
# literals, level/trend re-rounded to DECIMAL(20,6) per step —
# decimal ROUND is half-away-from-zero on BOTH engines, with no
# binary-representation tie hazard; a double-state draft of this
# query lost one 1e-6 grid step to exactly that tie on the sf0.001
# MAE — see operators/forecast.py); one-step |errors| are exact
# decimals summed exactly, MAE is ONE raw double division, and the
# 7-step forecast level + 7·trend is computed in decimal and cast to
# double once. The oracle replays the identical trajectory as a
# recursive CTE stepping rn → rn + 1 per priority.
# ---------------------------------------------------------------------------


@query(
    "q274_holt_forecast",
    oracle=r"""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT o_orderpriority AS priority, o_orderdate AS dd,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                  AS DECIMAL(20,6)) AS y
      FROM orders GROUP BY 1, 2),
    b AS MATERIALIZED (
      SELECT priority, y,
             ROW_NUMBER() OVER (PARTITION BY priority ORDER BY dd) AS rn
      FROM d),
    n AS (SELECT priority, COUNT(*)::BIGINT AS n_days FROM b GROUP BY 1),
    rec AS (
      SELECT priority, rn, y AS l, CAST(0 AS DECIMAL(20,6)) AS tr,
             CAST(0 AS DECIMAL(28,6)) AS sae
      FROM b WHERE rn = 1
      UNION ALL
      SELECT b.priority, b.rn,
             CAST(ROUND(CAST(0.3 AS DECIMAL(8,6)) * b.y
                        + CAST(0.7 AS DECIMAL(8,6)) * (r.l + r.tr), 6)
                  AS DECIMAL(20,6)),
             CAST(ROUND(CAST(0.1 AS DECIMAL(8,6))
                        * (CAST(ROUND(CAST(0.3 AS DECIMAL(8,6)) * b.y
                                      + CAST(0.7 AS DECIMAL(8,6))
                                        * (r.l + r.tr), 6)
                                AS DECIMAL(20,6)) - r.l)
                        + CAST(0.9 AS DECIMAL(8,6)) * r.tr, 6)
                  AS DECIMAL(20,6)),
             CAST(r.sae + CAST(ABS(b.y - (r.l + r.tr)) AS DECIMAL(22,6))
                  AS DECIMAL(28,6))
      FROM rec r JOIN b ON b.priority = r.priority AND b.rn = r.rn + 1)
    SELECT r.priority,
           n.n_days,
           CAST(r.l AS DOUBLE) AS level,
           CAST(r.tr AS DOUBLE) AS trend,
           r.sae::DOUBLE / (n.n_days - 1)::DOUBLE AS mae,
           CAST(r.l + CAST(7 AS DECIMAL(6,0)) * r.tr AS DOUBLE) AS forecast
    FROM rec r JOIN n ON n.priority = r.priority
    WHERE r.rn = n.n_days
    ORDER BY r.priority
    """,
)
def q274_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forecast import holt_linear

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("y")
        )
    )
    fit = holt_linear(
        daily, "o_orderpriority", "o_orderdate", "y",
        alpha=0.3, beta=0.1, horizon=7,
    )
    return fit.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n_points").cast("long").alias("n_days"),
        "level",
        "trend",
        "mae",
        "forecast",
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# q275 — differentially-private-style noisy release of the corpus
# composition table: per-(source, lang) document counts and CLIPPED
# character mass, each perturbed by Laplace noise via the exact
# inverse CDF. The mechanism is the real thing — contribution
# clipping bounds the sensitivity (one document moves the clipped
# char sum by at most the 300-char clip, and a count by 1), the
# epsilon budget composes across the two releases (0.5 + 0.5 = 1.0),
# and the noise scale is sensitivity/epsilon (2 for counts, 600 for
# chars) — but the randomness is a DETERMINISTIC id-hash uniform (the
# q256 A-ES compromise: replayability over secrecy; a production
# release would draw real randomness and drop the true columns this
# query keeps for the differential gate). Noise seeds are the group's
# min(doc_id) for the count draw and max(doc_id) for the char draw.
# Float discipline: u is an exact integer-ratio double, the inverse
# CDF is a fixed IEEE expression of u on both engines, and the noisy
# values are RAW doubles (the q268 never-round-IEEE rule — no
# cross-row float sums exist here; the only sums are exact integer
# counts). Scale: ONE map-combined group rollup; the release frame is
# bounded by |sources| × |langs|, never by the corpus.
# ---------------------------------------------------------------------------


def _lap_noise(u: str, scale: float) -> str:
    """Inverse-CDF Laplace(0, scale) of a uniform expression string.

    The ln() is ROUNDed at 6 dp before scaling (the q256 discipline —
    Java Math.log and C std::log legally differ in the last ulp), so
    the noise sits on a deterministic scale/1e6 grid."""
    return (
        f"CASE WHEN {u} >= CAST(0.5 AS DOUBLE)"
        f" THEN -CAST({scale} AS DOUBLE)"
        f" * ROUND(LN(CAST(1.0 AS DOUBLE)"
        f" - CAST(2.0 AS DOUBLE) * ({u} - CAST(0.5 AS DOUBLE))), 6)"
        f" ELSE CAST({scale} AS DOUBLE)"
        f" * ROUND(LN(CAST(1.0 AS DOUBLE)"
        f" - CAST(2.0 AS DOUBLE) * (CAST(0.5 AS DOUBLE) - {u})), 6) END"
    )


def _hash_u(seed: str) -> str:
    """The audited Knuth multiplicative hash → uniform in (0, 1).

    Every numeric literal is CAST to DOUBLE explicitly: DuckDB parses
    bare `1.0` as DECIMAL, and a decimal-typed uniform diverges from
    Spark's double arithmetic (caught by this query's first sf0.001
    differential)."""
    return (
        f"(CAST((({seed} % {_KM_HASH_MOD}) * {_KM_HASH_MULT})"
        f" % {_KM_HASH_MOD} + 1 AS DOUBLE)"
        f" / CAST({_KM_HASH_MOD + 1} AS DOUBLE))"
    )


_DP_CLIP = 300
_DP_B_COUNT = 2.0  # sensitivity 1 / epsilon 0.5
_DP_B_CHARS = 600.0  # sensitivity 300 / epsilon 0.5


@query(
    "q275_dp_noisy_release",
    oracle=f"""
    WITH g AS (
      SELECT source, lang,
             COUNT(*)::BIGINT AS n_docs,
             SUM(LEAST(n_chars, {_DP_CLIP}))::BIGINT AS clipped_chars,
             MIN(doc_id) AS s1, MAX(doc_id) AS s2
      FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, clipped_chars,
           CAST(n_docs AS DOUBLE)
             + {_lap_noise(_hash_u("s1"), _DP_B_COUNT)} AS noisy_docs,
           CAST(clipped_chars AS DOUBLE)
             + {_lap_noise(_hash_u("s2"), _DP_B_CHARS)} AS noisy_chars
    FROM g
    ORDER BY source, lang
    """,
)
def q275_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.least(F.col("n_chars"), F.lit(_DP_CLIP)))
            .cast("long")
            .alias("clipped_chars"),
            F.min("doc_id").alias("s1"),
            F.max("doc_id").alias("s2"),
        )
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "clipped_chars",
        F.expr(
            "CAST(n_docs AS DOUBLE) + "
            + _lap_noise(_hash_u("s1"), _DP_B_COUNT)
        ).alias("noisy_docs"),
        F.expr(
            "CAST(clipped_chars AS DOUBLE) + "
            + _lap_noise(_hash_u("s2"), _DP_B_CHARS)
        ).alias("noisy_chars"),
    ).orderBy("source", "lang")


# ---------------------------------------------------------------------------
# q276 — exact greedy decision-stump split finding over the q269
# planted label: the histogram split-search primitive of every
# distributed tree learner (XGBoost/LightGBM hist mode), reduced to
# its Spark-native shape — ONE map-combined (feature, value) count
# rollup (the only data-sized exchange), then cumulative counts and
# Gini gains over the VALUE GRID (50 quantities + 11 discounts; the
# per-feature window runs on a grid-bounded frame, never on rows).
# The full threshold sweep is emitted, not just the argmax, so the
# differential covers every candidate split's left/right counts and
# gain. Float discipline (re-hardened round 13 after TWO consecutive
# driver reds proved that ROUND(chain, 6) is NOT version-portable —
# DuckDB's ROUND(double) implementation itself changed across
# releases, and the closest gain sat 3.3e-9 from a 6-dp boundary):
# every hashed cell is now EXACT. The Gini gain ships as the exact
# rational pair
#   gain_num = 2·(pos·(n−pos)·nl·nr − pos_l·(nl−pos_l)·n·nr
#                − pos_r·(nr−pos_r)·n·nl)
#   gain_den = n²·nl·nr
# computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact to sf1
# and beyond (|num| ≤ 2n⁴/16 < 10³⁸ for n ≤ 10⁹) — and EMITTED AS
# STRINGS: integer→string renders identically on every engine, while
# a DECIMAL(38,0) output cell degrades to float64 in duckdb's pandas
# path (probed: duckdb 1.0 .df() returns 1.23e+26 for a 27-digit
# decimal) and to decimal.Decimal in Spark's, so the string form is
# the only representation every canonicalizer hashes identically.
# The best-split rank is FLOAT-FREE as of round 14 (third driver red
# adjudicated): it no longer touches CAST(num AS DOUBLE)/CAST(den AS
# DOUBLE) at all — the round-13 rule claimed int→double conversion is
# correctly rounded, but that guarantee only covers operands ≤ 64
# bits; HUGEINT/DECIMAL(38,0)→double is implementation-defined (DuckDB
# converts upper·2^64 + lower with double rounding), exactly the
# surface the rank exercised. Instead the rank key is the first 18
# fractional decimal digits of gnum/gden, extracted by two exact
# integer divisions (kd1 = ⌊gnum·10⁹/gden⌋, kd2 = the next 9 digits
# of the remainder): Spark's `div` on DECIMAL(38,0) is BigDecimal
# divideToIntegralValue and DuckDB's `//` on HUGEINT is exact integer
# division — verified bit-identical (and equal to Python's //) for
# 25-digit operands. Gini gain ≥ 0 (children impurity ≤ parent by
# concavity), so truncation-direction conventions never differ.
# Ordering by (kd1 DESC, kd2 DESC, threshold) equals ordering by the
# 18-digit key with a threshold tie-break; an 18-digit tie falls to
# the threshold identically in both engines. Overflow headroom: the
# widest intermediate is gden·10⁹ ≤ n⁴·10⁹ < 10³⁸ for n ≤ 1.7·10⁷
# rows (≈ sf2.8); beyond that shrink the per-stage step to 10⁶.
# Discount grid keys keep the FLOOR(x*100 + 0.5) integer derivation
# (never ROUND/CAST on a raw double: DuckDB CASTs double->INT by
# rounding while Spark truncates).
#
# q276a/q276b (round 14) are DIAGNOSTIC BISECTION sub-queries for the
# three-round driver red: q276a emits only the split counts (the cell
# class shared with the driver-green q269 family), q276b adds the
# exact rational gain strings, q276 adds the ranked `best` flag. The
# three per-query driver verdicts partition the output into
# (counts | gain strings | best) and localize any divergent cell
# class empirically instead of guessing a fourth fix.
#
# ROOT CAUSE (round 15, adjudicated by the q276a bisection): the
# divergence was never in the math — it was the OUTPUT TYPE of the
# count cells. DuckDB's SUM over BIGINT returns HUGEINT, so the
# oracle's cumulative counts (nl/pos_l/n_tot/pos_tot and everything
# derived from them) reached the driver's pandas canonicalizer as
# HUGEINT, which duckdb's .df() degrades to float64 ("30143.0"),
# while Spark emits int64 ("30143") — every row hash-mismatches
# while rowcount and schema match, exactly the observed signature.
# The local mirror used .fetchall() (Python ints on both sides) and
# therefore could not see it. Fix: CAST the window sums to BIGINT in
# the oracle's `cum` CTE (values unchanged and exact — counts are
# far below 2^63); tools/check.py now hard-fails any oracle whose
# DESCRIBE output carries HUGEINT/DECIMAL/unsigned columns so this
# class cannot recur.
# ---------------------------------------------------------------------------

# shared numerator/denominator templates — one string, two engines;
# {d} is the wide-integer cast target (DECIMAL(38,0) / HUGEINT)
_STUMP_NUM = (
    "(CAST(2 AS {d}) * ("
    "CAST(pos_tot AS {d}) * (n_tot - pos_tot) * nl * (n_tot - nl)"
    " - CAST(pos_l AS {d}) * (nl - pos_l) * n_tot * (n_tot - nl)"
    " - CAST(pos_tot - pos_l AS {d})"
    " * (n_tot - nl - pos_tot + pos_l) * n_tot * nl))"
)
_STUMP_DEN = "(CAST(n_tot AS {d}) * n_tot * nl * (n_tot - nl))"

# exact digit-extraction rank key: kd1 = first 9 fractional decimal
# digits of gnum/gden, kd2 = the next 9 — both pure integer division
# ({div} = `div` on DECIMAL(38,0) in Spark, `//` on HUGEINT in DuckDB)
_STUMP_KD1 = "((gnum * CAST(1000000000 AS {d})) {div} gden)"
_STUMP_KD2 = (
    "(((gnum * CAST(1000000000 AS {d})"
    " - CAST({kd1} AS {d}) * gden) * CAST(1000000000 AS {d}))"
    " {div} gden)"
)

# shared oracle prefix: everything up to the per-split sweep frame
_STUMP_ORACLE_CTE = f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(l_quantity AS INT) AS qty,
             CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS disc,
             CAST({_LR_Y} AS INT) AS y
      FROM lineitem),
    melted AS (
      SELECT 'l_quantity' AS feature, qty AS v, y FROM base
      UNION ALL
      SELECT 'l_discount' AS feature, disc AS v, y FROM base),
    hist AS (
      SELECT feature, v, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS pos
      FROM melted GROUP BY 1, 2),
    cum AS (
      SELECT feature, v,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(pos) OVER w AS BIGINT) AS pos_l,
             CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS n_tot,
             CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS pos_tot
      FROM hist
      WINDOW w AS (PARTITION BY feature ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    sweep AS (
      SELECT feature, v AS threshold,
             nl AS n_left, pos_l AS pos_left,
             n_tot - nl AS n_right, pos_tot - pos_l AS pos_right,
             {_STUMP_NUM.format(d="HUGEINT")} AS gnum,
             {_STUMP_DEN.format(d="HUGEINT")} AS gden
      FROM cum WHERE nl < n_tot)
"""


def _stump_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the oracle's ``sweep`` CTE: one map-combined
    (feature, value) count rollup, cumulative counts over the value
    grid, exact rational Gini gain per candidate split."""
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS INT) AS qty",
        "CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS disc",
        f"CAST({_LR_Y} AS INT) AS y",
    )
    melted = base.selectExpr(
        "stack(2, 'l_quantity', qty, 'l_discount', disc) AS (feature, v)",
        "y",
    )
    hist = melted.groupBy("feature", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pos_l"),
        F.sum("n").over(wt).alias("n_tot"),
        F.sum("pos").over(wt).alias("pos_tot"),
    )
    return cum.filter(F.col("nl") < F.col("n_tot")).select(
        "feature",
        F.col("v").alias("threshold"),
        F.col("nl").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
        (F.col("n_tot") - F.col("nl")).alias("n_right"),
        (F.col("pos_tot") - F.col("pos_l")).alias("pos_right"),
        F.expr(_STUMP_NUM.format(d="DECIMAL(38,0)")).alias("gnum"),
        F.expr(_STUMP_DEN.format(d="DECIMAL(38,0)")).alias("gden"),
    )


@query(
    "q276a_stump_counts",
    oracle=_STUMP_ORACLE_CTE
    + """
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right
    FROM sweep
    ORDER BY feature, threshold
    """,
)
def q276a_stump_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic slice 1/3: the split counts only — the exact cell
    class shared with the driver-green q269/q271/q272/q279 family."""
    return (
        _stump_sweep(spark, sf_dir)
        .select(
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
        )
        .orderBy("feature", "threshold")
    )


@query(
    "q276b_stump_gains",
    oracle=_STUMP_ORACLE_CTE
    + """
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
           CAST(gnum AS VARCHAR) AS gain_num,
           CAST(gden AS VARCHAR) AS gain_den
    FROM sweep
    ORDER BY feature, threshold
    """,
)
def q276b_stump_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic slice 2/3: counts plus the exact rational gain
    string pair, without the ranked ``best`` flag."""
    return (
        _stump_sweep(spark, sf_dir)
        .select(
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.col("gnum").cast("string").alias("gain_num"),
            F.col("gden").cast("string").alias("gain_den"),
        )
        .orderBy("feature", "threshold")
    )


_STUMP_KD1_DUCK = _STUMP_KD1.format(d="HUGEINT", div="//")
_STUMP_KD2_DUCK = _STUMP_KD2.format(
    d="HUGEINT", div="//", kd1=_STUMP_KD1_DUCK
)
_STUMP_KD1_SPARK = _STUMP_KD1.format(d="DECIMAL(38,0)", div="div")
_STUMP_KD2_SPARK = _STUMP_KD2.format(
    d="DECIMAL(38,0)", div="div", kd1=_STUMP_KD1_SPARK
)


@query(
    "q276_decision_stump",
    oracle=_STUMP_ORACLE_CTE
    + f"""
    , keyed AS (
      SELECT *, {_STUMP_KD1_DUCK} AS kd1, {_STUMP_KD2_DUCK} AS kd2
      FROM sweep)
    SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
           CAST(gnum AS VARCHAR) AS gain_num,
           CAST(gden AS VARCHAR) AS gain_den,
           (ROW_NUMBER() OVER (
              PARTITION BY feature
              ORDER BY kd1 DESC, kd2 DESC, threshold) = 1)
             AS best
    FROM keyed
    ORDER BY feature, threshold
    """,
)
def q276_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    keyed = (
        _stump_sweep(spark, sf_dir)
        .withColumn("kd1", F.expr(_STUMP_KD1_SPARK))
        .withColumn("kd2", F.expr(_STUMP_KD2_SPARK))
    )
    rk = Window.partitionBy("feature").orderBy(
        F.col("kd1").desc(), F.col("kd2").desc(), F.col("threshold")
    )
    return (
        keyed.withColumn("best", F.row_number().over(rk) == 1)
        .select(
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            F.col("gnum").cast("string").alias("gain_num"),
            F.col("gden").cast("string").alias("gain_den"),
            "best",
        )
        .orderBy("feature", "threshold")
    )


# ---------------------------------------------------------------------------
# q277 — one ALS user-step over the purchase matrix: the alternating-
# least-squares recommender primitive (Koren et al.) in its
# distributed shape — with item factors FIXED, every user's rank-2
# factor vector is an independent closed-form ridge solve, so the
# whole step is ONE ratings⋈item-factors join + ONE per-user
# map-combined Gram rollup + scalar Cramer expressions (the q268
# pattern per key; the symmetric item-step is the same plan with the
# roles swapped, which is exactly why ALS scales where SGD's shared
# hot model does not). Item factors are deterministic 6-dp
# hash-uniform decimals, so every Gram entry is an EXACT decimal sum
# (products of 6-dp decimals are exact 12-dp decimals — the q246
# discipline); the 2×2 solve and the per-user RMSE division/sqrt are
# fixed IEEE expressions of those exact decimals (RAW doubles, q268
# rule); squared residuals are 6-dp-rounded before their exact
# decimal sum (the q269 sigmoid-term pattern — the residual mixes a
# raw-double factor with decimal item vectors). Output: the 20
# heaviest raters' factors and fit diagnostics; ranking by
# (n_ratings DESC, custkey) is all-integer. λ = 1 keeps every solve
# nonsingular (a user with one item has a rank-1 Gram).
# ---------------------------------------------------------------------------


_ALS_LAMBDA = 1


def _als_item_factor(seed: str, which: int) -> str:
    """Deterministic 6-dp item factor in [-0.5, 0.5): the audited
    hash uniform re-seeded per component, rounded onto the decimal
    grid so downstream Gram sums are exact."""
    shifted = f"({seed} + {which * 1000000007})"
    return (
        f"CAST(ROUND({_hash_u(shifted)} - CAST(0.5 AS DOUBLE), 6)"
        " AS DECIMAL(10,6))"
    )


@query(
    "q277_als_user_step",
    oracle=f"""
    WITH itemf AS MATERIALIZED (
      SELECT p_partkey,
             {_als_item_factor("p_partkey", 1)} AS q1,
             {_als_item_factor("p_partkey", 2)} AS q2
      FROM part),
    r AS MATERIALIZED (
      SELECT o.o_custkey AS custkey, i.q1, i.q2,
             CAST(l.l_quantity AS DECIMAL(4,0)) AS rating
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN itemf i ON l.l_partkey = i.p_partkey),
    gram AS (
      SELECT custkey, COUNT(*)::BIGINT AS n_ratings,
             SUM(q1 * q1) AS g11, SUM(q1 * q2) AS g12,
             SUM(q2 * q2) AS g22,
             SUM(rating * q1) AS b1, SUM(rating * q2) AS b2
      FROM r GROUP BY custkey),
    top AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_ratings DESC, custkey)
               AS rk
        FROM gram) WHERE rk <= 20),
    w AS (
      SELECT custkey, n_ratings, rk,
             ((CAST(g22 AS DOUBLE) + {_ALS_LAMBDA}) * CAST(b1 AS DOUBLE)
              - CAST(g12 AS DOUBLE) * CAST(b2 AS DOUBLE))
             / ((CAST(g11 AS DOUBLE) + {_ALS_LAMBDA})
                * (CAST(g22 AS DOUBLE) + {_ALS_LAMBDA})
                - CAST(g12 AS DOUBLE) * CAST(g12 AS DOUBLE)) AS w1,
             ((CAST(g11 AS DOUBLE) + {_ALS_LAMBDA}) * CAST(b2 AS DOUBLE)
              - CAST(g12 AS DOUBLE) * CAST(b1 AS DOUBLE))
             / ((CAST(g11 AS DOUBLE) + {_ALS_LAMBDA})
                * (CAST(g22 AS DOUBLE) + {_ALS_LAMBDA})
                - CAST(g12 AS DOUBLE) * CAST(g12 AS DOUBLE)) AS w2
      FROM top),
    res AS (
      SELECT r.custkey,
             SUM(CAST(ROUND(
               (CAST(r.rating AS DOUBLE)
                - w.w1 * CAST(r.q1 AS DOUBLE)
                - w.w2 * CAST(r.q2 AS DOUBLE))
               * (CAST(r.rating AS DOUBLE)
                  - w.w1 * CAST(r.q1 AS DOUBLE)
                  - w.w2 * CAST(r.q2 AS DOUBLE)), 6)
               AS DECIMAL(28,6))) AS sse
      FROM r JOIN w ON r.custkey = w.custkey
      GROUP BY r.custkey)
    SELECT w.custkey, w.n_ratings, w.w1, w.w2,
           SQRT(res.sse::DOUBLE / w.n_ratings::DOUBLE) AS rmse
    FROM w JOIN res ON w.custkey = res.custkey
    ORDER BY w.n_ratings DESC, w.custkey
    """,
)
def q277_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    itemf = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        f"{_als_item_factor('p_partkey', 1)} AS q1",
        f"{_als_item_factor('p_partkey', 2)} AS q2",
    )
    ratings = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(itemf), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("o_custkey").alias("custkey"),
            "q1",
            "q2",
            F.col("l_quantity").cast("decimal(4,0)").alias("rating"),
        )
        .localCheckpoint(eager=False)  # reused: Gram pass + residual pass
    )
    gram = ratings.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_ratings"),
        F.sum(F.expr("q1 * q1")).alias("g11"),
        F.sum(F.expr("q1 * q2")).alias("g12"),
        F.sum(F.expr("q2 * q2")).alias("g22"),
        F.sum(F.expr("rating * q1")).alias("b1"),
        F.sum(F.expr("rating * q2")).alias("b2"),
    )
    # TakeOrderedAndProject (per-partition top-k + merge), never a
    # single-partition row_number window — gram is customer-sized
    top = gram.orderBy(F.col("n_ratings").desc(), F.col("custkey")).limit(20)
    det = (
        f"((CAST(g11 AS DOUBLE) + {_ALS_LAMBDA})"
        f" * (CAST(g22 AS DOUBLE) + {_ALS_LAMBDA})"
        " - CAST(g12 AS DOUBLE) * CAST(g12 AS DOUBLE))"
    )
    w = top.selectExpr(
        "custkey",
        "n_ratings",
        f"((CAST(g22 AS DOUBLE) + {_ALS_LAMBDA}) * CAST(b1 AS DOUBLE)"
        f" - CAST(g12 AS DOUBLE) * CAST(b2 AS DOUBLE)) / {det} AS w1",
        f"((CAST(g11 AS DOUBLE) + {_ALS_LAMBDA}) * CAST(b2 AS DOUBLE)"
        f" - CAST(g12 AS DOUBLE) * CAST(b1 AS DOUBLE)) / {det} AS w2",
    )
    resid = (
        "(CAST(rating AS DOUBLE) - w1 * CAST(q1 AS DOUBLE)"
        " - w2 * CAST(q2 AS DOUBLE))"
    )
    res = (
        ratings.join(F.broadcast(w), "custkey")
        .groupBy("custkey")
        .agg(
            F.sum(
                F.expr(f"CAST(ROUND({resid} * {resid}, 6) AS DECIMAL(28,6))")
            ).alias("sse")
        )
    )
    return (
        w.join(res, "custkey")
        .select(
            "custkey",
            "n_ratings",
            "w1",
            "w2",
            F.sqrt(
                F.col("sse").cast("double")
                / F.col("n_ratings").cast("double")
            ).alias("rmse"),
        )
        .orderBy(F.col("n_ratings").desc(), "custkey")
    )


# ---------------------------------------------------------------------------
# q278 — distributed BPE merge training (operators/bpe.py): the
# tokenizer-construction loop itself, run for 6 merges over the
# corpus word-frequency table. The scale story is the operator's
# whole point: after ONE tokenizing scan, every merge round runs on
# the (word, count) table — bounded by the vocabulary, never the
# corpus — as one pair-count aggregation + one map-only replace-chain
# rewrite. The merge trajectory (winning pair, its corpus-weighted
# adjacency count, and the post-merge symbol census) is all-integer /
# string — NO float discipline anywhere, the only such training loop
# in the registry. The oracle unrolls all 6 rounds as MATERIALIZED
# CTEs with the winning pair as a 1-row LIMIT CTE (the q261
# scalar-threshold pattern) and applies the IDENTICAL 6-pass
# non-overlapping replace chain, so both engines execute the same
# merge semantics by construction.
# ---------------------------------------------------------------------------


_BPE_ROUNDS = 6
_BPE_PASSES = 6


def _bpe_oracle(rounds: int, passes: int) -> str:
    rep = "w.s"
    for _ in range(passes):
        rep = (
            f"replace({rep}, '|' || t.s1 || '|' || t.s2 || '|',"
            " '|' || t.s1 || t.s2 || '|')"
        )
    sql = r"""
    WITH w0 AS MATERIALIZED (
      SELECT '|' || regexp_replace(word, '(.)', '\1|', 'g') AS s,
             COUNT(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                   AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word)"""
    for r in range(1, rounds + 1):
        sql += f""",
    p{r} AS (
      SELECT a[i] AS s1, a[i + 1] AS s2, SUM(cnt)::BIGINT AS c
      FROM (SELECT string_split(trim(s, '|'), '|') AS a, cnt
            FROM w{r - 1}),
           unnest(generate_series(1, greatest(len(a) - 1, 0))) AS g(i)
      GROUP BY 1, 2),
    t{r} AS (SELECT s1, s2, c FROM p{r}
             ORDER BY c DESC, s1, s2 LIMIT 1),
    w{r} AS MATERIALIZED (
      SELECT {rep} AS s, w.cnt FROM w{r - 1} w, t{r} t),
    r{r} AS (
      SELECT {r}::BIGINT AS round, t.s1 AS pair_a, t.s2 AS pair_b,
             t.c AS pair_count,
             (SELECT SUM(cnt * len(string_split(trim(s, '|'), '|')))::BIGINT
              FROM w{r}) AS total_symbols,
             (SELECT COUNT(DISTINCT sym)::BIGINT
              FROM (SELECT unnest(string_split(trim(s, '|'), '|')) AS sym
                    FROM w{r})) AS distinct_symbols
      FROM t{r} t)"""
    unions = "\n    UNION ALL ".join(
        f"SELECT * FROM r{r}" for r in range(1, rounds + 1)
    )
    return sql + f"\n    {unions}\n    ORDER BY round"


@query("q278_bpe_merge_train", oracle=_bpe_oracle(_BPE_ROUNDS, _BPE_PASSES))
def q278_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    traj = bpe_train(
        docs, "text", rounds=_BPE_ROUNDS, passes=_BPE_PASSES
    )
    return spark.createDataFrame(
        traj,
        "round long, pair_a string, pair_b string, pair_count long,"
        " total_symbols long, distinct_symbols long",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# q279 — exact isotonic calibration of the q269 logistic scorer: the
# monotone-regression complement of q272's fixed-decile reliability
# bins (isotonic regression IS the standard model-calibration method
# when deciles are too coarse). Instead of the sequential
# pool-adjacent-violators stack — which does not distribute — the
# fitted values come from the closed-form minimax identity
# fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k]), computed entirely
# on the DISTINCT-SCORE GRID: one data-sized (score) rollup, then a
# grid² pair frame (the score grid is bounded by the 50×11 feature
# grid, so pairs are ~150k rows — never data-sized), one reverse
# running-min window per j, one max-group per i. Float discipline:
# interval means are RAW bigint/bigint doubles (exact integer prefix
# sums subtract exactly), and min/max over identical doubles are
# engine-independent — no rounding anywhere. The oracle shares the
# GD replay prefix and replays the same minimax windows. A
# from-scratch PAV reference pins the minimax identity in
# tests/test_analytics8.py.
# ---------------------------------------------------------------------------


@query(
    "q279_isotonic_calibration",
    oracle=_logreg_prefix(_LR_ITERS)
    + f""",
    sc AS (
        SELECT (w.w0 + w.w1 * b.x1 + w.w2 * b.x2) AS z, b.y
        FROM base b, t{_LR_ITERS} w),
    hist AS (
        SELECT z, COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS pos
        FROM sc GROUP BY z),
    pref AS (
        SELECT z, n, pos,
               ROW_NUMBER() OVER (ORDER BY z) AS rn,
               SUM(n) OVER (ORDER BY z) AS cn,
               SUM(pos) OVER (ORDER BY z) AS cp
        FROM hist),
    pairs AS (
        SELECT j.rn AS j, k.rn AS i,
               CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
                 / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg
        FROM pref j JOIN pref k ON j.rn <= k.rn),
    inner_min AS (
        SELECT j, i,
               MIN(avg) OVER (PARTITION BY j ORDER BY i DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS m
        FROM pairs),
    fit AS (SELECT i, MAX(m) AS fitted FROM inner_min GROUP BY i)
    SELECT p.rn AS score_rank, p.z AS score, p.n, p.pos AS n_pos,
           CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS raw_rate,
           f.fitted
    FROM pref p JOIN fit f ON p.rn = f.i
    ORDER BY score_rank
    """,
)
def q279_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.classify import gd_train

    li = load_table(spark, sf_dir, "lineitem")
    _, w, _, b = gd_train(li, _LR_X1, _LR_X2, _LR_Y, _LR_ETA, _LR_ITERS)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    hist = (
        b.select(z.alias("z"), "y")
        .groupBy("z")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("y") == F.lit(1.0), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    wz = Window.orderBy("z")
    pref = hist.select(
        "z",
        "n",
        "pos",
        F.row_number().over(wz).alias("rn"),
        F.sum("n").over(wz).alias("cn"),
        F.sum("pos").over(wz).alias("cp"),
    ).localCheckpoint(eager=False)  # reused: j side, k side, final join
    j = pref.select(
        F.col("rn").alias("j"),
        (F.col("cn") - F.col("n")).alias("nj1"),
        (F.col("cp") - F.col("pos")).alias("sj1"),
    )
    k = pref.select(
        F.col("rn").alias("i"), F.col("cn").alias("nk"),
        F.col("cp").alias("sk"),
    )
    pairs = j.join(k, F.col("j") <= F.col("i")).select(
        "j",
        "i",
        (
            (F.col("sk") - F.col("sj1")).cast("double")
            / (F.col("nk") - F.col("nj1")).cast("double")
        ).alias("avg"),
    )
    wmin = (
        Window.partitionBy("j")
        .orderBy(F.col("i").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fit = (
        pairs.withColumn("m", F.min("avg").over(wmin))
        .groupBy("i")
        .agg(F.max("m").alias("fitted"))
    )
    return (
        pref.join(fit, pref["rn"] == fit["i"])
        .select(
            F.col("rn").alias("score_rank"),
            F.col("z").alias("score"),
            "n",
            F.col("pos").alias("n_pos"),
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            "fitted",
        )
        .orderBy("score_rank")
    )


# ---------------------------------------------------------------------------
# q280 — Fellegi-Sunter probabilistic record linkage: the
# entity-resolution scorer that complements the DISTANCE-based fuzzy
# joins (q140/q267) with field-agreement WEIGHTS. A dirty
# re-registration of every third customer is planted (deterministic
# name typo on even keys, nation shift on keys % 20 = 0, balance
# re-rounded on keys % 5 = 0 — all integer/substring arithmetic both
# engines replay). u-probabilities (chance agreement between RANDOM
# records) come from the classical frequency-marginal identity
# u_f = Σ_v n_v² / N² — computed as EXACT integer Σn² per field (one
# bounded rollup each; never a random-pair sample), folded into the
# pair frame as a broadcast 1-row integer frame (the q203 scalar
# pattern). m-probabilities are fixed documented priors. Duplicate
# ids are the NEGATIVE mirror -(custkey) - 1, which cannot collide
# with real keys at ANY scale (an additive offset would collide past
# its magnitude), and the truth label a.id + b.id = -1 is exact: two
# originals sum to >= 1, two mirrors to <= -3, and an
# (orig c1, mirror of c2) pair sums to -1 iff c1 = c2. Agreement /
# disagreement weights are ln(m/u) and ln((1-m)/(1-u)) ROUNDed at
# 6 dp into decimals (the q219 ln discipline), so pattern scores are
# exact decimal sums. Candidate pairs are BLOCKED on
# (nationkey, mktsegment) — the classic recall tradeoff: a planted
# pair whose nation was shifted falls out of its block, and the test
# pins that measured recall loss. Output is the pattern-level census
# (agreement pattern, pair count, true-pair count, score), bounded by
# 2^4 patterns. Scale: one |block|²-bounded self-join (block sizes
# are data-dependent but segment × nation blocking keeps them ~N/125
# here; the skew lever is the same as dedup.py's), plus four
# field-cardinality-bounded rollups.
# ---------------------------------------------------------------------------


_FS_M = {"name": 0.7, "nation": 0.95, "seg": 0.98, "bal": 0.6}

_FS_DUP_FIELDS = {
    # deterministic dirty re-registration of every third customer
    "name": (
        "CASE WHEN c_custkey % 2 = 0 THEN"
        " substring(c_name, 1, 11) || '#'"
        " || substring(c_name, 13) ELSE c_name END"
    ),
    "nation": (
        "CASE WHEN c_custkey % 20 = 0 THEN (c_nationkey + 1) % 25"
        " ELSE c_nationkey END"
    ),
    "bal": (
        "CASE WHEN c_custkey % 5 = 0 THEN"
        " CAST(FLOOR(c_acctbal) AS DOUBLE) ELSE c_acctbal END"
    ),
}


def _fs_weight(field: str, agree: str) -> str:
    """ln(m/u) / ln((1-m)/(1-u)) folded over the integer u stats:
    u = sq_<f> / N² arrives as exact integers in the broadcast row."""
    m = _FS_M[field]
    u = (
        f"(CAST(sq_{field} AS DOUBLE)"
        " / (CAST(nrec AS DOUBLE) * CAST(nrec AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {agree}"
        f" THEN CAST(ROUND(LN(CAST({m} AS DOUBLE) / {u}), 6)"
        " AS DECIMAL(18,6))"
        f" ELSE CAST(ROUND(LN(CAST({1.0 - m} AS DOUBLE)"
        f" / (CAST(1.0 AS DOUBLE) - {u})), 6) AS DECIMAL(18,6)) END"
    )


_FS_SCORE = (
    _fs_weight("name", "a_name = b_name")
    + " + " + _fs_weight("nation", "a_nation = b_nation")
    + " + " + _fs_weight("seg", "a_seg = b_seg")
    + " + " + _fs_weight("bal", "a_balband = b_balband")
)

_FS_PATTERN = (
    "CASE WHEN a_name = b_name THEN '1' ELSE '0' END"
    " || CASE WHEN a_nation = b_nation THEN '1' ELSE '0' END"
    " || CASE WHEN a_seg = b_seg THEN '1' ELSE '0' END"
    " || CASE WHEN a_balband = b_balband THEN '1' ELSE '0' END"
)


@query(
    "q280_fs_record_linkage",
    oracle=f"""
    WITH recs AS MATERIALIZED (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
             c_mktsegment AS seg,
             CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS balband,
             c_nationkey AS blk_n, c_mktsegment AS blk_s
      FROM customer
      UNION ALL
      SELECT -c_custkey - 1,
             {_FS_DUP_FIELDS["name"]},
             {_FS_DUP_FIELDS["nation"]},
             c_mktsegment,
             CAST(FLOOR(({_FS_DUP_FIELDS["bal"]}) / 100.0) AS BIGINT),
             {_FS_DUP_FIELDS["nation"]}, c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0),
    u AS (
      SELECT (SELECT COUNT(*) FROM recs)::BIGINT AS nrec,
             (SELECT SUM(c * c) FROM (SELECT COUNT(*)::BIGINT AS c
              FROM recs GROUP BY name))::BIGINT AS sq_name,
             (SELECT SUM(c * c) FROM (SELECT COUNT(*)::BIGINT AS c
              FROM recs GROUP BY nation))::BIGINT AS sq_nation,
             (SELECT SUM(c * c) FROM (SELECT COUNT(*)::BIGINT AS c
              FROM recs GROUP BY seg))::BIGINT AS sq_seg,
             (SELECT SUM(c * c) FROM (SELECT COUNT(*)::BIGINT AS c
              FROM recs GROUP BY balband))::BIGINT AS sq_bal),
    pairs AS (
      SELECT a.name AS a_name, b.name AS b_name,
             a.nation AS a_nation, b.nation AS b_nation,
             a.seg AS a_seg, b.seg AS b_seg,
             a.balband AS a_balband, b.balband AS b_balband,
             (a.id + b.id = -1) AS is_true
      FROM recs a JOIN recs b
        ON a.blk_n = b.blk_n AND a.blk_s = b.blk_s AND a.id < b.id)
    SELECT {_FS_PATTERN} AS pattern,
           COUNT(*)::BIGINT AS n_pairs,
           SUM(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true,
           CAST(MAX({_FS_SCORE}) AS DOUBLE) AS score
    FROM pairs, u
    GROUP BY pattern
    ORDER BY score DESC, pattern
    """,
)
def q280_fs_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orig = cust.selectExpr(
        "c_custkey AS id",
        "c_name AS name",
        "c_nationkey AS nation",
        "c_mktsegment AS seg",
        "CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS balband",
        "c_nationkey AS blk_n",
        "c_mktsegment AS blk_s",
    )
    dup = cust.filter("c_custkey % 3 = 0").selectExpr(
        "-c_custkey - 1 AS id",
        f"{_FS_DUP_FIELDS['name']} AS name",
        f"{_FS_DUP_FIELDS['nation']} AS nation",
        "c_mktsegment AS seg",
        f"CAST(FLOOR(({_FS_DUP_FIELDS['bal']}) / 100.0) AS BIGINT)"
        " AS balband",
        f"{_FS_DUP_FIELDS['nation']} AS blk_n",
        "c_mktsegment AS blk_s",
    )
    recs = orig.unionAll(dup).localCheckpoint(
        eager=False
    )  # reused: four u rollups + both self-join sides

    def sq(field: str) -> DataFrame:
        return (
            recs.groupBy(field)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(F.sum(F.expr("c * c")).cast("long").alias(f"sq_{field}"))
        )

    u = (
        recs.agg(F.count(F.lit(1)).cast("long").alias("nrec"))
        .crossJoin(sq("name"))
        .crossJoin(sq("nation"))
        .crossJoin(sq("seg"))
        .crossJoin(
            recs.groupBy("balband")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(F.sum(F.expr("c * c")).cast("long").alias("sq_bal"))
        )
    )
    a = recs.select(
        F.col("id").alias("a_id"), F.col("name").alias("a_name"),
        F.col("nation").alias("a_nation"), F.col("seg").alias("a_seg"),
        F.col("balband").alias("a_balband"), "blk_n", "blk_s",
    )
    b = recs.select(
        F.col("id").alias("b_id"), F.col("name").alias("b_name"),
        F.col("nation").alias("b_nation"), F.col("seg").alias("b_seg"),
        F.col("balband").alias("b_balband"),
        F.col("blk_n").alias("bb_n"), F.col("blk_s").alias("bb_s"),
    )
    pairs = a.join(
        b,
        (F.col("blk_n") == F.col("bb_n"))
        & (F.col("blk_s") == F.col("bb_s"))
        & (F.col("a_id") < F.col("b_id")),
    ).crossJoin(F.broadcast(u))
    return (
        pairs.groupBy(F.expr(_FS_PATTERN).alias("pattern"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("a_id") + F.col("b_id") == -1, 1)
                .otherwise(0)
            ).cast("long").alias("n_true"),
            F.max(F.expr(_FS_SCORE)).cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "pattern")
    )


# ---------------------------------------------------------------------------
# q281 — HITS hubs-and-authorities on the bipartite purchase graph
# (customers → parts): the link-analysis complement of PageRank
# (q168 — eigenvector of the row-stochastic walk) computing the
# dominant singular pair of the adjacency matrix instead. The key
# numerical move: HITS scores are SCALE-INVARIANT, so normalization
# is deferred to the very end and every power-iteration round runs in
# EXACT INTEGERS on the 0/1 adjacency (h = A·a, a = Aᵀ·h are integer
# sums of integers) — zero float discipline, unlike the per-round
# rounded-double treatments the literature defaults to. Three rounds
# bound the values by (d_max²)³ ≈ 2.6e9 at sf0.01 and ~2.6e12 at
# sf0.1 — far inside BIGINT; a 100 TB run with million-degree hubs
# would switch to per-round max-normalization (one extra bounded
# reduction per round) before overflow, noted here for the dial.
# Each round = one edge⋈score broadcast-or-shuffle join + one
# map-combined group rollup; edges are DISTINCT (cust, part) so
# repeat purchases don't multi-count. Output: the top-20 authorities
# (TakeOrderedAndProject, integer ordering with partkey tiebreak)
# with the final normalized score as ONE raw double division.
# ---------------------------------------------------------------------------


_HITS_ROUNDS = 3


def _hits_oracle(rounds: int) -> str:
    sql = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    a0 AS (SELECT p, 1::BIGINT AS a FROM (SELECT DISTINCT p FROM e))"""
    for r in range(1, rounds + 1):
        sql += f""",
    h{r} AS MATERIALIZED (
      SELECT e.c, SUM(a{r - 1}.a)::BIGINT AS h
      FROM e JOIN a{r - 1} ON e.p = a{r - 1}.p GROUP BY e.c),
    a{r} AS MATERIALIZED (
      SELECT e.p, SUM(h{r}.h)::BIGINT AS a
      FROM e JOIN h{r} ON e.c = h{r}.c GROUP BY e.p)"""
    sql += f"""
    SELECT p AS partkey, a AS authority,
           CAST(a AS DOUBLE)
             / CAST((SELECT MAX(a) FROM a{rounds}) AS DOUBLE) AS score
    FROM a{rounds}
    ORDER BY authority DESC, partkey
    LIMIT 20"""
    return sql


@query("q281_hits_bipartite", oracle=_hits_oracle(_HITS_ROUNDS))
def q281_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)  # reused by every round's 2 joins
    )
    a = e.select("p").distinct().withColumn("a", F.lit(1).cast("long"))
    for _ in range(_HITS_ROUNDS):
        h = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        # per-round lineage cut (the q189/q244 iterative-graph rule):
        # without it round r's plan re-derives rounds 1..r-1
        a = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
            .localCheckpoint(eager=False)
        )
    mx = a.agg(F.max("a").alias("mx"))
    return (
        a.crossJoin(F.broadcast(mx))
        .select(
            F.col("p").alias("partkey"),
            F.col("a").alias("authority"),
            (F.col("a").cast("double") / F.col("mx").cast("double")).alias(
                "score"
            ),
        )
        .orderBy(F.col("authority").desc(), "partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q282 — one-way ANOVA F-test of document length across sources: the
# classical k-group mean-difference screen the stats family lacked
# (KS q176 is two-sample, chi² q230 is categorical, Mann-Whitney
# lives inside q271). Everything reduces to per-group sufficient
# statistics (n, Σx, Σx²) — ONE map-combined 20-group rollup over
# exact integers, then group-level terms (Σx_g)²/n_g ROUNDed at 6 dp
# into decimals before the bounded cross-group sum (magnitudes ~2e7
# sit eight orders above the double ulp, q273 rule) — so
# SSB/SSW/F/η² are engine-exact. The per-group frame is bounded by
# |sources|; nothing here changes at 100 TB.
# ---------------------------------------------------------------------------


@query(
    "q282_anova_f",
    oracle="""
    WITH g AS (
      SELECT source, COUNT(*)::BIGINT AS n,
             SUM(n_chars)::BIGINT AS s,
             SUM(n_chars * n_chars)::BIGINT AS ss
      FROM documents GROUP BY source),
    t AS (
      SELECT COUNT(*)::BIGINT AS k,
             SUM(n)::BIGINT AS n_tot, SUM(s)::BIGINT AS s_tot,
             SUM(ss)::BIGINT AS ss_tot,
             SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE), 6)
                      AS DECIMAL(28,6))) AS sq_over_n
      FROM g)
    SELECT k AS k_groups,
           n_tot AS n_rows,
           CAST(sq_over_n AS DOUBLE)
             - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
               / CAST(n_tot AS DOUBLE) AS ssb,
           CAST(ss_tot AS DOUBLE) - CAST(sq_over_n AS DOUBLE) AS ssw,
           (CAST(sq_over_n AS DOUBLE)
            - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
              / CAST(n_tot AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
           / ((CAST(ss_tot AS DOUBLE) - CAST(sq_over_n AS DOUBLE))
              / CAST(n_tot - k AS DOUBLE)) AS f_stat,
           (CAST(sq_over_n AS DOUBLE)
            - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
              / CAST(n_tot AS DOUBLE))
           / (CAST(ss_tot AS DOUBLE)
              - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                / CAST(n_tot AS DOUBLE)) AS eta_sq
    FROM t
    """,
)
def q282_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s"),
            F.sum(F.expr("n_chars * n_chars")).cast("long").alias("ss"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
        F.sum("ss").cast("long").alias("ss_tot"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                " / CAST(n AS DOUBLE), 6) AS DECIMAL(28,6))"
            )
        ).alias("sq_over_n"),
    )
    ssb = (
        F.col("sq_over_n").cast("double")
        - F.col("s_tot").cast("double")
        * F.col("s_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    ssw = F.col("ss_tot").cast("double") - F.col("sq_over_n").cast("double")
    sst = (
        F.col("ss_tot").cast("double")
        - F.col("s_tot").cast("double")
        * F.col("s_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    return t.select(
        F.col("k").alias("k_groups"),
        F.col("n_tot").alias("n_rows"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        (
            ssb / (F.col("k") - F.lit(1)).cast("double")
            / (ssw / (F.col("n_tot") - F.col("k")).cast("double"))
        ).alias("f_stat"),
        (ssb / sst).alias("eta_sq"),
    )


# q283 — median regression (quantile regression at τ = 0.5) of order
# line value on quantity, by distributed subgradient descent: the
# ROBUST counterpart of q268's mean-squares fit. On this generator
# extendedprice is hash-independent of quantity (corr 0.003, probed —
# the q259/q269 rule), so the TRUE pinball optimum is
# (median(y), slope 0); the test pins that the trajectory converges
# onto that grid-searched optimum, which is exactly what a correct
# subgradient method must do. Each iteration is ONE map-combined
# aggregate of subgradient
# terms — and unlike q269's rounded sigmoid terms, EVERY per-row
# quantity here is an exact decimal: x1 = (2·qty − 51)·0.02 and
# y = extendedprice·0.001 are exact 2-dp/5-dp decimals, the weights
# are 6-dp decimal literals, so the line z, the above/below
# indicator, ψ = ±τ, the subgradient products ψ·x1 and the pinball
# loss τ·|y − z| are all EXACT decimal arithmetic with exact sums —
# no per-row rounding anywhere (a rounded-double draft of this query
# lost two 1e-6 grid steps to ROUND ties on the structured 50-value
# z grid at sf0.001; decimals make the tie direction definitional).
# The only IEEE step is the 1-row weight update with the classical
# diminishing step η_t = η0/t, HALF_UP-rounded at 6 dp (the q269
# re-literalization). The oracle unrolls all iterations as
# MATERIALIZED CTEs with the identical step literals.
# ---------------------------------------------------------------------------


_QR_X1 = "(CAST(2 * l_quantity - 51 AS DECIMAL(6,0)) * CAST(0.02 AS DECIMAL(3,2)))"
_QR_Y = "(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(0.001 AS DECIMAL(4,3)))"
_QR_TAU = 0.5
_QR_ETA0 = 100.0
_QR_ITERS = 6


def _qr_w(v: float) -> str:
    return f"CAST({v:.6f} AS DECIMAL(20,6))"


def _qr_psi(z: str) -> str:
    """Subgradient factor: -tau above the line, (1-tau) at/below."""
    return (
        f"CASE WHEN b.y > {z} THEN CAST(-{_QR_TAU} AS DECIMAL(2,1))"
        f" ELSE CAST({1.0 - _QR_TAU} AS DECIMAL(2,1)) END"
    )


def _qr_loss(z: str) -> str:
    return (
        f"CASE WHEN b.y > {z}"
        f" THEN CAST({_QR_TAU} AS DECIMAL(2,1)) * (b.y - {z})"
        f" ELSE CAST({1.0 - _QR_TAU} AS DECIMAL(2,1)) * ({z} - b.y) END"
    )


def _qr_oracle(iters: int) -> str:
    sql = f"""
    WITH base AS MATERIALIZED (
        SELECT {_QR_X1} AS x1, {_QR_Y} AS y FROM lineitem),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM base)"""
    # replay the driver's weight trajectory symbolically: weights are
    # data-dependent, so the oracle carries them as 1-row CTEs exactly
    # like the Spark loop re-literalizes them
    sql += """,
    t0 AS (SELECT CAST(0.000000 AS DECIMAL(20,6)) AS w0,
                  CAST(0.000000 AS DECIMAL(20,6)) AS w1)"""
    for i in range(iters + 1):
        z = "(w.w0 + w.w1 * b.x1)"
        sql += f""",
    s{i} AS MATERIALIZED (
        SELECT SUM(CAST({_qr_psi(z)} AS DECIMAL(28,6))) AS g0,
               SUM(CAST({_qr_psi(z)} * b.x1 AS DECIMAL(28,6))) AS g1,
               SUM(CAST({_qr_loss(z)} AS DECIMAL(30,8))) AS pl
        FROM base b, t{i} w)"""
        if i < iters:
            eta = repr(_QR_ETA0 / (i + 1))
            sql += f""",
    t{i + 1} AS (
        SELECT CAST(ROUND(CAST(w.w0 AS DOUBLE)
                          - {eta} * (s.g0::DOUBLE / nn.n), 6)
                    AS DECIMAL(20,6)) AS w0,
               CAST(ROUND(CAST(w.w1 AS DOUBLE)
                          - {eta} * (s.g1::DOUBLE / nn.n), 6)
                    AS DECIMAL(20,6)) AS w1
        FROM t{i} w, s{i} s, nn)"""
    rows = [
        f"""
    SELECT {i}::INT AS iter, CAST(w.w0 AS DOUBLE) AS w0,
           CAST(w.w1 AS DOUBLE) AS w1,
           s.pl::DOUBLE / nn.n AS pinball
    FROM t{i} w, s{i} s, nn"""
        for i in range(iters + 1)
    ]
    return sql + "\n    UNION ALL".join(rows) + "\n    ORDER BY iter"


@query("q283_quantile_regression", oracle=_qr_oracle(_QR_ITERS))
def q283_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.determinism import half_up

    # spread before the checkpoint (the classify.py gd_train note):
    # the checkpoint otherwise pins lineitem's 2-3 input splits and
    # every subgradient scan runs nearly single-core.
    b = spread(
        load_table(spark, sf_dir, "lineitem").selectExpr(
            f"{_QR_X1} AS x1", f"{_QR_Y} AS y"
        )
    ).localCheckpoint(eager=False)  # reused by iters+1 scans
    n = b.count()
    w = [0.0, 0.0]
    rows = []
    for it in range(_QR_ITERS + 1):
        z = f"({_qr_w(w[0])} + {_qr_w(w[1])} * b.x1)"
        st = b.alias("b").agg(
            F.expr(f"SUM(CAST({_qr_psi(z)} AS DECIMAL(28,6)))").alias("g0"),
            F.expr(
                f"SUM(CAST({_qr_psi(z)} * b.x1 AS DECIMAL(28,6)))"
            ).alias("g1"),
            F.expr(f"SUM(CAST({_qr_loss(z)} AS DECIMAL(30,8)))").alias("pl"),
        ).collect()[0]
        rows.append((it, w[0], w[1], float(st["pl"]) / n))
        if it < _QR_ITERS:
            eta = _QR_ETA0 / (it + 1)
            w = [
                half_up(w[0] - eta * (float(st["g0"]) / n), 6),
                half_up(w[1] - eta * (float(st["g1"]) / n), 6),
            ]
    return spark.createDataFrame(
        rows, "iter int, w0 double, w1 double, pinball double"
    ).orderBy("iter")


# ---------------------------------------------------------------------------
# q284 — video scene-change segmentation over sampled frames
# (operators/multimodal.py scene_segments): the temporal member of
# the multimodal family — q65 decodes and fans frames out, q262
# dedups stills; this detects shot boundaries by thresholded
# inter-frame pHash Hamming distance (the classic shot-boundary
# detector). The fixture plants the ground truth: each "video" is
# three scenes of identical 32-byte frames with planted repeat counts
# doc_id%3+3, doc_id%5+3, doc_id%7+3 — i.e. r_1 ∈ {3..5},
# r_2 ∈ {3..7}, r_3 ∈ {3..9} — (ascii-fied
# 32-char text slices, repeated — UTF-8 multi-byte chars are mapped
# to 'x' so char slices stay byte-aligned with the 32-byte frame
# sampler), so within-scene distance is exactly 0 and boundaries are
# near-maximal; the unit test pins exact recovery of every planted
# (r1, r2, r3). Rows-only by design — the DCT hash has no faithful
# SQL replay (the q262 precedent); determinism and the planted
# recovery are test-pinned instead. Scale: frame hashing is a
# zero-shuffle Arrow map, segmentation is one per-blob bounded
# window + one (blob, scene) rollup.
# ---------------------------------------------------------------------------


@query("q284_scene_segmentation")
def q284_scene_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames, scene_segments

    d = (
        load_table(spark, sf_dir, "documents")
        .withColumn(
            "ascii_text", F.expr("regexp_replace(text, '[^ -~]', 'x')")
        )
        .filter(F.length("ascii_text") >= 96)
    )
    blobs = d.select(
        F.col("doc_id").alias("blob_id"),
        F.lit("video/mp4").alias("media_type"),
        F.encode(
            F.expr(
                "repeat(substring(ascii_text, 1, 32), doc_id % 3 + 3)"
                " || repeat(substring(ascii_text, 33, 32), doc_id % 5 + 3)"
                " || repeat(substring(ascii_text, 65, 32), doc_id % 7 + 3)"
            ),
            "UTF-8",
        ).cast("binary").alias("content"),
        F.lit(0).cast("long").alias("n_bytes"),
    )
    frames = sample_frames(blobs, every_n_bytes=32)
    return scene_segments(frames, scene_threshold=8)


# ---------------------------------------------------------------------------
# q285 — KMV (k-minimum-values / bottom-k theta) sketches for
# cross-source set arithmetic: the mergeable-sketch family member the
# registry lacked — HLL (q18/q127) unions but can never intersect;
# a KMV sketch supports union by merge and intersection by
# inclusion-exclusion, which is exactly the contamination-matrix
# question (q255) at sketch cost. Hash = first 12 hex chars of the
# q64 portable md5 fingerprint parsed as a 48-bit integer — uniform,
# engine-identical, and (unlike xxhash64) fully oracle-able. The
# per-source bottom-k (k = 16) rides the RANGE-PARTITIONED global
# sort (operators/indexing.py global_row_number — every source
# spreads across all partitions, the q270/q226 rule) + one bounded
# per-source min-rank rollup; sketches are ≤ k-element sorted arrays,
# so all pair arithmetic (merge → distinct → bottom-k → θ) is
# codegen on |sources|²-bounded frames. Estimator: D̂ = (k−1)·2⁴⁸/h₍ₖ₎
# with the EXACT-below-k fallback (a sketch smaller than k IS the
# set); estimates are fixed IEEE expressions of exact integers.
# ---------------------------------------------------------------------------


_KMV_K = 16
_KMV_M = 1 << 48


def _kmv_est(arr_size: str, kth: str) -> str:
    """KMV estimate with the exact-small fallback, as a shared
    expression template over (size, k-th smallest hash) strings."""
    return (
        f"CASE WHEN {arr_size} < {_KMV_K} THEN CAST({arr_size} AS DOUBLE)"
        f" ELSE CAST({_KMV_K - 1} AS DOUBLE) * CAST({_KMV_M} AS DOUBLE)"
        f" / CAST({kth} AS DOUBLE) END"
    )


@query(
    "q285_kmv_cardinality",
    oracle=rf"""
    WITH n AS (
      SELECT DISTINCT source,
             CAST('0x' || substring(md5(regexp_replace(lower(trim(text)),
                                    '[ \t\n\r]+', ' ', 'g')), 1, 12)
                  AS BIGINT) AS h
      FROM documents),
    r AS (SELECT source, h,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM n),
    sk AS (SELECT source, list_sort(list(h)) AS arr
           FROM r WHERE rn <= {_KMV_K} GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.arr AS arr_a, b.arr AS arr_b,
             list_sort(list_distinct(list_concat(a.arr, b.arr)))
               [1:{_KMV_K}] AS comb
      FROM sk a JOIN sk b ON a.source < b.source)
    SELECT source_a, source_b,
           {_kmv_est("len(arr_a)", f"arr_a[{_KMV_K}]")} AS est_a,
           {_kmv_est("len(arr_b)", f"arr_b[{_KMV_K}]")} AS est_b,
           {_kmv_est("len(comb)", f"comb[{_KMV_K}]")} AS est_union,
           {_kmv_est("len(arr_a)", f"arr_a[{_KMV_K}]")}
             + {_kmv_est("len(arr_b)", f"arr_b[{_KMV_K}]")}
             - {_kmv_est("len(comb)", f"comb[{_KMV_K}]")} AS est_inter
    FROM pairs
    ORDER BY source_a, source_b
    """,
)
def q285_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_row_number

    h = F.expr(
        "CAST(conv(substring(md5(regexp_replace(lower(trim(text)),"
        " '[ \\t\\n\\r]+', ' ')), 1, 12), 16, 10) AS BIGINT)"
    )
    pts = (
        load_table(spark, sf_dir, "documents")
        .select("source", h.alias("h"))
        .distinct()
    )
    grn = global_row_number(pts, ["source", "h"], "rn")
    offs = grn.groupBy("source").agg(F.min("rn").alias("rn0"))
    sk = (
        grn.join(F.broadcast(offs), "source")
        .filter(F.col("rn") - F.col("rn0") < _KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("arr"))
        .localCheckpoint(eager=False)  # reused as both pair sides
    )
    a = sk.select(
        F.col("source").alias("source_a"), F.col("arr").alias("arr_a")
    )
    b = sk.select(
        F.col("source").alias("source_b"), F.col("arr").alias("arr_b")
    )
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).withColumn(
        "comb",
        F.expr(
            f"slice(array_sort(array_distinct(concat(arr_a, arr_b))),"
            f" 1, {_KMV_K})"
        ),
    )
    est_a = _kmv_est("size(arr_a)", f"element_at(arr_a, {_KMV_K})")
    est_b = _kmv_est("size(arr_b)", f"element_at(arr_b, {_KMV_K})")
    est_u = _kmv_est("size(comb)", f"element_at(comb, {_KMV_K})")
    return pairs.selectExpr(
        "source_a",
        "source_b",
        f"{est_a} AS est_a",
        f"{est_b} AS est_b",
        f"{est_u} AS est_union",
        f"{est_a} + {est_b} - {est_u} AS est_inter",
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q287 — sequential pattern mining over sessionized events (GSP /
# PrefixSpan level 2-3): support of every ordered GAPPY subsequence
# pattern of length 2 and 3 over the event-type alphabet, counted per
# 30-minute session — the funnel-discovery generalization of q155's
# contiguous Markov transitions and q73's single fixed funnel. The
# candidate universe is the TYPE GRID (5² + 5³ = 150 patterns, a
# broadcast literal), so the data-sized work is one sessionization
# window + one (session × pattern) codegen containment fold (greedy
# first-occurrence matching — correct and canonical for subsequence
# containment) + one 150-group rollup. All counts integer; support is
# a RAW bigint/bigint division. The oracle replays containment as
# ordered EXISTS self-joins per pattern length over the same
# (session, rn) numbering — a deliberately DIFFERENT formulation of
# the same semantics, so the sweep cross-checks greedy-fold
# containment against relational containment.
# ---------------------------------------------------------------------------


def _seq_patterns(types: list[str]) -> list[list[str]]:
    """All ordered length-2/3 patterns over the observed alphabet —
    derived from the DATA (one bounded distinct collect), exactly as
    the oracle's SELECT DISTINCT does, so a generator that adds or
    drops an event type moves both engines together."""
    t = sorted(types)
    pairs = [[a, b] for a in t for b in t]
    triples = [[a, b, c] for a in t for b in t for c in t]
    return pairs + triples


@query(
    "q287_sequence_patterns",
    oracle="""
    WITH ev AS MATERIALIZED (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS MATERIALIZED (
      SELECT user_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM ev),
    n_sess AS (
      SELECT COUNT(*)::BIGINT AS n
      FROM (SELECT DISTINCT user_id, sid FROM sess)),
    ty AS (SELECT DISTINCT event_type AS t FROM events),
    cand2 AS (SELECT a.t AS e1, b.t AS e2 FROM ty a CROSS JOIN ty b),
    cand3 AS (SELECT a.t AS e1, b.t AS e2, c.t AS e3
              FROM ty a CROSS JOIN ty b CROSS JOIN ty c),
    hit2 AS (
      SELECT x.event_type AS e1, y.event_type AS e2,
             COUNT(DISTINCT (x.user_id, x.sid))::BIGINT AS n_hit
      FROM sess x JOIN sess y
        ON x.user_id = y.user_id AND x.sid = y.sid AND x.rn < y.rn
      GROUP BY 1, 2),
    hit3 AS (
      SELECT x.event_type AS e1, y.event_type AS e2, z.event_type AS e3,
             COUNT(DISTINCT (x.user_id, x.sid))::BIGINT AS n_hit
      FROM sess x
      JOIN sess y ON x.user_id = y.user_id AND x.sid = y.sid
                 AND x.rn < y.rn
      JOIN sess z ON y.user_id = z.user_id AND y.sid = z.sid
                 AND y.rn < z.rn
      GROUP BY 1, 2, 3),
    allp AS (
      SELECT e1 || '>' || e2 AS pattern, 2::INT AS plen,
             COALESCE(h.n_hit, 0)::BIGINT AS n_sessions
      FROM cand2 c LEFT JOIN hit2 h USING (e1, e2)
      UNION ALL
      SELECT e1 || '>' || e2 || '>' || e3, 3::INT,
             COALESCE(h.n_hit, 0)::BIGINT
      FROM cand3 c LEFT JOIN hit3 h USING (e1, e2, e3))
    SELECT pattern, plen, n_sessions,
           CAST(n_sessions AS DOUBLE) / CAST(n_sess.n AS DOUBLE) AS support
    FROM allp, n_sess
    ORDER BY plen, pattern
    """,
)
def q287_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # the keyed spread pins the user_id exchange at parallelism for a
    # small frame (AQE sizes post-shuffle partitions by BYTES and
    # collapses the whole window + session rollup onto one task —
    # measured 2.9s serial at sf0.1); the window and the groupBy below
    # both key on user_id, so they reuse this single exchange.
    ev = spread(load_table(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn(
            "new_s",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts") - F.lag("ts").over(w)
                    >= F.expr("INTERVAL 30 MINUTES")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ).alias("arr")
        )
        .localCheckpoint(eager=False)  # reused: total count + containment
    )
    n_sess = sess.count()
    types = [
        r["event_type"]
        for r in ev.select("event_type").distinct().collect()
    ]
    pats = _seq_patterns(types)
    cand = F.array(
        *[
            F.struct(
                F.lit(">".join(p)).alias("pattern"),
                F.lit(len(p)).cast("int").alias("plen"),
                F.array(*[F.lit(e) for e in p]).alias("pat"),
            )
            for p in pats
        ]
    )
    contains = F.expr(
        """
        aggregate(
          c.pat,
          named_struct('rest', arr, 'ok', true),
          (acc, el) -> IF(NOT acc.ok OR array_position(acc.rest, el) = 0,
                          named_struct('rest', acc.rest, 'ok', false),
                          named_struct(
                            'rest',
                            slice(acc.rest,
                                  CAST(array_position(acc.rest, el) AS INT)
                                    + 1,
                                  size(acc.rest)),
                            'ok', true)),
          acc -> acc.ok)
        """
    )
    return (
        # single-event sessions can't contain a length-2 pattern, and
        # on this sparse fixture they're ~95% of sessions — dropping
        # them BEFORE the 150-way candidate explode cuts the fold
        # work ~20x (support denominators still count every session).
        # spread: the surviving sessions are few BYTES, so AQE would
        # run the 150-way explode + containment fold on 1-2 tasks.
        spread(sess.filter(F.size("arr") >= 2))
        .select(F.explode(cand).alias("c"), "arr")
        .filter(contains)
        .groupBy(
            F.col("c.pattern").alias("pattern"),
            F.col("c.plen").alias("plen"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        # densify against the full candidate grid so zero-support
        # patterns emit too (matching the oracle's LEFT JOIN)
        .join(
            spark.createDataFrame(
                [(">".join(p), len(p)) for p in pats],
                "pattern string, plen int",
            ),
            ["pattern", "plen"],
            "right_outer",
        )
        .select(
            "pattern",
            "plen",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias(
                "n_sessions"
            ),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.lit(float(n_sess))
            ).alias("support"),
        )
        .orderBy("plen", "pattern")
    )


# ---------------------------------------------------------------------------
# q288 — leave-one-source-out influence audit: for every source, how
# the corpus would move if that source were dropped — the curation
# question behind domain reweighting ("which feed drags the mix"),
# answered WITHOUT rescanning per candidate: the q273 exact-
# subtraction trick lifted to the corpus level. Two bounded rollups
# (per-source doc/char stats; per-(source, lang) counts densified
# against the |sources|×|langs| grid) give every leave-one-out
# aggregate as total − group in exact integers; the deltas reported
# are mean chars/doc shift and language-mix entropy shift. Float
# discipline: means are RAW bigint/bigint doubles; entropy terms
# p·ln(p) are 6-dp-rounded doubles cast to decimal before the
# |langs|-bounded per-source sum (the q219 ln rule), with zero-count
# cells contributing exactly 0 by CASE guard; deltas of decimal
# entropies subtract exactly and are cast to double once.
# ---------------------------------------------------------------------------


def _ent_term(c: str, n: str) -> str:
    """-p*ln(p) of an integer count/total pair, 0 at c = 0, as an
    exact DECIMAL(18,6) (the shared template both engines render)."""
    p = f"(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
    return (
        f"CASE WHEN {c} > 0 THEN"
        f" CAST(ROUND(-{p} * LN({p}), 6) AS DECIMAL(18,6))"
        f" ELSE CAST(0 AS DECIMAL(18,6)) END"
    )


@query(
    "q288_source_influence",
    oracle=f"""
    WITH g AS (
      SELECT source, COUNT(*)::BIGINT AS n, SUM(n_chars)::BIGINT AS ch
      FROM documents GROUP BY source),
    t AS (SELECT SUM(n)::BIGINT AS n_tot, SUM(ch)::BIGINT AS ch_tot FROM g),
    gl AS (
      SELECT source, lang, COUNT(*)::BIGINT AS c
      FROM documents GROUP BY source, lang),
    lt AS (SELECT lang, SUM(c)::BIGINT AS lc FROM gl GROUP BY lang),
    grid AS (
      SELECT g.source, lt.lang, lt.lc, COALESCE(gl.c, 0)::BIGINT AS c,
             g.n
      FROM g CROSS JOIN lt
      LEFT JOIN gl ON gl.source = g.source AND gl.lang = lt.lang),
    ent AS (
      SELECT source,
             SUM({_ent_term("lc - c", "(SELECT n_tot FROM t) - n")})
               AS h_loso
      FROM grid GROUP BY source),
    full_ent AS (
      SELECT SUM({_ent_term("lc", "(SELECT n_tot FROM t)")}) AS h_full
      FROM lt)
    SELECT g.source,
           g.n AS n_docs,
           CAST(t.ch_tot - g.ch AS DOUBLE)
             / CAST(t.n_tot - g.n AS DOUBLE)
             - CAST(t.ch_tot AS DOUBLE) / CAST(t.n_tot AS DOUBLE)
             AS delta_mean_chars,
           CAST(e.h_loso AS DOUBLE) AS entropy_loso,
           CAST(f.h_full AS DOUBLE) AS entropy_full,
           CAST(e.h_loso - f.h_full AS DOUBLE) AS delta_entropy
    FROM g, t, ent e, full_ent f
    WHERE e.source = g.source
    ORDER BY g.source
    """,
)
def q288_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").localCheckpoint(
        eager=False
    )  # reused: stats rollup + lang grid
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("ch"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("ch").cast("long").alias("ch_tot"),
    )
    gl = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lt = gl.groupBy("lang").agg(F.sum("c").cast("long").alias("lc"))
    grid = (
        g.select("source", "n")
        .crossJoin(F.broadcast(lt))
        .join(gl, ["source", "lang"], "left_outer")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(t))
    )
    ent = grid.groupBy("source").agg(
        F.sum(F.expr(_ent_term("lc - c", "n_tot - n"))).alias("h_loso")
    )
    full_ent = (
        lt.crossJoin(F.broadcast(t))
        .agg(F.sum(F.expr(_ent_term("lc", "n_tot"))).alias("h_full"))
    )
    return (
        g.join(ent, "source")
        .crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(full_ent))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            (
                (F.col("ch_tot") - F.col("ch")).cast("double")
                / (F.col("n_tot") - F.col("n")).cast("double")
                - F.col("ch_tot").cast("double")
                / F.col("n_tot").cast("double")
            ).alias("delta_mean_chars"),
            F.col("h_loso").cast("double").alias("entropy_loso"),
            F.col("h_full").cast("double").alias("entropy_full"),
            (F.col("h_loso") - F.col("h_full")).cast("double").alias(
                "delta_entropy"
            ),
        )
        .orderBy("source")
    )
