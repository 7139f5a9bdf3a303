"""Distributed text classifiers trained as pure aggregations.

The fasttext-style quality/language screens of LLM data pipelines
reduce, for a bag-of-words model, to count tables — no model binary,
no Python in the row path. Two trainers live here:

- ``naive_bayes_model``: multinomial Naive Bayes with add-alpha
  smoothing. Training is ONE token-explode scan + two bounded
  groupBys (per-(label, token) counts and per-label totals); the
  model is the densified label × vocabulary grid of 6-dp-rounded
  log conditionals plus per-label log priors.
- ``naive_bayes_score``: scores a corpus against the model — one
  per-(doc, token) count aggregation, one equi-join on the token key
  (broadcast when the model fits, the usual shuffle join otherwise),
  one per-(doc, label) sum, and a 5-rows-per-doc ranking window.

Cross-engine determinism (the q219 bigram-LM discipline,
queries/analytics5.py:436): every ln() is computed on an exact
integer-ratio double and ROUNDed at 6 dp, token-count × log-prob
products are DECIMAL × DECIMAL (exact, no double drift), and scores
are exact decimal sums — so the full posterior table, the argmax and
the runner-up margin are engine-independent.

Scale shape (100 TB): the token explode is the map side of one scan;
(label, token) counts are a map-combined groupBy bounded by
|labels| × |vocab|; scoring shuffles once on the token key and once
on (doc, label); the ranking window partitions by doc over |labels|
rows. Nothing is driver-side except the scalar vocabulary size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..execution import spread
from ..functions.determinism import DEC

# product widths chosen so Spark never hits the 38-digit cap
# (which would trigger allowPrecisionLoss rounding): 12+20+1=33.
_CNT_DEC = "decimal(12,0)"
_LP_DEC = "decimal(20,6)"


def _tokens(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """One row per token occurrence: keep-columns + ``tok``.

    explode_outer + isNotNull, not explode — a plain explode after a
    computed array projection gets an inferred size()>0 filter pushed
    below the projection with the whole split() inlined twice (the
    shingle_index lesson, operators/dedup.py). The split of a trimmed
    non-NULL string is never NULL, so outer is value-equal.
    """
    return (
        df.select(
            *keep,
            F.explode_outer(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )


def naive_bayes_model(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train add-alpha multinomial NB; returns (model, priors).

    model:  (label, tok, lp DECIMAL(20,6))  — densified over the full
            label × vocabulary grid so a zero-count (label, token)
            pair contributes its smoothing floor, not nothing.
    priors: (label, pr DECIMAL(28,6))       — ln(docs_c / docs).

    lp = ROUND(ln((c + alpha) / (total_c + alpha·V)), 6) with exact
    integer-ratio operands (alpha=1 keeps them integer), cast to
    decimal once so downstream arithmetic never re-rounds.
    """
    toks = _tokens(docs, text_col, [label_col])
    ct = toks.groupBy(label_col, "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ct = ct.localCheckpoint(eager=False)  # reused: totals + grid
    tot = ct.groupBy(label_col).agg(F.sum("c").cast("long").alias("t"))
    vocab = ct.select("tok").distinct()
    v = vocab.count()  # one scalar, bounded by |vocab|
    grid = (
        tot.crossJoin(vocab)
        .join(ct, [label_col, "tok"], "left")
        .select(
            label_col,
            "tok",
            "t",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    lp = F.round(
        F.log(
            (F.col("c").cast("double") + F.lit(alpha))
            / (F.col("t").cast("double") + F.lit(alpha) * F.lit(float(v)))
        ),
        6,
    ).cast(_LP_DEC)
    model = grid.select(label_col, "tok", lp.alias("lp"))

    n_docs = docs.count()
    priors = docs.groupBy(label_col).agg(
        F.round(
            F.log(
                F.count(F.lit(1)).cast("double") / F.lit(float(n_docs))
            ),
            6,
        )
        .cast(DEC)
        .alias("pr")
    )
    return model, priors


def naive_bayes_score(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Per-document posterior argmax over the model's label set.

    Returns (id_col, pred_<label_col>, score, margin): the winning
    label under (score DESC, label ASC) — the ranking is on exact
    decimals, so the tiebreak order is engine-independent — its
    6-dp log-posterior, and the exact-decimal gap to the runner-up.

    Every token seen at scoring time must be in the model's
    vocabulary (train corpus ⊇ score corpus); the inner join below
    silently drops anything else, which is the correct contract for
    the self-train quality screen this backs. OOV-robust scoring
    would left-join and coalesce to the per-label smoothing floor.
    """
    dtok = _tokens(docs, text_col, [id_col]).groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).cast(_CNT_DEC).alias("c")
    )
    scores = (
        dtok.join(F.broadcast(model), "tok")
        .groupBy(id_col, label_col)
        .agg(F.sum(F.col("c") * F.col("lp")).alias("s_cond"))
        .join(F.broadcast(priors), label_col)
        .select(
            id_col,
            label_col,
            (F.col("pr") + F.col("s_cond")).alias("s"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("s").desc(), F.col(label_col).asc()
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .withColumn("s2", F.lead("s").over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col(label_col).alias(f"pred_{label_col}"),
            F.round(F.col("s").cast("double"), 6).alias("score"),
            F.round((F.col("s") - F.col("s2")).cast("double"), 6).alias(
                "margin"
            ),
        )
    )


def logreg_gd(
    base: DataFrame,
    x1_expr: str,
    x2_expr: str,
    y_expr: str,
    eta: float,
    iters: int,
) -> DataFrame:
    """Logistic regression by full-batch gradient descent, returning
    the per-iteration census (iter, w0, w1, w2, tp, fp, tn, fn,
    accuracy) — weights AFTER i updates, confusion counts AT those
    weights.

    The iterative shape is the kmeans_lloyd literal-re-feed pattern
    (operators/clustering.py): per iteration ONE map-combined
    aggregate over the checkpointed projection computes the three
    gradient sums AND the confusion counts in the same scan; the
    3-value weight state is collected (bounded), updated driver-side
    with HALF_UP 6-dp decimals, and re-literalized into the next
    plan — every iteration's plan stays flat, assignment is pure
    codegen, and nothing data-sized ever reaches the driver.

    Cross-engine determinism: x/y expressions are SQL strings shared
    verbatim with the DuckDB oracle; sigmoid terms are ROUNDed at
    6 dp before the exact decimal sum (exp's 1-ulp divergence is
    absorbed, the q219 ln discipline); the weight update
    w - eta·(g/n) is the identical IEEE double expression driver-side
    and oracle-side, rounded HALF_UP at 6 dp (matching SQL ROUND);
    predictions compare the identical double z against 0; accuracy is
    a RAW bigint/bigint double division (never round a ratio).
    """
    census, _, _, _ = gd_train(base, x1_expr, x2_expr, y_expr, eta, iters)
    return base.sparkSession.createDataFrame(
        census,
        "iter int, w0 double, w1 double, w2 double, tp long, fp long,"
        " tn long, fn long, accuracy double",
    ).orderBy("iter")


def gd_train(
    base: DataFrame,
    x1_expr: str,
    x2_expr: str,
    y_expr: str,
    eta: float,
    iters: int,
) -> tuple[list[tuple], list[float], int, DataFrame]:
    """The logreg_gd training loop, exposed for consumers that need
    the trained weights (AUC, calibration): returns (census rows,
    final weights, n, the checkpointed (x1, x2, y) projection)."""
    from ..functions.determinism import DEC, half_up

    # spread BEFORE the checkpoint (the round-10 clustering lesson,
    # applied here round 12): a small parquet arrives as a handful of
    # input splits, and the checkpoint PINS that layout — every one
    # of the iters+1 training scans would then run on 2-3 cores
    # regardless of cluster size. Measured at sf0.1: the q269/q271/
    # q272/q279 family dropped ~2x once the checkpoint spread to
    # defaultParallelism. No-op at real scale (stats-gated).
    b = spread(
        base.selectExpr(
            f"{x1_expr} AS x1", f"{x2_expr} AS x2", f"{y_expr} AS y"
        )
    ).localCheckpoint(eager=False)  # reused by iters+1 scans
    n = None
    w = [0.0, 0.0, 0.0]
    census: list[tuple] = []
    for it in range(iters + 1):
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
        )
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = sig - F.col("y")

        def g(xc, alias):
            return F.sum(
                F.round(err * xc, 6).cast(DEC)
            ).alias(alias)

        def conf(pred, lab, alias):
            cond = (z > 0) if pred else ~(z > 0)
            return (
                F.sum(
                    F.when(cond & (F.col("y") == F.lit(lab)), 1).otherwise(0)
                )
                .cast("long")
                .alias(alias)
            )

        row = b.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            g(F.lit(1.0), "g0"),
            g(F.col("x1"), "g1"),
            g(F.col("x2"), "g2"),
            conf(True, 1.0, "tp"),
            conf(True, 0.0, "fp"),
            conf(False, 0.0, "tn"),
            conf(False, 1.0, "fn"),
        ).first()
        n = row["n"]
        census.append(
            (
                it,
                w[0],
                w[1],
                w[2],
                row["tp"],
                row["fp"],
                row["tn"],
                row["fn"],
                (row["tp"] + row["tn"]) / n,  # raw IEEE division
            )
        )
        if it < iters:
            w = [
                half_up(wj - eta * (float(gj) / n), 6)
                for wj, gj in zip(
                    w, (row["g0"], row["g1"], row["g2"])
                )
            ]
    return census, w, n, b


def auc_rank_sum(
    scored: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank-sum identity, with
    midrank tie handling — 1 row: (n_pos, n_neg, n_scores, auc).

    AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) where R⁺ is the sum of the
    (mid)ranks of the positives. Grouping by score value makes ties
    explicit: a tied group at cumulative offset c of size s
    contributes n⁺_g · (2c + s + 1)/2 to R⁺, so 2·R⁺ is an INTEGER —
    everything stays integer until ONE raw double division (the
    never-round-a-ratio rule). Scores must be identical doubles on
    both engines (they are: fixed IEEE expressions of literal
    weights), so the group-by keys and the ordering match exactly.

    Scale shape: one (score → pos/neg counts) map-combined groupBy,
    then a prefix sum over the DISTINCT-score frame — bounded by the
    score grid (≤ |x1 grid| × |x2 grid| for a linear model on gridded
    features), so the single-partition window below is over a tiny
    frame; for a continuous score at 100 TB swap in
    operators/indexing.py global_running_sum, same arithmetic.
    """
    g = scored.groupBy(F.col(score_col).alias("p")).agg(
        F.sum(F.when(F.col(label_col) == F.lit(1.0), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col(label_col) == F.lit(1.0), 0).otherwise(1))
        .cast("long")
        .alias("nn"),
    )
    w = (
        Window.orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn(
        "cumb", F.coalesce(F.sum(F.col("np") + F.col("nn")).over(w), F.lit(0))
    )
    s = r.agg(
        F.sum(
            F.col("np")
            * (F.lit(2) * F.col("cumb") + F.col("np") + F.col("nn") + 1)
        )
        .cast("long")
        .alias("rs2"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        "n_scores",
        (
            (
                F.col("rs2") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )
