"""Huber robust regression by IRLS (iteratively reweighted least
squares) — the robust member completing the regression family: ridge
(L2, operators/classify.py gd + analytics8 q268 closed form), pinball
(quantile/L1, q283), and now Huber (L2 near zero, L1 in the tails;
public literature: Huber 1964, the IRLS solution in any robust-
statistics text).

Why IRLS is the 100-TB shape: each iteration is an ordinary WEIGHTED
least-squares solve, and a weighted 2-parameter solve needs only five
map-combined sufficient statistics (Σw, Σwx, Σwy, Σwx², Σwxy) — so
one iteration is ONE scan of the checkpointed projection + one 1-row
collect, the kmeans/logreg literal-re-feed pattern
(operators/classify.py gd_train). Nothing data-sized reaches the
driver; the weight column is recomputed per scan from the two
re-literalized coefficients (pure codegen), never materialized.

Cross-engine determinism (the analytics8 discipline):
- residual r = y − (b0 + b1·x) is a fixed IEEE chain over exact
  operands — bit-identical on both engines;
- weight w = 1 if |r| ≤ δ else ROUND(δ/|r|, 6) — the one division is
  deterministic, the ROUND pins it to the 6-dp grid so products stay
  exact;
- each weighted summand is ROUNDed at 6 dp then summed in
  DECIMAL(28,6) (order-independent); with integer-valued x and y the
  products are EXACT 6-dp grid points, so the round has no tie
  hazard;
- the 2×2 solve is a chained IEEE expression → coefficients are
  ROUNDed HALF_UP at 6 dp (the q276 chain rule) before re-entering
  the next iteration, identically driver-side and oracle-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import spread
from ..functions.determinism import DEC, half_up


def huber_irls(
    base: DataFrame,
    x_expr: str,
    y_expr: str,
    delta: float,
    iters: int,
) -> DataFrame:
    """Huber IRLS census: one row per solve — (iter, b0, b1, n_down,
    sum_w), where (b0, b1) are the coefficients produced BY solve i
    and n_down/sum_w describe the weights USED for that solve
    (all-ones at iteration 0). Iteration 0 is therefore the plain
    (outlier-contaminated) OLS fit and the last row is the Huber fit,
    so the output carries the whole robustness story.

    ``x_expr``/``y_expr`` are SQL strings shared verbatim with the
    DuckDB oracle (the q269 contract). ``delta`` must sit on the 6-dp
    grid.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if delta <= 0 or round(delta, 6) != delta:
        raise ValueError(
            f"delta must be positive on the 6-dp grid: {delta}"
        )
    # spread before the checkpoint (the classify.py gd_train note):
    # without it the checkpoint pins the input's 2-3 parquet splits
    # and every IRLS scan runs nearly single-core.
    b = spread(
        base.selectExpr(
            f"CAST({x_expr} AS DOUBLE) AS x",
            f"CAST({y_expr} AS DOUBLE) AS y",
        )
    ).localCheckpoint(eager=False)  # reused by iters+1 scans
    b0, b1 = 0.0, 0.0
    census: list[tuple] = []
    for it in range(iters + 1):
        if it == 0:
            w = F.lit(1.0)
        else:
            r = F.col("y") - (F.lit(b0) + F.lit(b1) * F.col("x"))
            w = F.when(
                F.abs(r) <= F.lit(delta), F.lit(1.0)
            ).otherwise(F.round(F.lit(delta) / F.abs(r), 6))
        proj = b.select(
            w.alias("w"), "x", "y"
        )

        def s(expr, alias):
            return F.sum(F.round(expr, 6).cast(DEC)).alias(alias)

        row = proj.agg(
            s(F.col("w"), "sw"),
            s(F.col("w") * F.col("x"), "swx"),
            s(F.col("w") * F.col("y"), "swy"),
            s(F.col("w") * F.col("x") * F.col("x"), "swxx"),
            s(F.col("w") * F.col("x") * F.col("y"), "swxy"),
            F.sum(F.when(F.col("w") < 1.0, 1).otherwise(0))
            .cast("long")
            .alias("n_down"),
        ).collect()[0]
        sw, swx, swy = float(row["sw"]), float(row["swx"]), float(row["swy"])
        swxx, swxy = float(row["swxx"]), float(row["swxy"])
        # the identical IEEE tree as the oracle's t{i} CTE, then the
        # chain rule: round at 6 dp before re-entering the plan
        b1 = half_up(
            (sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6
        )
        b0 = half_up((swy - b1 * swx) / sw, 6)
        census.append(
            (it, b0, b1, int(row["n_down"]), half_up(sw, 6))
        )
    return base.sparkSession.createDataFrame(
        census, "iter int, b0 double, b1 double, n_down long, sum_w double"
    ).orderBy("iter")


def theil_sen_gridded(
    base: DataFrame,
    x_expr: str,
    y_expr: str,
) -> DataFrame:
    """Gridded Theil-Sen robust line fit: (stat, value) rows for
    slope_ts / intercept_ts / slope_ols / intercept_ols / n_cells /
    n_pairs (public literature: Theil 1950, Sen 1968).

    The raw estimator is the median of O(n²) pairwise slopes — not a
    100-TB shape. The gridded form restores scale: ONE rollup to the
    bounded x grid taking each cell's EXACT MEDIAN of y (row_number +
    count, no sort cliff: the grid is bounded), then the median of
    the C(cells, 2) pairwise slopes BETWEEN cell medians. Robust at
    both levels: the per-cell median absorbs the outlier shocks the
    cell MEAN would swallow whole, and the median-of-slopes absorbs
    whole bad cells. The OLS contrast is fitted on the RAW rows
    (integer moment sums), so a planted x-independent shock biases
    intercept_ols and leaves intercept_ts on the clean line — the
    q294 robustness story with a second, pair-based robust member.

    Cross-engine exactness (functions/determinism.py): ``x_expr``
    must be a bounded integer grid and ``y_expr`` integer-valued (the
    huber_irls contract); cell medians are then exact integers or
    exact .5 halves, every slope is ONE raw IEEE division of exact
    operands, and both median selections run on (value, tie-break)
    total orders identical in both engines. The OLS moments are exact
    BIGINTs (bounded to ~sf10 for TPC-H magnitudes — beyond that,
    widen to the q276 DECIMAL/HUGEINT string pattern); each OLS
    coefficient is a division/chain of correctly-rounded IEEE
    primitives over exact operands. No ROUND anywhere.
    """
    from pyspark.sql import Window

    b = base.selectExpr(
        f"CAST({x_expr} AS INT) AS x",
        f"CAST({y_expr} AS BIGINT) AS y",
    )
    wcell = Window.partitionBy("x").orderBy("y")
    med = (
        b.select(
            "x",
            "y",
            F.row_number().over(wcell).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("x")).alias("c"),
        )
        .filter("rn = (c + 1) DIV 2 OR rn = (c + 2) DIV 2")
        .groupBy("x")
        .agg(F.avg("y").alias("m"))
    )
    i, j = med.alias("i"), med.alias("j")
    slopes = (
        i.join(j, F.expr("i.x < j.x"))
        .selectExpr(
            "i.x AS xi",
            "j.x AS xj",
            "(j.m - i.m) / CAST(j.x - i.x AS DOUBLE) AS slope",
        )
    )
    wsl = Window.orderBy("slope", "xi", "xj")
    slope_ts = (
        slopes.select(
            "slope",
            F.row_number().over(wsl).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
        )
        .filter("rn = (c + 1) DIV 2 OR rn = (c + 2) DIV 2")
        .agg(F.avg("slope").alias("slope_ts"))
    )
    resid = med.crossJoin(F.broadcast(slope_ts)).selectExpr(
        "x", "m - slope_ts * CAST(x AS DOUBLE) AS r", "slope_ts"
    )
    wr = Window.orderBy("r", "x")
    ts = (
        resid.select(
            "r",
            "slope_ts",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
        )
        .filter("rn = (c + 1) DIV 2 OR rn = (c + 2) DIV 2")
        .groupBy("slope_ts")
        .agg(F.avg("r").alias("intercept_ts"))
    )
    ols = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS BIGINT) * y")).cast("long").alias("sxy"),
        F.sum(F.expr("CAST(x AS BIGINT) * x")).cast("long").alias("sxx"),
    ).selectExpr(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_ols",
        "n", "sx", "sy",
    ).selectExpr(
        "slope_ols",
        "(CAST(sy AS DOUBLE) - slope_ols * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE) AS intercept_ols",
    )
    counts = med.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells")
    ).selectExpr(
        "CAST(n_cells AS DOUBLE) AS n_cells",
        "CAST(n_cells * (n_cells - 1) DIV 2 AS DOUBLE) AS n_pairs",
    )
    return (
        ts.crossJoin(F.broadcast(ols))
        .crossJoin(F.broadcast(counts))
        .selectExpr(
            "stack(6,"
            " 'slope_ts', slope_ts,"
            " 'intercept_ts', intercept_ts,"
            " 'slope_ols', slope_ols,"
            " 'intercept_ols', intercept_ols,"
            " 'n_cells', n_cells,"
            " 'n_pairs', n_pairs) AS (stat, value)"
        )
        .orderBy("stat")
    )
