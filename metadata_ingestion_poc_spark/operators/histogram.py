"""V-optimal histogram construction — the classic OLAP summary
(Jagadish, Koudas, Muthukrishnan, Poosala, Sevcik & Suel, "Optimal
Histograms with Quality Guarantees", VLDB 1998 — public literature):
partition a sorted frequency vector into B buckets minimizing the
total within-bucket sum of squared errors, the histogram a
cost-based optimizer wants for selectivity estimation where
equi-width/equi-depth can be arbitrarily bad.

The 100-TB shape: the DATA-sized work is ONE map-combined frequency
rollup to the value grid; the DP runs driver-side on the collected
grid — O(B·n²) over a BOUNDED n (a histogram's grid is a design
constant: quantity grades, length buckets, price bands — the same
boundedness class as percentile cut frames and k-means state), and
the result re-enters Spark as a literal frame (the q248 k-center /
q253 set-cover trajectory precedent). Nothing row-scale ever reaches
the driver.

Cross-engine determinism (the oracle replays the FULL DP as unrolled
MATERIALIZED layers): prefix sums are exact integers; each bucket
cost SSE(i,j) = Q − S²/cnt is ONE integer division chained once then
ROUNDed at 6 dp (the q276 chain rule) and accumulated in exact
decimals, so every dp cell is an exact decimal and the argmin
tie-break (cost, smaller split) resolves identically in both engines.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.determinism import half_up


def _sse6(q: int, s: int, cnt: int) -> Decimal:
    """ROUND(Q − S²/cnt, 6) as an exact decimal — the identical IEEE
    tree as the oracle's expression (one integer division, one
    subtraction, then the 6-dp round)."""
    return Decimal(repr(half_up(float(q) - float(s * s) / cnt, 6)))


def voptimal_from_grid(
    grid: list[tuple[int, int]], buckets: int
) -> list[tuple[int, int, int, int, int, float]]:
    """DP over a sorted (value, freq) grid: returns one row per
    bucket — (bucket, lo, hi, n_cells, sum_f, sse). Pure driver math
    on the bounded grid, exposed for the from-scratch exhaustive
    equality test."""
    n = len(grid)
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if n < buckets:
        raise ValueError(
            f"grid has {n} cells < {buckets} buckets — every bucket "
            f"must be non-empty"
        )
    vals = [v for v, _ in grid]
    if vals != sorted(vals) or len(set(vals)) != n:
        raise ValueError("grid must be sorted on distinct values")
    P = [0] * (n + 1)
    Q = [0] * (n + 1)
    for j, (_, f) in enumerate(grid, start=1):
        P[j] = P[j - 1] + f
        Q[j] = Q[j - 1] + f * f

    def sse(i: int, j: int) -> Decimal:  # cells i..j, 1-indexed
        return _sse6(Q[j] - Q[i - 1], P[j] - P[i - 1], j - i + 1)

    # dp[b][j] = (cost, split): best cost of covering cells 1..j with
    # b buckets; split = last boundary (end cell of bucket b-1).
    # Ties break on the SMALLER split, matching the oracle's
    # ORDER BY cost, i.
    dp = [dict[int, tuple[Decimal, int]]() for _ in range(buckets + 1)]
    for j in range(1, n + 1):
        dp[1][j] = (sse(1, j), 0)
    for b in range(2, buckets + 1):
        for j in range(b, n + 1):
            best = None
            for i in range(b - 1, j):
                cand = (dp[b - 1][i][0] + sse(i + 1, j), i)
                if best is None or cand < best:
                    best = cand
            dp[b][j] = best
    # backtrack boundaries
    bounds = [n]
    for b in range(buckets, 1, -1):
        bounds.append(dp[b][bounds[-1]][1])
    bounds.append(0)
    bounds.reverse()  # [0, r1, ..., rB = n]
    out = []
    for b in range(1, buckets + 1):
        lo_c, hi_c = bounds[b - 1] + 1, bounds[b]
        out.append(
            (
                b,
                grid[lo_c - 1][0],
                grid[hi_c - 1][0],
                hi_c - lo_c + 1,
                P[hi_c] - P[lo_c - 1],
                float(sse(lo_c, hi_c)),
            )
        )
    return out


MAX_GRID_CELLS = 100_000


def voptimal_histogram(
    df: DataFrame,
    value_expr: str,
    buckets: int,
    max_grid_cells: int = MAX_GRID_CELLS,
) -> DataFrame:
    """V-optimal histogram of an integer grid expression: ONE
    frequency rollup (the only data-sized exchange), a bounded grid
    collect, the driver DP, and a literal result frame.

    ``value_expr`` must map rows to a BOUNDED integer grid (the
    caller's design contract — e.g. FLOOR(length/width), a grade
    column, a price band); an unbounded expression would make the
    collect row-scale, which is exactly what this operator exists to
    avoid. ENFORCED (round 13): the grid cardinality is counted
    distributed-side first and anything above ``max_grid_cells``
    fails loudly instead of OOMing the driver — pre-bucket the
    expression (coarser FLOOR divisor) and retry."""
    grid_df = (
        df.selectExpr(f"CAST({value_expr} AS INT) AS v")
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .orderBy("v")
    )
    grid_df = grid_df.cache()  # one scan serves both the cap check
    try:                       # and the bounded collect
        n_cells = grid_df.count()
        if n_cells > max_grid_cells:
            raise ValueError(
                f"v-optimal grid has {n_cells} distinct cells > cap "
                f"{max_grid_cells}: '{value_expr}' is not a bounded "
                "grid expression — coarsen it (e.g. a larger FLOOR "
                "divisor) before the DP"
            )
        grid = [(int(r["v"]), int(r["f"])) for r in grid_df.collect()]
    finally:
        grid_df.unpersist()
    rows = voptimal_from_grid(grid, buckets)
    return df.sparkSession.createDataFrame(
        rows,
        "bucket int, lo int, hi int, n_cells int, sum_f long, sse double",
    ).orderBy("bucket")
