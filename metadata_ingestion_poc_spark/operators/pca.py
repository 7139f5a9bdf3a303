"""PCA top principal component over an embedding column: one
distributed covariance pass + power iteration on the bounded d×d
sketch.

The LLM-curation use: embedding whitening / dominant-direction removal
(the "all-but-the-top" post-processing trick) and drift diagnosis need
the top eigenvector of the embedding covariance. The 100-TB shape:

- **Means**: one posexplode → d-group rollup (map-side combine; the
  exchange carries d decimal sums per input partition).
- **Covariance**: ONE pass — each row expands to its d(d+1)/2 upper-
  triangle centered products via nested codegen transforms (no
  self-join, no second shuffle of the corpus), then a (i, j) rollup
  with d(d+1)/2 groups. The exchange is bounded by d², not by rows.
- **Power iteration**: driver-side on the collected d×d matrix — a
  CONSTANT-size object at any corpus scale (d=64 → 2,080 doubles), the
  same bounded-collect class as percentile cut frames. Nothing
  row-scale ever reaches the driver.

Cross-engine determinism (q246's DuckDB-oracle contract): every
product term is rounded at 6 dp and decimal-summed; means/cov entries
are ROUND(sum/n, 6) one-double-division values; the iteration's
matrix-vector products and norms follow the identical
round-terms-then-exact-sum discipline, so the full trajectory replays
bit-identically in unrolled SQL. sqrt is IEEE correctly rounded on
both engines; v0 = 1/sqrt(d) is chosen with d a power of two so the
starting vector is exact."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import checked_base
from ..functions.determinism import DEC, half_up, sql_array

_Q12 = Decimal("1e-12")


def _dec12(v: float) -> Decimal:
    """Exact 12-dp decimal of a double that is (within half an ulp of)
    a 12-dp grid point — e.g. the product of two 6-dp values. The
    quantize can never hit a tie because the true value sits ON the
    grid and the double is within 1e-16 of it."""
    return Decimal(repr(v)).quantize(_Q12, rounding=ROUND_HALF_UP)


def dim_means(df: DataFrame, vec_col: str, n: int) -> list[float]:
    """Per-dimension mean, ROUND(decimal-sum / n, 6). One exchange."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast("double").cast(DEC)).alias("s"))
        .collect()
    )
    by_pos = {r["pos"]: r["s"] for r in rows}
    return [
        half_up(float(by_pos[p]) / n, 6) for p in sorted(by_pos)
    ]


def covariance_upper(
    df: DataFrame, vec_col: str, dims: int, means: Sequence[float], n: int
) -> dict[tuple[int, int], float]:
    """Upper-triangle sample covariance (1-indexed dims): per-row
    centered products via nested transforms (codegen, no self-join),
    one d(d+1)/2-group rollup, ROUND(sum/(n-1), 6) driver division.
    The collect is bounded at d(d+1)/2 rows by construction."""
    rows = covariance_rollup(df, vec_col, dims, means).collect()
    return {
        (r["i"], r["j"]): half_up(float(r["s"]) / (n - 1), 6)
        for r in rows
    }


def covariance_rollup(
    df: DataFrame, vec_col: str, dims: int, means: Sequence[float]
) -> DataFrame:
    """The distributed half of :func:`covariance_upper` — the
    d(d+1)/2-group decimal-sum frame BEFORE the bounded collect.
    Exposed so plan contracts pin the real operator's shape (no
    corpus self-join, exchanges bounded by d²)."""
    marr = sql_array(means)
    cells = (
        f"flatten(transform(sequence(1, {dims}), i -> "
        f"transform(sequence(i, {dims}), j -> named_struct("
        f"'i', i, 'j', j, 'p', round("
        f"(cast(element_at({vec_col}, i) as double)"
        f" - element_at({marr}, i))"
        f" * (cast(element_at({vec_col}, j) as double)"
        f" - element_at({marr}, j)), 6)))))"
    )
    # explode_outer, not explode — the dedup.py shingle_index lesson:
    # plain explode over a computed array gets an inferred size()>0
    # filter pushed below the projection with the WHOLE d(d+1)/2
    # product expression inlined, re-evaluating it twice per row. The
    # array is never empty (dims >= 1), so outer+isNotNull is
    # value-identical.
    return (
        df.select(F.explode_outer(F.expr(cells)).alias("c"))
        .filter(F.col("c").isNotNull())
        .select("c.i", "c.j", F.col("c.p").cast(DEC).alias("p"))
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )


def power_iteration(
    cov_upper: dict[tuple[int, int], float], dims: int, iterations: int
) -> tuple[list[float], float]:
    """Dominant eigenvector/-value of the symmetric matrix given by
    its upper triangle. Pure driver math on the bounded d×d sketch,
    mirroring the SQL replay step-for-step: matrix-vector terms
    rounded at 6 then exact-decimal-summed, norm = sqrt of the exact
    sum of rounded squares, components ROUND(u/norm, 6)."""
    full = dict(cov_upper)
    for (i, j), c in cov_upper.items():
        if i != j:
            full[(j, i)] = c
    v = [half_up(1.0 / dims ** 0.5, 6)] * dims
    norm = 0.0
    for _ in range(iterations):
        # The product of two 6-dp decimals is EXACTLY a 12-dp decimal,
        # so quantizing at 12 dp recovers it with no rounding boundary
        # — rounding at 6 here is the q188 tie trap (v0 = 0.125 puts
        # 1/8 of the products exactly on 5e-7 boundaries, where Spark
        # and DuckDB ROUND disagree by one ulp).
        u = [
            float(
                sum(
                    (
                        _dec12(full.get((i, j), 0.0) * v[j - 1])
                        for j in range(1, dims + 1)
                    ),
                    Decimal(0),
                )
            )
            for i in range(1, dims + 1)
        ]
        norm = float(
            sum(
                (Decimal(repr(half_up(x * x, 6))) for x in u), Decimal(0)
            )
        ) ** 0.5
        if norm == 0.0:
            # zero covariance (constant input): no dominant direction.
            # Return the current unit vector with eigenvalue 0 rather
            # than dividing by zero — the documented degenerate
            # contract (constant data never reaches the SQL replay).
            return v, 0.0
        v = [half_up(x / norm, 6) for x in u]
    return v, half_up(norm, 6)


def pca_top_component(
    df: DataFrame, vec_col: str, dims: int, iterations: int, cache: bool = True
) -> tuple[list[float], float]:
    """Top principal component (loadings, eigenvalue estimate).

    The projected vector column is localCheckpointed once so the
    means and covariance jobs scan a compact columnar copy instead of
    re-executing an expensive upstream plan per pass (the
    kmeans_lloyd discipline); ``cache=False`` opts out. Input is
    validated through ``execution.checked_base`` (NULL vectors,
    NULL elements, ragged or mis-declared lengths all fail loud —
    element_at would otherwise return NULL and F.sum silently drop
    those terms, quietly skewing means and covariance)."""
    base, _, n = checked_base(
        df, None, vec_col, cache, "pca_top_component", dims=dims
    )
    if n < 2:
        raise ValueError(
            f"pca_top_component: needs >= 2 rows for a sample "
            f"covariance, got {n}"
        )
    means = dim_means(base, vec_col, n)
    cov = covariance_upper(base, vec_col, dims, means, n)
    return power_iteration(cov, dims, iterations)
