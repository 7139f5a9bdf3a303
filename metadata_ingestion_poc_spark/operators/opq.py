"""Optimized Product Quantization (OPQ): the data-trained orthogonal
rotation the PQ and IVF-PQ paths of operators/pq.py apply when built
with ``opq=True``.

PQ slices vectors into m CONTIGUOUS subspaces and quantizes each
independently, so its distortion depends on how the data's variance
happens to fall across that fixed slicing: a corpus whose dominant
directions span subspace boundaries (or pile into one slice) wastes
most of the codebook budget. OPQ fixes the basis, not the budget —
learn an orthogonal d×d rotation R, quantize Rx instead of x. This is
the parametric solution of Ge, He, Ke & Sun, "Optimized Product
Quantization" (CVPR 2013 / TPAMI 2014) — public literature, built
Spark-first here: eigendecompose the data covariance and allocate
eigenvectors to subspaces balancing the per-subspace variance PRODUCT
(the paper's independence+balance criterion under a Gaussian
assumption). No alternating Procrustes loop: the parametric form
needs ONE covariance pass instead of per-iteration d×d cross-moment
passes, and on near-Gaussian data reaches most of the lift.

This module is the rotation alone — training, the codegen matvec and
the `rotation/` wire format. How the index paths compose it:

- **Training** adds exactly ONE bounded-statistics pass over what PQ
  already pays: the d-group mean rollup + d(d+1)/2-group covariance
  rollup from operators/pca.py (map-side combined; the exchange is
  bounded by d², never by rows). The eigendecomposition runs
  driver-side on the collected d×d matrix — numpy.linalg.eigh on a
  64×64 symmetric matrix, a constant-size object at any corpus scale
  (the power_iteration boundedness argument). Determinism: the
  covariance entries are 6-dp decimal-deterministic under any
  partitioning, eigh is deterministic for identical input on a given
  machine, eigenvalue order is a STABLE descending sort, and each
  eigenvector's sign is fixed (largest-|component| positive, first
  index on ties) — so the rotation literal is reproducible
  build-to-build.
- **Rotation** is pure codegen, zero shuffle: R enters every scan as
  ONE nested-array literal (d² 6-dp doubles — at d=64 the same plan-
  text class as the IVF-PQ reconstruction-norm table) and y = Rx is a
  transform/zip_with matvec per row, fused into the SAME scan that
  slices and encodes — the coding scan stays one zero-shuffle pass.
- **Query**: the ADC lookup table is built from the rotated query
  against the rotated-space codebooks. Because R is orthogonal,
  <Rq, Rx> = <q, x> and norms are preserved, so ADC scores in the
  rotated space estimate the SAME cosine — and the exact re-rank runs
  in the ORIGINAL space against the untouched corpus, producing
  bit-identical exact scores to the unrotated paths (the 6-dp
  rounding of R never touches the reported cosines).
- **IVF-PQ**: the rotation is trained on the RESIDUALS (what the
  codebooks actually see) and applied inside the single coding scan;
  the coarse probe and the <q, c_cell> term stay in the original
  space, and the reconstruction norm uses ‖c + Rᵀr̂‖ = ‖Rc + r̂‖.

Where it helps: anisotropic corpora (the common case for learned
embeddings after projection heads) — pinned in tests/test_opq.py with
a planted-anisotropy fixture where OPQ cuts PQ distortion ~20× and
strictly lifts recall. Where it can't: the synthetic test embeddings
are near-isotropic (covariance eigenvalue spread <2×, per-subspace
variance products already balanced), so at sf0.1 OPQ is pinned as
"no regression vs plain PQ" rather than a lift; and composed IVF-PQ
recall at a given nprobe is CEILINGED by the probed cells (residual
PQ already reaches that ceiling exactly, see
tests/test_ann_recall_sf01.py), so no quantizer improvement can raise
it — OPQ's value there is holding the ceiling at cheaper dials.

Reference parity note: the reference repo (metadata_ingestion, 249
LoC) has no similarity-search surface; this operator belongs to the
[EXT] LLM-data-pipeline family the build brief adds on top.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import checked_base
from ..functions.determinism import half_up, sql_array
from .pca import covariance_upper, dim_means

Rotation = list[list[float]]  # rows = rotated dims; y = R @ x


# ---------------------------------------------------------------------------
# rotation training (driver-side on bounded d×d statistics)
# ---------------------------------------------------------------------------


def _eigh_desc(
    cov_upper: Mapping[tuple[int, int], float], dims: int
) -> tuple[list[float], list[list[float]]]:
    """Eigenvalues (descending, stable) + sign-fixed eigenvectors of
    the symmetric matrix given by its 1-indexed upper triangle.
    Driver-side numpy on a d×d constant-size object; input entries are
    6-dp decimal-deterministic, order and signs are fixed explicitly,
    so the output reproduces build-to-build."""
    C = np.zeros((dims, dims))
    for (i, j), v in cov_upper.items():
        C[i - 1, j - 1] = v
        C[j - 1, i - 1] = v
    ev, U = np.linalg.eigh(C)
    order = np.argsort(-ev, kind="stable")
    ev, U = ev[order], U[:, order]
    vecs: list[list[float]] = []
    for c in range(dims):
        v = U[:, c]
        pivot = int(np.argmax(np.abs(v)))  # first index on ties
        if v[pivot] < 0:
            v = -v
        vecs.append([float(x) for x in v])
    return [float(x) for x in ev], vecs


def _allocate_eigs(
    eigvals: Sequence[float], m: int, dsub: int
) -> list[list[int]]:
    """Eigenvalue allocation (Ge et al. §parametric): walk eigen-
    directions in descending-variance order, assigning each to the
    non-full bucket with the smallest current log-variance PRODUCT
    (lowest bucket index on ties) — the greedy balance of the paper's
    independence+balance objective. Returns m buckets of dsub
    eigenvector indices each."""
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i, lam in enumerate(eigvals):
        cands = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(cands, key=lambda b: (logs[b], b))
        buckets[b].append(i)
        logs[b] += math.log(max(lam, 1e-12))
    return buckets


def opq_rotation_from_cov(
    cov_upper: Mapping[tuple[int, int], float], dims: int, m: int
) -> Rotation:
    """Rotation matrix (rows = rotated dims, y = R @ x) from a
    covariance upper triangle: eigendecompose, allocate eigenvectors
    to the m subspaces balancing variance products, round entries at
    6 dp (the literal-compactness discipline; orthogonality holds to
    ~1e-5, and nothing downstream depends on it exactly — the exact
    re-rank runs in the original space)."""
    if dims % m:
        raise ValueError(
            f"opq_rotation_from_cov: dims={dims} not divisible by m={m}"
        )
    ev, vecs = _eigh_desc(cov_upper, dims)
    buckets = _allocate_eigs(ev, m, dims // m)
    return [
        [half_up(x, 6) for x in vecs[i]]
        for bucket in buckets
        for i in bucket
    ]


def opq_train_rotation(
    df: DataFrame,
    id_col: str | None = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    cache: bool = True,
    n_rows: int | None = None,
) -> Rotation:
    """Train an OPQ rotation from a vector frame: one mean pass + one
    covariance pass (both bounded-exchange, see operators/pca.py),
    then driver-side eigen-allocation. Validates through
    `checked_base` like every trainer (a poisoned vector would
    silently drop out of the covariance sums); callers holding an
    already-validated frame pass its row count as ``n_rows`` to skip
    the re-validation (the ivf_build_index convention)."""
    if n_rows is None:
        df, _, n_rows = checked_base(
            df, id_col, vec_col, cache, "opq_train_rotation", dims=dims
        )
    if n_rows < 2:
        raise ValueError(
            f"opq_train_rotation: needs >= 2 rows, got {n_rows}"
        )
    means = dim_means(df, vec_col, n_rows)
    cov = covariance_upper(df, vec_col, dims, means, n_rows)
    return opq_rotation_from_cov(cov, dims, m)


# ---------------------------------------------------------------------------
# rotation application (codegen literal matvec, zero shuffle)
# ---------------------------------------------------------------------------


def rotation_expr(vec_col: str, rotation: Rotation) -> str:
    """y = R x as ONE codegen expression: the rotation enters as a
    nested array literal (d² 6-dp doubles) and each output component
    is a zip_with dot product — no join, no shuffle, fuses into
    whatever scan projects it."""
    return (
        f"transform({sql_array(rotation)}, rw -> "
        f"aggregate(zip_with(rw, {vec_col}, "
        f"(r, x) -> r * cast(x as double)), 0.0D, (a, v) -> a + v))"
    )


def rotate_vectors(
    df: DataFrame, rotation: Rotation, vec_col: str = "embedding"
) -> DataFrame:
    """Replace ``vec_col`` with its rotation — a per-row codegen map
    preserving every other column."""
    return df.withColumn(vec_col, F.expr(rotation_expr(vec_col, rotation)))


# ---------------------------------------------------------------------------
# persistence (build nightly, query all day)
# ---------------------------------------------------------------------------


def save_opq_rotation(spark, rotation: Rotation, path: str) -> None:
    """Rotation wire format: (i, row) — one parquet row per rotated
    dimension, 1-indexed; the `rotation/` directory of a PQ or IVF-PQ
    index. Zero rows (an empty `rotation`) record "no rotation"."""
    spark.createDataFrame(
        [(i + 1, list(row)) for i, row in enumerate(rotation)],
        "i int, row array<double>",
    ).write.mode("overwrite").parquet(path)


def load_opq_rotation(spark, path: str) -> Rotation | None:
    """The rotation saved at ``path``, or None for an index built
    without OPQ (zero rows, or no ``path`` in older layouts)."""
    try:
        rows = {
            r["i"]: [float(x) for x in r["row"]]
            for r in spark.read.parquet(path).collect()
        }
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    return [rows[i] for i in sorted(rows)] or None
