"""OPQ rotation: geometry, determinism, the planted-anisotropy lift,
the rotation as an argument of the PQ / IVF-PQ paths, and index
persistence with and without a rotation.

The lift test is the load-bearing one: the synthetic sf* embeddings
are near-isotropic (eigenvalue spread <2×), where OPQ ≈ identity by
design, so the operator's value is pinned here on a PLANTED
anisotropic corpus — variance concentrated in a few directions that
deliberately span PQ's contiguous subspace boundaries, the worst case
for identity-slicing PQ and exactly what eigenvalue allocation fixes.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from metadata_ingestion_poc_spark.operators.opq import (
    _allocate_eigs,
    opq_train_rotation,
    rotate_vectors,
    save_opq_rotation,
)
from metadata_ingestion_poc_spark.operators.pq import (
    ivfpq_build,
    ivfpq_topk,
    ivfpq_topk_with_index,
    load_ivfpq_index,
    load_pq_index,
    pq_ann_topk,
    pq_build,
    pq_reconstruction_stats,
    pq_topk_with_index,
    pq_train,
    save_ivfpq_index,
    save_pq_index,
)
from metadata_ingestion_poc_spark.operators.similarity import cosine_topk

D, M, KSUB, N = 16, 4, 8, 400
STALE_ROTATION = [[1.0 if i == D - 1 - j else 0.0 for j in range(D)]
                  for i in range(D)]


def _planted_rows():
    """Anisotropic corpus: 4 dominant directions (var 4.0) from a
    seeded random orthogonal basis, the rest near-noise (var 0.0025).
    The dominant directions mix ALL original coordinates, so identity
    PQ sees high variance smeared across every contiguous subspace."""
    rng = np.random.RandomState(7)
    Q, _ = np.linalg.qr(rng.randn(D, D))
    scales = np.full(D, 0.05)
    scales[:4] = 2.0
    X = (rng.randn(N, D) * scales) @ Q.T
    return [(i, [round(float(v), 6) for v in X[i]]) for i in range(N)]


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        _planted_rows(), "vec_id int, embedding array<double>"
    ).cache()


@pytest.fixture(scope="module")
def rotation(planted):
    return opq_train_rotation(planted, dims=D, m=M)


def test_rotation_is_orthogonal(rotation):
    R = np.array(rotation)
    assert R.shape == (D, D)
    # entries are 6-dp rounded, so orthogonality holds to ~1e-4
    assert np.abs(R @ R.T - np.eye(D)).max() < 1e-4


def test_rotation_deterministic(planted, rotation):
    again = opq_train_rotation(planted, dims=D, m=M)
    assert again == rotation


def test_rotation_preserves_dots(spark, planted, rotation):
    rows = planted.orderBy("vec_id").limit(20).collect()
    X = np.array([r["embedding"] for r in rows])
    rot = rotate_vectors(
        planted.filter(F.col("vec_id") < 20).orderBy("vec_id"), rotation
    ).collect()
    Y = np.array([r["embedding"] for r in rot])
    assert np.abs(X @ X.T - Y @ Y.T).max() < 1e-3


def test_allocation_balances_products():
    # 8 eigendirections into 4 buckets of 2: the greedy pairs the
    # largest remaining with the smallest log-product bucket, so
    # products even out — and every bucket is exactly full.
    ev = [256.0, 64.0, 16.0, 4.0, 1.0, 0.25, 0.0625, 0.015625]
    buckets = _allocate_eigs(ev, 4, 2)
    assert sorted(len(b) for b in buckets) == [2, 2, 2, 2]
    assert sorted(i for b in buckets for i in b) == list(range(8))
    prods = [np.prod([ev[i] for i in b]) for b in buckets]
    naive = [ev[0] * ev[1], ev[2] * ev[3], ev[4] * ev[5], ev[6] * ev[7]]
    assert max(prods) / min(prods) < max(naive) / min(naive)


def _total_distortion(df, books):
    rows = pq_reconstruction_stats(
        df, books, dims=D, cache=False
    ).collect()
    return sum(r["sum_d2"] for r in rows)


def test_planted_anisotropy_distortion_lift(planted, rotation):
    """The headline claim: on anisotropic data, quantizing in the
    rotated basis cuts total squared reconstruction error by a large
    factor (~20× at this fixture's spectrum) vs identity-subspace PQ
    with the identical codebook budget."""
    books_id = pq_train(planted, dims=D, m=M, ksub=KSUB, iterations=3)
    d_id = _total_distortion(planted, books_id)
    rot_df = rotate_vectors(planted, rotation).localCheckpoint(
        eager=True
    )
    books_r = pq_train(rot_df, dims=D, m=M, ksub=KSUB, iterations=3)
    d_r = _total_distortion(rot_df, books_r)
    assert d_r * 3 < d_id, (
        f"OPQ distortion {d_r} not well below identity-PQ {d_id}"
    )


def test_planted_anisotropy_recall_lift(spark, planted):
    """Recall against brute force: OPQ must not lose to identity PQ on
    the planted corpus (both fully deterministic, so this compares
    exact reproducible quantities)."""
    q = planted.filter(F.col("vec_id") < 40)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, planted, k=5).collect()
    }
    dial = dict(k=5, m=M, ksub=KSUB, iterations=2, rerank=25, dims=D)
    got_id = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(q, planted, **dial).collect()
    }
    got_opq = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(q, planted, opq=True, **dial).collect()
    }
    r_id = len(exact & got_id) / len(exact)
    r_opq = len(exact & got_opq) / len(exact)
    assert r_opq >= r_id, (
        f"OPQ recall {r_opq} lost to identity PQ {r_id} on anisotropic "
        f"data"
    )
    assert r_opq >= 0.9, f"OPQ recall unexpectedly low: {r_opq}"


def test_opq_topk_shape_and_ranks(spark, planted):
    q = planted.filter(F.col("vec_id") < 8)
    out = pq_ann_topk(
        q, planted, k=5, m=M, ksub=KSUB, iterations=1, rerank=20, dims=D,
        opq=True,
    )
    rows = out.collect()
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine",
                                "rank"}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(range(8))
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


@pytest.mark.parametrize("opq", [False, True], ids=["plain", "opq"])
def test_pq_reload_equals_rebuild(spark, planted, tmp_path, opq):
    rotation, books, codes = pq_build(
        planted, m=M, ksub=KSUB, iterations=1, dims=D, opq=opq
    )
    assert (rotation is not None) == opq
    path = str(tmp_path / "pq_idx")
    # an earlier OPQ save at the same path: a plain re-save must not
    # reload its rotation beside the new codebooks
    save_opq_rotation(spark, STALE_ROTATION, f"{path}/rotation")
    save_pq_index(spark, books, codes, path, rotation=rotation)
    r2, b2, c2 = load_pq_index(spark, path)
    assert r2 == rotation
    assert b2 == books
    q = planted.filter(F.col("vec_id") < 10)
    fresh = pq_topk_with_index(
        q, codes, books, planted, k=5, rerank=20, dims=D,
        rotation=rotation,
    ).collect()
    reloaded = pq_topk_with_index(
        q, c2, b2, planted, k=5, rerank=20, dims=D, rotation=r2
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(fresh, key=key) == sorted(reloaded, key=key)


@pytest.mark.parametrize("opq", [False, True], ids=["plain", "opq"])
def test_ivfpq_reload_equals_rebuild(spark, planted, tmp_path, opq):
    cents, rotation, books, coded = ivfpq_build(
        planted, n_cells=8, m=M, ksub=KSUB, iterations=1, dims=D, opq=opq
    )
    assert (rotation is not None) == opq
    coded = coded.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq_idx")
    save_opq_rotation(spark, STALE_ROTATION, f"{path}/rotation")
    save_ivfpq_index(spark, cents, books, coded, path, rotation=rotation)
    c2, r2, b2, coded2 = load_ivfpq_index(spark, path)
    assert c2 == cents
    assert r2 == rotation
    assert b2 == books
    q = planted.filter(F.col("vec_id") < 10)
    fresh = ivfpq_topk_with_index(
        q, cents, books, coded, planted,
        k=5, nprobe=4, rerank=30, dims=D, rotation=rotation,
    ).collect()
    reloaded = ivfpq_topk_with_index(
        q, c2, b2, coded2, planted,
        k=5, nprobe=4, rerank=30, dims=D, rotation=r2,
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(fresh, key=key) == sorted(reloaded, key=key)


def test_opq_ivfpq_topk_one_call(spark, planted):
    q = planted.filter(F.col("vec_id") < 8)
    rows = ivfpq_topk(
        q, planted, k=5, n_cells=8, nprobe=8, m=M, ksub=KSUB,
        iterations=1, rerank=50, dims=D, opq=True,
    ).collect()
    # nprobe == n_cells probes everything: with a generous rerank the
    # composed path must agree with brute force on the planted corpus
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, planted, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"full-probe OPQ-IVF-PQ recall low: {recall}"


def test_identity_rotation_equals_no_rotation(spark, planted):
    """An identity rotation adds only exact zeros to each query
    component, so the lookup table — and with it every returned row —
    is bit-equal to querying with ``rotation=None``, on both paths."""
    identity = [[float(i == j) for j in range(D)] for i in range(D)]
    q = planted.filter(F.col("vec_id") < 10)
    rows = lambda df: sorted(df.collect(), key=lambda r: (r.query_id, r.rank))
    _, books, codes = pq_build(planted, m=M, ksub=KSUB, iterations=1,
                               dims=D)
    pq_args = (q, codes, books, planted)
    pq_kw = dict(k=5, rerank=20, dims=D)
    assert rows(pq_topk_with_index(*pq_args, **pq_kw)) == rows(
        pq_topk_with_index(*pq_args, rotation=identity, **pq_kw)
    )
    cents, _, books, coded = ivfpq_build(
        planted, n_cells=8, m=M, ksub=KSUB, iterations=1, dims=D
    )
    ivf_args = (q, cents, books, coded, planted)
    ivf_kw = dict(k=5, nprobe=4, rerank=30, dims=D)
    assert rows(ivfpq_topk_with_index(*ivf_args, **ivf_kw)) == rows(
        ivfpq_topk_with_index(*ivf_args, rotation=identity, **ivf_kw)
    )


def test_opq_build_needs_two_rows(spark):
    """A 1-row corpus has no covariance: both OPQ builds raise the
    rotation trainer's ValueError (plain PQ on the same corpus
    builds)."""
    one = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id int, embedding array<double>"
    )
    pq_build(one, m=2, ksub=1, iterations=1, dims=4)
    with pytest.raises(ValueError, match="needs >= 2 rows"):
        pq_build(one, m=2, ksub=1, iterations=1, dims=4, opq=True)
    with pytest.raises(ValueError, match="needs >= 2 rows"):
        ivfpq_build(one, n_cells=1, m=2, ksub=1, iterations=1, dims=4,
                    opq=True)
