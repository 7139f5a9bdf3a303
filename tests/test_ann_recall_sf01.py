"""sf0.1 recall floors for every approximate similarity path.

The small-SF tests in test_similarity.py / test_dedup.py guard wiring;
these gates guard GEOMETRY — a regression in hyperplane generation,
centroid seeding, or band layout can keep row counts and determinism
intact while recall quietly collapses, and the driver's rows-only check
for q56/q58/q90 would never see it. Each floor is measured against
brute force over a 300-query subset at sf0.1 and pinned with the
margin recorded in SCALING.md §ANN. Every path is deterministic
(splitmix64 hyperplanes, id-seeded centroids, pure-function bucketing),
so the measured recall reproduces exactly — the floors are tight by
design, not flaky.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.catalog import load_table
from metadata_ingestion_poc_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    lsh_ann_topk,
)
from metadata_ingestion_poc_spark.queries import QUERIES

SF01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF01), reason="sf0.1 testdata not present"
)


@pytest.fixture(scope="module")
def emb01(spark):
    return load_table(spark, SF01, "embeddings").cache()


@pytest.fixture(scope="module")
def exact_topk(spark, emb01):
    q = emb01.filter(F.col("vec_id") < 300)
    return {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, emb01, k=10).collect()
    }


@pytest.fixture(scope="module")
def ivf_recall(spark, emb01, exact_topk):
    # q90's path: ann_topk defaults (ivf, 32 cells, nprobe 16).
    q = emb01.filter(F.col("vec_id") < 300)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk(q, emb01, k=10).collect()
    }
    return len(exact_topk & approx) / len(exact_topk)


@pytest.fixture(scope="module")
def pq_recalls(spark, emb01, exact_topk):
    """(speed-dial recall, quality-dial recall) for plain PQ — shared
    by the floor test and the dominance-ordering test."""
    from metadata_ingestion_poc_spark.operators.pq import (
        pq_encode,
        pq_topk_with_index,
        pq_train,
    )

    q = emb01.filter(F.col("vec_id") < 300)
    out = []
    for ksub, iters, rerank in ((16, 1, 150), (32, 2, 400)):
        books = pq_train(emb01, ksub=ksub, iterations=iters)
        codes = pq_encode(emb01, books).localCheckpoint(eager=True)
        got = {
            (r.query_id, r.neighbor_id)
            for r in pq_topk_with_index(
                q, codes, books, emb01, k=10, rerank=rerank
            ).collect()
        }
        out.append(len(exact_topk & got) / len(exact_topk))
    return tuple(out)


@pytest.fixture(scope="module")
def ivfpq_recall(spark, emb01, exact_topk):
    """Recall at the registered q254 dial (residual-encoded IVFADC:
    32 cells, nprobe 16, m=16, ksub=32, 1 train iter, rerank 400)."""
    from metadata_ingestion_poc_spark.operators.pq import ivfpq_topk

    q = emb01.filter(F.col("vec_id") < 300)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            q, emb01, k=10, nprobe=16, m=16, ksub=32,
            iterations=1, rerank=400,
        ).collect()
    }
    return len(exact_topk & approx) / len(exact_topk)


@pytest.fixture(scope="module")
def opq_recalls(spark, emb01, exact_topk):
    """(OPQ-PQ cheap-dial recall, OPQ-IVF-PQ q290-dial recall)."""
    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_topk,
        pq_ann_topk,
    )

    q = emb01.filter(F.col("vec_id") < 300)
    pq = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(
            q, emb01, k=10, m=8, ksub=16, iterations=1, rerank=150,
            opq=True,
        ).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            q, emb01, k=10, nprobe=16, m=16, ksub=32,
            iterations=1, rerank=400, opq=True,
        ).collect()
    }
    return (
        len(exact_topk & pq) / len(exact_topk),
        len(exact_topk & ivfpq) / len(exact_topk),
    )


def test_ivf_recall_floor_sf01(ivf_recall):
    # Measured 0.8173 on 2026-08-14.
    assert ivf_recall >= 0.8, f"IVF sf0.1 recall regressed: {ivf_recall}"


def test_lsh_topk_recall_floor_sf01(spark, emb01, exact_topk):
    # q56's path: 5 planes x 12 tables. Measured 0.6727 on 2026-08-14.
    q = emb01.filter(F.col("vec_id") < 300)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(
            q, emb01, k=10, n_planes=5, n_tables=12
        ).collect()
    }
    recall = len(exact_topk & approx) / len(exact_topk)
    assert recall >= 0.6, f"LSH sf0.1 recall regressed: {recall}"


def test_embedding_near_dup_recall_floor_sf01(spark):
    # q58's path vs the q57 exact audit subset (vec_id < 300, cosine
    # >= 0.3). q58 verifies exact cosine on its candidates, so inside
    # the subset its pairs must be a strict subset of q57's; recall is
    # the LSH candidate-generation dial. Measured 0.649 on 2026-08-14.
    exact = {
        (r.id_a, r.id_b)
        for r in QUERIES["q57_cosine_near_dup_exact"](spark, SF01).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in QUERIES["q58_cosine_near_dup_lsh"](spark, SF01).collect()
        if r.id_a < 300 and r.id_b < 300
    }
    assert got <= exact, "verified pairs must be a subset of exact pairs"
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"near-dup sf0.1 recall regressed: {recall}"


def test_pq_recall_floors_sf01(pq_recalls):
    """PQ ADC + exact re-rank recall vs brute force (round 10).

    Two pinned operating points, both deterministic (id-hash seeds,
    decimal training sums, total-ordered rankings):
    - the registered q250 dial (m=8, ksub=16, 1 iter, rerank=150):
      measured 0.641 on 2026-08-15 — the cheap compressed-domain scan.
    - the quality dial (ksub=32, 2 iters, rerank=400): measured
      0.9457 — the recall/cost dial's other end, still scanning only
      codes + re-ranking 0.4% of the corpus per query.
    """
    cheap, hq = pq_recalls
    assert cheap >= 0.6, f"PQ registered-dial recall regressed: {cheap}"
    assert hq >= 0.9, f"PQ quality-dial recall regressed: {hq}"


def test_ivfpq_recall_floor_sf01(ivfpq_recall):
    """IVF-PQ composed floor (round 11, residual-encoded IVFADC): at
    the registered q254 dial (32 cells, nprobe 16, m=16, ksub=32,
    1 train iter, rerank 400) the composition measured 0.8173 on
    2026-08-15 — EXACTLY the probed-cell ceiling, i.e. the ADC
    candidate stage loses nothing at all over plain IVF at the same
    nprobe. (Round 10's raw-vector codebooks measured 0.7793; the
    residual rewrite is what closed the gap.)"""
    assert ivfpq_recall >= 0.81, (
        f"IVF-PQ sf0.1 recall regressed: {ivfpq_recall}"
    )


def test_opq_recall_pins_sf01(opq_recalls, pq_recalls, ivf_recall):
    """OPQ pins at sf0.1 (round 12) — stated carefully, because this
    corpus is the case OPQ CANNOT improve:

    - The synthetic embeddings are near-isotropic (covariance
      eigenvalue spread < 2×, per-subspace variance products already
      balanced — measured round 12), so the rotation buys nothing and
      OPQ-PQ is pinned as NO-REGRESSION vs plain PQ at the identical
      dial (measured 0.630 vs 0.641 on 2026-08-16 — noise-level basis
      sensitivity, not a mechanism; the anisotropic-data LIFT, which
      is the operator's point, is pinned in tests/test_opq.py at ≥3×
      distortion and recall ≥ identity PQ).
    - OPQ-IVF-PQ at the q290 dial must HOLD the probed-cell ceiling:
      recall at a given nprobe is bounded by the cells probed, plain
      residual IVF-PQ already reaches that ceiling exactly (0.8173),
      so the only acceptable OPQ outcome is equality (measured equal
      on 2026-08-16) — any drop means the rotated ADC stage started
      losing true in-cell neighbors."""
    opq_pq, opq_ivfpq = opq_recalls
    cheap, _ = pq_recalls
    assert opq_pq >= cheap - 0.02, (
        f"OPQ-PQ ({opq_pq}) regressed materially vs plain PQ ({cheap}) "
        f"on isotropic data"
    )
    assert opq_pq >= 0.6, f"OPQ-PQ sf0.1 recall floor broken: {opq_pq}"
    assert opq_ivfpq >= ivf_recall, (
        f"OPQ-IVF-PQ ({opq_ivfpq}) fell below the probed-cell ceiling "
        f"({ivf_recall})"
    )


def test_ann_recall_dominance_ordering_sf01(
    ivf_recall, pq_recalls, ivfpq_recall
):
    """The RELATIONSHIP pins, not just magnitudes (round 11): three
    independent floor constants can drift apart one at a time without
    any single magnitude assert tripping, while a codebook regression
    that inverts an expected dominance is exactly the signal worth
    failing on.

    - IVF-PQ ≥ plain IVF at equal nprobe: probed cells bound IVF-PQ's
      candidates, so plain IVF's recall is a hard CEILING; residual
      encoding + rerank=400 is supposed to reach it exactly (measured
      equal, 0.8173). Any gap means the residual ADC stage started
      dropping true in-cell neighbors from the rerank set.
    - PQ quality dial ≥ PQ speed dial: more codewords, more training,
      deeper re-rank must not lose recall; an inversion means the
      trainer stopped converging monotonically in its budget.

    Every path is deterministic (id-hash seeds, decimal sums), so
    these compare exact reproducible quantities — no flake margin
    needed."""
    assert ivfpq_recall >= ivf_recall, (
        f"residual IVF-PQ ({ivfpq_recall}) fell below its plain-IVF "
        f"ceiling ({ivf_recall}) at equal nprobe"
    )
    cheap, hq = pq_recalls
    assert hq >= cheap, (
        f"PQ quality dial ({hq}) lost to the speed dial ({cheap})"
    )
