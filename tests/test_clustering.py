"""Unit gates for operators/clustering.py (distributed Lloyd's).

The oracle sweep (q242) proves trajectory equality vs DuckDB; these
pin the operator-level contracts that a green hash can't isolate:
recovery of planted clusters, partitioning-invariance of the decimal
discipline, the deterministic tie rule, the empty-cluster drop
contract, and inertia monotonicity."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.operators.clustering import (
    assign_expr,
    kcenter_greedy,
    kmeans_lloyd,
    seed_centroids,
)


def _planted(spark, per=30, sep=10.0):
    """3 well-separated 4-d blobs; ids interleave the blobs so seed
    hashing can't accidentally align with blob order."""
    rows = []
    for i in range(per * 3):
        blob = i % 3
        jit = ((i * 37) % 11 - 5) / 50.0  # +/-0.1 deterministic jitter
        base = blob * sep
        rows.append((i, [base + jit, base - jit, base + 2 * jit, base]))
    return spark.createDataFrame(rows, "id long, vec array<double>")


def test_kmeans_recovers_planted_clusters(spark):
    df = _planted(spark)
    assigned, cents = kmeans_lloyd(df, "id", "vec", k=3, iterations=3)
    rows = assigned.select("id", "cluster_id").collect()
    by_blob: dict[int, set[int]] = {}
    for r in rows:
        by_blob.setdefault(r["id"] % 3, set()).add(r["cluster_id"])
    # each planted blob maps to exactly one cluster, all distinct
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({s.pop() for s in by_blob.values()}) == 3
    assert len(cents) == 3
    # converged centroids sit near the blob centers
    firsts = sorted(c[0] for c in cents.values())
    assert firsts == pytest.approx([0.0, 10.0, 20.0], abs=0.2)


def test_kmeans_invariant_under_repartitioning(spark):
    """The decimal distance/update discipline makes the trajectory a
    pure function of the data — any partition layout must produce
    bit-identical centroids and assignments."""
    df = _planted(spark, per=20)
    a1, c1 = kmeans_lloyd(df.repartition(1), "id", "vec", 3, 2)
    a2, c2 = kmeans_lloyd(df.repartition(17, "id"), "id", "vec", 3, 2)
    assert c1 == c2
    m1 = {r["id"]: (r["cluster_id"], str(r["d2"])) for r in a1.collect()}
    m2 = {r["id"]: (r["cluster_id"], str(r["d2"])) for r in a2.collect()}
    assert m1 == m2


def test_kmeans_cache_false_same_result(spark):
    df = _planted(spark, per=10)
    _, c1 = kmeans_lloyd(df, "id", "vec", 3, 2, cache=True)
    _, c2 = kmeans_lloyd(df, "id", "vec", 3, 2, cache=False)
    assert c1 == c2


def test_assignment_tie_breaks_on_lower_cid(spark):
    """A point exactly equidistant from two centroids must go to the
    lower cluster id (the struct-ordered array_min contract)."""
    df = spark.createDataFrame([([1.0, 0.0],)], "vec array<double>")
    choice = df.select(
        F.expr(
            assign_expr("vec", {2: [0.0, 0.0], 5: [2.0, 0.0]})
        ).alias("c")
    ).first()["c"]
    assert choice["cid"] == 2
    assert str(choice["d2"]) == "1.000000"


def test_kmeans_empty_cluster_drops(spark):
    """Duplicate seed vectors collapse: every point ties to the lower
    cid, the higher-cid twin gets no members and drops from both the
    centroid dict and the assignment."""
    rows = [(i, [float(i % 2) * 8.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    seeds = seed_centroids(df, "id", "vec", 4)
    assert len(seeds) == 4  # 4 seeds but only 2 distinct vectors
    assigned, cents = kmeans_lloyd(df, "id", "vec", k=4, iterations=2)
    assert len(cents) == 2
    got_cids = {r["cluster_id"] for r in assigned.collect()}
    assert got_cids == set(cents)


def test_kmeans_inertia_nonincreasing(spark):
    """Lloyd's inertia is non-increasing in exact arithmetic; the 6-dp
    term rounding perturbs it by at most n*d*5e-7 — assert within
    that bound across 1 vs 3 update rounds."""
    df = _planted(spark, per=25, sep=3.0)

    def inertia(iters):
        a, _ = kmeans_lloyd(df, "id", "vec", 3, iters)
        return float(
            a.agg(F.sum("d2").cast("double").alias("s")).first()["s"]
        )

    i1, i3 = inertia(1), inertia(3)
    assert i3 <= i1 + 75 * 4 * 5e-7


def test_kcenter_greedy_covers_planted_blobs(spark):
    """Farthest-point traversal on 3 well-separated blobs must visit
    all three blobs within the first 3 picks, radii must be
    non-increasing after the cross-blob jumps settle, and chosen ids
    must be distinct."""
    df = _planted(spark, per=20)
    sel = kcenter_greedy(df, "id", "vec", k=5)
    assert [r for r, _, _ in sel] == [1, 2, 3, 4, 5]
    ids = [i for _, i, _ in sel]
    assert len(set(ids)) == 5
    assert sel[0][2] is None and all(r2 is not None for _, _, r2 in sel[1:])
    blobs_hit = {i % 3 for i in ids[:3]}
    assert blobs_hit == {0, 1, 2}
    # once every blob is covered, the radius collapses from
    # cross-blob distance (~100s) to within-blob jitter (<1)
    assert float(sel[1][2]) > 100.0
    assert float(sel[3][2]) < 1.0


def test_kcenter_greedy_partitioning_invariant(spark):
    df = _planted(spark, per=15)
    s1 = kcenter_greedy(df.repartition(1), "id", "vec", k=4)
    s2 = kcenter_greedy(df.repartition(11, "id"), "id", "vec", k=4)
    assert [(r, i, str(d)) for r, i, d in s1] == [
        (r, i, str(d)) for r, i, d in s2
    ]


def test_kcenter_greedy_duplicate_vectors_still_pick_distinct_ids(spark):
    """Duplicate VECTORS under distinct ids stay pickable (ids never
    repeat, locations may): after the two distinct locations are
    covered, further picks carry radius 0."""
    rows = [(i, [float(i % 2), 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    sel = kcenter_greedy(df, "id", "vec", k=5)
    assert len(sel) == 5
    assert len({i for _, i, _ in sel}) == 5
    assert all(float(r2) == 0.0 for _, _, r2 in sel[2:])


def test_kcenter_greedy_truncates_when_rows_exhausted(spark):
    """Fewer rows than k: the traversal truncates (the only break
    path) instead of erroring or repeating an id — the same contract
    the oracle's NOT IN + LIMIT 1 enforces."""
    rows = [(i, [float(i), 0.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    sel = kcenter_greedy(df, "id", "vec", k=7)
    assert len(sel) == 3
    assert [i for _, i, _ in sel] == [0, 2, 1]  # far end first, then mid


def test_checked_base_rejects_null_element_inside_vector(spark):
    """Round-10 advisor fix: a single NULL ELEMENT (vector itself
    non-NULL, length correct) nulls every zip_with distance for its
    row, so assignment would silently drop the point from inertia
    sums. The element-level probe must fail loud."""
    rows = [(0, [0.0, 1.0]), (1, [2.0, None]), (2, [3.0, 4.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    with pytest.raises(ValueError, match="NULL element"):
        kmeans_lloyd(df, "id", "vec", k=2, iterations=1)
    with pytest.raises(ValueError, match="NULL element"):
        kcenter_greedy(df, "id", "vec", k=2)


def test_pca_validates_input_like_clustering(spark):
    """Round-10 advisor fix: pca_top_component now goes through
    checked_base — NULL vectors, NULL elements, ragged lengths and a
    mis-declared dims all raise instead of silently skewing the
    covariance (element_at -> NULL terms dropped by F.sum)."""
    from metadata_ingestion_poc_spark.operators.pca import pca_top_component

    # NOT [i, -i]: v0 = [c, c] is exactly orthogonal to that
    # covariance's eigenvector, a power-iteration degenerate start
    ok = [(i, [float(i), float(2 * i)]) for i in range(6)]
    schema = "id long, vec array<double>"
    for bad_rows, msg in [
        (ok + [(9, None)], "NULL vec"),
        (ok + [(9, [1.0, None])], "NULL element"),
        (ok + [(9, [1.0, 2.0, 3.0])], "ragged"),
    ]:
        with pytest.raises(ValueError, match=msg):
            pca_top_component(
                spark.createDataFrame(bad_rows, schema), "vec", 2, 2
            )
    with pytest.raises(ValueError, match="declared"):
        pca_top_component(spark.createDataFrame(ok, schema), "vec", 3, 2)
    # and the happy path still runs end-to-end through the new base
    v, lam = pca_top_component(spark.createDataFrame(ok, schema), "vec", 2, 2)
    assert len(v) == 2 and lam > 0
