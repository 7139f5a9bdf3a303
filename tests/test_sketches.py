"""Count-min sketch properties: overestimate, error bound, exact merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_poc_spark.operators.sketches import (
    cms_build,
    cms_estimate,
    cms_merge,
)

W, D = 2048, 4


def _exact(df, col):
    return {
        r[col]: r.n
        for r in df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_cms_overestimates_within_bound(spark):
    # zipf-ish: key k appears ~20000/k times
    df = spark.range(0, 20000).selectExpr(
        "CAST(1 + CAST(20000 / (id + 1) AS INT) % 97 AS STRING) AS k"
    )
    sketch = cms_build(df, "k", width=W, depth=D)
    exact = _exact(df, "k")
    keys = df.select("k").distinct()
    est = {
        r.k: r.est
        for r in cms_estimate(sketch, keys, "k", width=W, depth=D).collect()
    }
    n = 20000
    for k, true in exact.items():
        assert est[k] >= true, (k, est[k], true)
        # CMS bound: err <= 2N/w with prob >= 1 - 2^-d; generous slack
        assert est[k] - true <= max(4, 4 * n // W), (k, est[k], true)


def test_cms_merge_equals_whole(spark):
    df = spark.range(0, 10000).selectExpr("CAST(id % 53 AS STRING) AS k")
    a = df.filter(F.col("id") < 4000)
    b = df.filter(F.col("id") >= 4000)
    merged = cms_merge(
        cms_build(a, "k", width=W, depth=D),
        cms_build(b, "k", width=W, depth=D),
    )
    whole = cms_build(df, "k", width=W, depth=D)
    m = {(r.d, r.bucket): r.c for r in merged.collect()}
    w = {(r.d, r.bucket): r.c for r in whole.collect()}
    assert m == w  # merge is exact, not approximate


def test_cms_weighted_and_validation(spark):
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 3.0), ("b", 2.0)], "k: string, w: double"
    )
    sketch = cms_build(df, "k", width=256, depth=3, weight_col="w")
    est = {
        r.k: r.est
        for r in cms_estimate(
            sketch, df.select("k").distinct(), "k", width=256, depth=3
        ).collect()
    }
    assert est["a"] >= 8.0 and est["b"] >= 2.0
    with pytest.raises(ValueError):
        cms_build(df, "k", width=0)
    with pytest.raises(ValueError):
        cms_merge()


def test_cms_estimate_rejects_geometry_mismatch(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k: string")
    keys = df.select("k").distinct()
    sketch = cms_build(df, "k", width=256, depth=3)
    # probe params that contradict the sketch's stamped geometry raise
    # instead of silently hashing into the wrong bucket space
    with pytest.raises(ValueError, match="width"):
        cms_estimate(sketch, keys, "k", width=2048, depth=3)
    with pytest.raises(ValueError, match="depth"):
        cms_estimate(sketch, keys, "k", width=256, depth=4)
    # omitting the params reads them from the sketch
    est = {r.k: r.est for r in cms_estimate(sketch, keys, "k").collect()}
    assert est["a"] >= 1 and est["b"] >= 1
    # merging sketches of different geometry is detected at probe time
    mixed = cms_merge(sketch, cms_build(df, "k", width=512, depth=3))
    with pytest.raises(ValueError, match="mixed geometries"):
        cms_estimate(mixed, keys, "k")


def test_cms_absent_key_estimates_low(spark):
    df = spark.range(0, 1000).selectExpr("CAST(id % 10 AS STRING) AS k")
    sketch = cms_build(df, "k", width=W, depth=D)
    ghost = spark.createDataFrame([("nope",)], "k: string")
    est = cms_estimate(sketch, ghost, "k", width=W, depth=D).first().est
    # collisions can make it nonzero but the min over 4 rows of a
    # 2048-wide sketch holding 10 keys is almost surely 0
    assert est == 0


def test_inner_product_exact_when_collision_free(spark):
    from pyspark.sql import Row

    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    # few distinct keys, huge width → collisions vanishingly unlikely →
    # the estimate equals the exact inner product Σ f_a(k)·f_b(k)
    a_rows = [Row(k=f"k{i % 5}") for i in range(40)]     # f_a = 8 each
    b_rows = [Row(k=f"k{i % 4}") for i in range(20)]     # f_b = 5 for k0-k3
    a = cms_build(spark.createDataFrame(a_rows), "k", width=65536, depth=4)
    b = cms_build(spark.createDataFrame(b_rows), "k", width=65536, depth=4)
    est = cms_inner_product(a, b).collect()[0]["estimate"]
    assert est == 4 * 8 * 5  # k0..k3 shared, k4 only in a


def test_inner_product_is_join_size_overestimate_within_bound(spark):
    from pyspark.sql import Row

    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    import random

    rng = random.Random(5)
    a_rows = [Row(k=f"u{rng.randint(0, 200)}") for _ in range(3000)]
    b_rows = [Row(k=f"u{rng.randint(0, 300)}") for _ in range(2000)]
    adf, bdf = spark.createDataFrame(a_rows), spark.createDataFrame(b_rows)
    exact = adf.join(bdf, "k").count()
    width, depth = 512, 4
    est = cms_inner_product(
        cms_build(adf, "k", width=width, depth=depth),
        cms_build(bdf, "k", width=width, depth=depth),
    ).collect()[0]["estimate"]
    assert est >= exact  # CMS inner product never underestimates
    assert est <= exact + 2 * len(a_rows) * len(b_rows) / width


def test_inner_product_zero_overlap_and_geometry_mismatch(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    a = cms_build(
        spark.createDataFrame([Row(k="x")]), "k", width=1024, depth=4
    )
    b = cms_build(
        spark.createDataFrame([Row(k="y")]), "k", width=1024, depth=4
    )
    # distinct keys can still collide in SOME rows; the min over depth
    # rows keeps the estimate at (or near) 0 — assert the bound form
    est = cms_inner_product(a, b).collect()[0]["estimate"]
    assert 0 <= est <= 1
    c = cms_build(spark.createDataFrame([Row(k="y")]), "k", width=512, depth=4)
    with _pytest.raises(ValueError, match="geometries differ"):
        cms_inner_product(a, c)


def test_hll_overlap_estimate_accuracy_and_disjoint_floor(spark):
    from pyspark.sql import Row

    from metadata_ingestion_poc_spark.operators.sketches import (
        hll_overlap_estimate,
    )

    rows = (
        [Row(g="a", k=f"k{i}") for i in range(2000)]          # a: 0..1999
        + [Row(g="b", k=f"k{i}") for i in range(1000, 3000)]  # b: 1000..2999
        + [Row(g="c", k=f"x{i}") for i in range(500)]         # c: disjoint
    )
    out = {
        (r.g_a, r.g_b): r
        for r in hll_overlap_estimate(
            spark.createDataFrame(rows), "g", "k"
        ).collect()
    }
    ab = out[("a", "b")]
    assert abs(ab.est_overlap - 1000) / 1000 < 0.10  # true overlap 1000
    assert abs(ab.est_union - 3000) / 3000 < 0.05
    for pair in (("a", "c"), ("b", "c")):
        assert out[pair].est_overlap < 100  # disjoint ≈ 0, floored at >= 0
        assert out[pair].est_overlap >= 0


# ---------------------------------------------------------------------------
# cms_screen — sketch-screened two-pass heavy hitters
# ---------------------------------------------------------------------------


def _hh_corpus(spark):
    # keys 0..9 appear (k+1)*20 times: frequencies 20,40,...,200
    rows = [(k,) for k in range(10) for _ in range((k + 1) * 20)]
    return spark.createDataFrame(rows, "k: bigint")


def test_cms_screen_no_false_negatives(spark):
    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_screen,
    )

    df = _hh_corpus(spark)
    sk = cms_build(df, "k", width=1024, depth=4)
    screened = cms_screen(df, "k", sk, min_count=100)
    # exact pass over screened rows == plain groupBy-HAVING: the
    # overestimate property guarantees every truly-heavy key survives
    exact = sorted(
        (r["k"], r["n"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
        .collect()
    )
    two_pass = sorted(
        (r["k"], r["n"])
        for r in screened.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
        .collect()
    )
    assert two_pass == exact
    assert exact == [(4, 100), (5, 120), (6, 140), (7, 160), (8, 180), (9, 200)]


def test_cms_screen_is_selective_when_sized(spark):
    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_screen,
    )

    df = _hh_corpus(spark)  # 1100 rows total
    sk = cms_build(df, "k", width=1024, depth=4)
    # collision-free regime: the screen keeps exactly the rows of
    # truly-heavy keys (sum of their frequencies), nothing else
    kept = cms_screen(df, "k", sk, min_count=100).count()
    assert kept == 100 + 120 + 140 + 160 + 180 + 200


def test_cms_screen_null_keys_and_empty_sketch(spark):
    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_screen,
    )

    df = spark.createDataFrame([(1,), (None,), (1,)], "k: bigint")
    sk = cms_build(df, "k", width=64, depth=2)
    kept = [r["k"] for r in cms_screen(df, "k", sk, 2).collect()]
    assert kept == [1, 1]
    empty_sk = cms_build(
        spark.createDataFrame([], "k: bigint"), "k", width=64, depth=2
    )
    assert cms_screen(df, "k", empty_sk, 1).count() == 0


def test_cms_screen_rejects_mixed_geometry(spark):
    from metadata_ingestion_poc_spark.operators.sketches import (
        cms_build,
        cms_merge,
        cms_screen,
    )

    df = _hh_corpus(spark)
    mixed = cms_build(df, "k", width=64, depth=2).unionByName(
        cms_build(df, "k", width=128, depth=2)
    )
    with pytest.raises(ValueError, match="mixed geometries"):
        cms_screen(df, "k", mixed, 10)


def test_advise_join_estimates_and_recommendations(spark):
    from metadata_ingestion_poc_spark.operators.sketches import advise_join

    big = spark.range(30_000).select((F.col("id") % 3000).alias("k"))
    dim = spark.range(500).select(F.col("id").alias("k"))
    adv = advise_join(big, dim, "k", broadcast_threshold_rows=1000)
    exact = big.join(dim, "k").count()
    assert adv["est_join_rows"] >= exact  # CMS never underestimates
    assert adv["est_join_rows"] <= exact * 2 + 2 * 30_000 * 500 // 2048
    assert adv["recommendation"] == "broadcast_b"
    # hottest-key bound really bounds the hottest key
    assert adv["max_freq_bound_a"] >= 10  # every key appears 10x

    # hub-skewed big-big join → salted shuffle
    hot = spark.range(50_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    other = spark.range(40_000).select((F.col("id") % 4000).alias("k"))
    adv2 = advise_join(hot, other, "k", broadcast_threshold_rows=100)
    assert adv2["recommendation"] == "shuffle_salted"
    assert adv2["max_freq_bound_a"] >= 45_000  # the hub key's true count


def test_run_concurrent_is_sequential_under_spark_connect(monkeypatch):
    """Under Spark Connect the thunks run on the calling thread, in
    submission order, and their results come back in that order."""
    import threading

    import pyspark.sql.utils

    from metadata_ingestion_poc_spark.execution import run_concurrent

    monkeypatch.setattr(pyspark.sql.utils, "is_remote", lambda: True)
    calls = []

    def thunk(i):
        def run():
            calls.append((i, threading.get_ident()))
            return i * 10

        return run

    assert run_concurrent(*(thunk(i) for i in range(3))) == [0, 10, 20]
    me = threading.get_ident()
    assert calls == [(0, me), (1, me), (2, me)]
