"""The enforced hot-bucket cap of ``dedup.bucket_pairs``: no
pair-generation row may materialize more than cap² pair structs,
however large one bucket is (one low-entropy bucket would otherwise
build its whole C(m,2) array in one executor row). Pins (a) chunked ≡
unchunked pair multisets including per-bucket multiplicity
(ngram_jaccard's n_common counts on it), (b) a planted 10⁴-member
bucket passing end-to-end under the default cap, and
(c) hamming_banded_pairs unchanged under a cap small enough to force
cross-chunk pairs."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from metadata_ingestion_poc_spark.operators.dedup import bucket_pairs


def _id_pairs(df, cap=None):
    return bucket_pairs(
        df,
        ["bk"],
        "item",
        lambda x, y: f"named_struct('doc_a', {x}, 'doc_b', {y})",
        cap=cap,
    )


def _pairs(df, cap):
    return sorted(
        (r["doc_a"], r["doc_b"]) for r in _id_pairs(df, cap).collect()
    )


def test_chunked_equals_unchunked_with_multiplicity(spark):
    rows = (
        [("bA", i) for i in range(10)]
        + [("bB", i) for i in (100, 101, 102)]
        # bC shares items 1..3 with bA: the (1,2),(1,3),(2,3) pairs
        # must be emitted TWICE (once per shared bucket)
        + [("bC", i) for i in (1, 2, 3)]
        + [("b1", 7)]  # single-member bucket: no pairs
    )
    df = spark.createDataFrame(rows, "bk string, item long")
    expected = sorted(
        list(combinations(range(10), 2))
        + list(combinations((100, 101, 102), 2))
        + list(combinations((1, 2, 3), 2))
    )
    # cap far above every bucket (degenerate single-chunk path) and a
    # cap of 3 (bA splits into 4 chunks incl. a 1-member tail) must
    # agree exactly, multiplicity included
    assert _pairs(df, 10**6) == expected
    assert _pairs(df, 3) == expected
    assert _pairs(df, 2) == expected


def test_planted_hot_bucket_default_cap(spark):
    n = 10_000
    big = spark.createDataFrame(
        [("hot", i) for i in range(n)], "bk string, item long"
    )
    # default cap: the 10⁴-member bucket fans out over ⌈n/cap⌉² chunk
    # pairs; no row holds the quadratic array, the pair COUNT is
    # exactly C(n, 2), and a < b for every emitted pair — both counted
    # in one pass over the pairs
    got = _id_pairs(big).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("doc_a") >= F.col("doc_b")).alias("misordered"),
    ).first()
    assert got["n"] == n * (n - 1) // 2
    assert got["misordered"] == 0


def test_hamming_banded_capped_equals_uncapped(spark, monkeypatch):
    import metadata_ingestion_poc_spark.operators.dedup as dedup
    from metadata_ingestion_poc_spark.operators.multimodal import (
        hamming_banded_pairs,
    )

    # 40 ids in two near-dup families plus noise; identical low bits
    # put everything in one hot bucket per band
    rows = []
    for i in range(20):
        rows.append((i, 0x0F0F0F0F00000000 | i))  # family A: close ids
    for i in range(20, 40):
        rows.append((i, 0x00F0F0F000000000 | (i << 8)))
    sig = spark.createDataFrame(rows, "id long, h long")

    def run():
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_banded_pairs(sig, 3, "h").collect()
        )

    base = run()
    assert base, "degenerate fixture: no pairs under the layout"
    monkeypatch.setattr(dedup, "PAIR_BUCKET_CAP", 4)
    capped = run()
    assert capped == base
