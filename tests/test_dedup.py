from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.catalog import load_table
from metadata_ingestion_poc_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_pairs,
    tokenize,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_exact_dedup_idempotent(spark, docs):
    once = exact_dedup(docs, ["text"], ["doc_id"])
    twice = exact_dedup(once, ["text"], ["doc_id"])
    assert once.count() == twice.count()
    assert once.select("text").distinct().count() == once.count()


def test_exact_dedup_keeps_min_doc_id(spark, docs):
    deduped = exact_dedup(docs, ["lang"], ["doc_id"])
    expected = docs.groupBy("lang").agg(F.min("doc_id").alias("doc_id"))
    got = {r.doc_id for r in deduped.select("doc_id").collect()}
    want = {r.doc_id for r in expected.collect()}
    assert got == want


def test_shingles_shape(spark, docs):
    row = shingles(docs.limit(1), n=3).select("text", "shingles").first()
    n_tokens = len(row.text.split(" "))
    assert len(row.shingles) <= max(n_tokens - 2, 1)
    assert all(len(s.split(" ")) == 3 for s in row.shingles)


def test_minhash_recall_against_exact_jaccard(spark, docs):
    """LSH must recover most true pairs and introduce no false positives
    above threshold (verification step makes FP impossible)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.4
        ).collect()
    }
    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.6, f"recall too low: {recall}"


def test_simhash_pairs_are_near_duplicates(spark, docs):
    """Hamming-close simhash docs should have high token overlap."""
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    if not pairs:
        pytest.skip("no simhash pairs at this SF")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    hits = [p for p in pairs if (p.doc_a, p.doc_b) in exact]
    assert len(hits) >= len(pairs) * 0.5


@pytest.fixture(scope="module")
def driver_simhash(docs):
    """doc_id -> SimHash computed on the driver, independently of
    `simhash`: each doc's xxhash64 token hashes (the same JVM hash
    family) are voted bit by bit in numpy, bit i of the signature being
    the majority of bit i."""
    rows = (
        tokenize(docs)
        .select("doc_id", F.transform("tokens", lambda t: F.xxhash64(t)))
        .toDF("doc_id", "th")
        .collect()
    )
    sigs = {}
    for r in rows:
        th = np.array(r.th or [], dtype=np.int64).view(np.uint64)
        ones = ((th[:, None] >> np.arange(64, dtype=np.uint64)) & 1).sum(0)
        sigs[r.doc_id] = sum(1 << i for i in range(64) if ones[i] * 2 > th.size)
    return sigs


@pytest.mark.parametrize("max_hamming", [3, 5, 8])
def test_simhash_pairs_equal_brute_force(docs, driver_simhash, max_hamming):
    """The banded join returns exactly the pairs a popcount over ALL
    doc pairs finds, beyond 3 bits too; thresholds the 64-bit banding
    cannot serve losslessly are refused."""
    ids = sorted(driver_simhash)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = (driver_simhash[a] ^ driver_simhash[b]).bit_count()
            if d <= max_hamming:
                want.add((a, b, d))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=max_hamming).collect()
    }
    assert want, "degenerate fixture: no pairs within the threshold"
    assert got == want
    for bad in (-1, 16):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_pairs(docs, max_hamming=bad)


def test_minhash_lsh_rejects_degenerate_arguments(docs):
    for kwargs, name in (
        ({"num_hashes": 0}, "num_hashes"),
        ({"bands": 0}, "bands"),
        ({"num_hashes": 16, "bands": 32}, "bands"),
    ):
        with pytest.raises(ValueError, match=name):
            minhash_lsh_pairs(docs, **kwargs)
    # the edges of the range and a non-divisor still build
    for bands in (1, 5, 16):
        out = minhash_lsh_pairs(docs, num_hashes=16, bands=bands)
        assert out.columns == ["doc_a", "doc_b", "jaccard"]


def test_default_call_engages_stop_shingle_cap(spark, docs):
    # the library default must be the 100 TB-safe shape: a finite
    # stop-shingle cap whose df-filter shows up in the plan without the
    # caller asking for it; None is the opt-in to the unpruned index
    from metadata_ingestion_poc_spark.operators.dedup import (
        DEFAULT_MAX_SHINGLE_DF,
    )

    assert DEFAULT_MAX_SHINGLE_DF is not None
    capped = ngram_jaccard_pairs(docs, threshold=0.4)
    plan = capped._jdf.queryExecution().analyzed().toString()
    assert "__df" in plan, "default plan must carry the shingle-df filter"
    uncapped = ngram_jaccard_pairs(docs, threshold=0.4, max_shingle_df=None)
    assert "__df" not in uncapped._jdf.queryExecution().analyzed().toString()
    # the test corpus is far below the cap, so results are identical
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )
    # a tiny explicit cap actually prunes (df > 1 shingles all dropped)
    few = ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_df=1)
    assert few.count() == 0


def test_minhash_deterministic_across_repartition(spark, docs):
    a = minhash_lsh_pairs(docs, threshold=0.4).collect()
    b = minhash_lsh_pairs(docs.repartition(7), threshold=0.4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_normalize_text_corners(spark):
    from metadata_ingestion_poc_spark.operators.text import normalize_text

    rows = [
        (1, "Hello,   WORLD!!"),
        (2, "...###..."),
        (3, ""),
        (4, "a1 b2\tc3"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: (r.norm_text, r.norm_tokens) for r in normalize_text(df).collect()}
    assert got[1] == ("hello world", 2)
    assert got[2] == ("", 0)   # all-punctuation collapses to empty
    assert got[3] == ("", 0)
    assert got[4] == ("a1 b2 c3", 3)


def test_containment_catches_quoted_excerpt(spark):
    from metadata_ingestion_poc_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    small = " ".join(f"w{i}" for i in range(12))
    big = (
        " ".join(f"x{i}" for i in range(80))
        + " " + small + " "
        + " ".join(f"y{i}" for i in range(80))
    )
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], ["doc_id", "text"]
    )
    rows = ngram_containment_pairs(
        df, n=3, threshold=0.9, max_shingle_df=None
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment_a == 1.0   # every small-doc shingle is in big
    assert r.containment_b < 0.1    # big side barely overlaps
    assert r.jaccard < 0.1          # jaccard alone would miss this


def test_saved_shingle_index_reload_equals_rebuild(spark, sf_dir, tmp_path):
    # the nightly-build/all-day-probe workflow: pairs computed against
    # the RELOADED parquet index must equal the build-both path
    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.dedup import (
        load_shingle_index,
        ngram_jaccard_pairs_against,
        ngram_jaccard_pairs_against_index,
        save_shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    path = str(tmp_path / "shingle_idx")
    save_shingle_index(corpus, path, n=3)

    direct = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in ngram_jaccard_pairs_against(
            batch, corpus, n=3, threshold=0.3, max_shingle_df=20
        ).collect()
    }
    via_index = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in ngram_jaccard_pairs_against_index(
            batch,
            load_shingle_index(spark, path),
            n=3,
            threshold=0.3,
            max_shingle_df=20,
        ).collect()
    }
    assert via_index == direct
    assert direct  # non-vacuous: the synthetic corpus has cross dups


def test_prefix_filter_equals_brute_force_with_boilerplate(spark):
    """Zero-recall-loss contract of prefix filtering, exercised where
    it could break: a boilerplate shingle shared by EVERY doc (sorts
    last in rarity order, so it must never be the sole candidate
    route) plus genuine near-dup pairs. The prefix-filtered result
    must equal the in-engine brute-force join exactly."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingles,
    )

    boiler = "all rights reserved forever"
    rows = []
    for i in range(30):
        body = f"alpha{i % 7} beta{i % 5} gamma{i % 3} delta{i % 11} " \
               f"epsi{i % 13} zeta{i}"
        rows.append((i, f"{body} {boiler}"))
    # plant exact-ish duplicates
    rows.append((100, rows[3][1]))
    rows.append((101, rows[3][1] + " extra token tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(
            df, id_col="doc_id", n=3, threshold=(2, 5)
        ).collect()
    }

    sh = shingles(df, 3).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    a = sh.toDF("doc_a", "s")
    b = sh.toDF("doc_b", "s")
    sizes = {r["doc_id"]: r["n"] for r in sh.groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    brute = {}
    for r in (
        a.join(b, ["s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("nc"))
        .collect()
    ):
        u = sizes[r["doc_a"]] + sizes[r["doc_b"]] - r["nc"]
        if r["nc"] * 5 >= 2 * u:
            # raw IEEE division — bit-identical to the operator's
            # exact-operand quotient (de-ROUNDed round 14)
            brute[(r["doc_a"], r["doc_b"])] = (r["nc"], r["nc"] / u)
    want = {(p[0], p[1], v[0], v[1]) for p, v in brute.items()}
    assert (3, 100) in brute and (3, 101) in brute
    assert got == want
