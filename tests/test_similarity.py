from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.catalog import load_table
from metadata_ingestion_poc_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    qid = min(vecs)
    q = vecs[qid]
    sims = {
        vid: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        for vid, v in vecs.items()
        if vid != qid
    }
    expected = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]

    got = (
        cosine_topk(emb.filter(F.col("vec_id") == qid), emb, k=5)
        .orderBy("rank")
        .collect()
    )
    assert [r.neighbor_id for r in got] == [vid for vid, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert math.isclose(r.cosine, round(s, 6), abs_tol=1e-6)


def test_cosine_topk_deterministic_across_repartition(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = cosine_topk(queries, emb, k=5).collect()
    b = cosine_topk(queries, emb.repartition(13), k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_default_ann_path_recall(spark, emb):
    # ann_topk's DEFAULTS (ivf, 32 cells, nprobe 16, 1 Lloyd iter)
    # must hold ≥0.7 recall even on this near-orthogonal corpus — the
    # adversarial case for any space partitioner. The sf0.1 floor
    # (≥0.8 over 300 queries) lives in tests/test_ann_recall_sf01.py.
    from metadata_ingestion_poc_spark.operators.similarity import ann_topk

    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk(queries, emb, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"default ANN recall too low: {recall}"


def test_ivf_invariant_under_repartition_and_reevaluation(spark, emb):
    # cell labels must be a pure function of the data: same results
    # whatever the corpus partitioning (monotonically_increasing_id
    # here was a real bug — labels diverged between the corpus and
    # query branches on a cluster). Cheap dial: invariance, not recall.
    from metadata_ingestion_poc_spark.operators.similarity import ivf_ann_topk

    queries = emb.filter(F.col("vec_id") < 10)
    kwargs = dict(k=5, n_cells=16, nprobe=3, refine_iters=1)
    a = ivf_ann_topk(queries, emb, **kwargs).collect()
    b = ivf_ann_topk(queries.repartition(3), emb.repartition(7), **kwargs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # train_frac sampling is id-hash-based, also partitioning-invariant
    c = ivf_ann_topk(queries, emb, train_frac=0.5, **kwargs).collect()
    d = ivf_ann_topk(queries, emb.repartition(11), train_frac=0.5, **kwargs).collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, d))


def test_lsh_ann_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, emb, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(queries, emb, k=10, n_planes=6, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # these synthetic embeddings are nearly orthogonal (top-1 cosine
    # ≈ 0.35 → θ ≈ 70°), the hardest regime for sign-LSH; the bar here
    # guards wiring, the parameter/recall trade-off is documented in
    # operators/similarity.py.
    assert recall >= 0.35, f"ANN recall too low: {recall}"


def test_ivf_assign_non_finite_centroid_raises_value_error(spark):
    """A NaN centroid component has no SQL double literal (``nanD``
    would parse as a column name): the literal renderer refuses it
    with a ValueError before any plan is built, while finite values
    render exactly as ``repr`` + ``D``."""
    from metadata_ingestion_poc_spark.functions.determinism import (
        sql_double,
    )
    from metadata_ingestion_poc_spark.operators.similarity import (
        ivf_assign,
    )

    for x in (0.1, -2.5e-07, 1e300, 3, 0.0):
        assert sql_double(x) == repr(float(x)) + "D"
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="non-finite"):
            sql_double(bad)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(1, [math.nan, 1.0], 1.0)],
        "cell int, c_vec array<double>, c_norm double",
    )
    with pytest.raises(ValueError, match="non-finite"):
        ivf_assign(vecs, cents)


def test_sql_array_renders_nested_literals():
    """One literal renderer: floats through sql_double, ints bare,
    nesting as nested array(...) — the exact text the centroid and
    codebook literals had, so plans stay byte-identical."""
    from metadata_ingestion_poc_spark.functions.determinism import (
        sql_array,
    )

    assert (
        sql_array([[1.0, -2.5e-07], [0.1, 1e300]])
        == "array(array(1.0D, -2.5e-07D), array(0.1D, 1e+300D))"
    )
    assert sql_array([1, 5, 12]) == "array(1, 5, 12)"
    # a gap-filled codebook row (a cid that lost every member)
    assert (
        sql_array([[0.5, 2.0], [0.0, 0.0]])
        == "array(array(0.5D, 2.0D), array(0.0D, 0.0D))"
    )
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="non-finite"):
            sql_array([[1.0], [bad]])


def test_ivf_index_save_load_identical_results(spark, sf_dir, tmp_path):
    """Persisted index → reload → query must equal build-and-query
    exactly (everything downstream of the index is deterministic)."""
    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_build_index,
        ivf_topk_with_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    direct = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_ann_topk(queries, emb, k=5, n_cells=8, nprobe=4).collect()
    }

    cents, cells = ivf_build_index(emb, n_cells=8)
    path = str(tmp_path / "ivf_index")
    save_ivf_index(cents, cells, path)
    cents2, cells2 = load_ivf_index(spark, path)
    reloaded = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_topk_with_index(
            queries, cents2, cells2, k=5, nprobe=4
        ).collect()
    }
    assert reloaded == direct


def test_pq_index_save_load_identical_results(spark, sf_dir, tmp_path):
    """Reload ≡ rebuild for the persisted PQ index (codebooks +
    codes): the build-nightly/query-all-day contract, same as IVF."""
    from metadata_ingestion_poc_spark.operators.pq import (
        load_pq_index,
        pq_ann_topk,
        pq_encode,
        pq_topk_with_index,
        pq_train,
        save_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    direct = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_ann_topk(
            queries, emb, k=5, ksub=8, iterations=1, rerank=40
        ).collect()
    }

    books = pq_train(emb, ksub=8, iterations=1)
    codes = pq_encode(emb, books)
    path = str(tmp_path / "pq_index")
    save_pq_index(spark, books, codes, path)
    _, books2, codes2 = load_pq_index(spark, path)
    assert books2 == books  # 6-dp codewords round-trip parquet exactly
    reloaded = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_topk_with_index(
            queries, codes2, books2, emb, k=5, rerank=40
        ).collect()
    }
    assert reloaded == direct


def test_pq_codes_invariant_under_repartition(spark, sf_dir):
    """Codebooks and codes are pure functions of the data: decimal
    update sums + 6-dp driver means make training partitioning-
    invariant, and encoding is a per-row argmin over literals."""
    from metadata_ingestion_poc_spark.operators.pq import (
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books1 = pq_train(emb, ksub=8, iterations=1)
    books2 = pq_train(emb.repartition(7, "vec_id"), ksub=8, iterations=1)
    assert books1 == books2
    c1 = {(r.id, tuple(r.codes)) for r in pq_encode(emb, books1).collect()}
    c2 = {
        (r.id, tuple(r.codes))
        for r in pq_encode(emb.repartition(5), books1).collect()
    }
    assert c1 == c2


def test_pq_validation_fails_loud(spark):
    """dims % m != 0 and undersized corpora raise (the checked_base
    discipline extends to PQ training)."""
    from metadata_ingestion_poc_spark.operators.pq import pq_train

    rows = [(i, [float(i)] * 6) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, dims=6, m=4, ksub=4)
    with pytest.raises(ValueError, match="< ksub"):
        pq_train(df, dims=6, m=3, ksub=32)


def test_pq_encode_validation_fails_loud(spark):
    """Round-11 (advisor): pq_encode / pq_reconstruction_stats /
    ivfpq_build route through checked_base — a ragged, NULL-element,
    or wrong-dims frame would zip_with-pad with NULL and silently emit
    arbitrary codes (d2 goes NULL under array_min); every encode path
    must fail loud instead."""
    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_build,
        pq_encode,
        pq_reconstruction_stats,
        pq_train,
    )

    good = spark.createDataFrame(
        [(i, [float(i + j) for j in range(6)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(good, dims=6, m=3, ksub=4)

    ragged = spark.createDataFrame(
        [(0, [1.0] * 6), (1, [1.0] * 5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        pq_encode(ragged, books, dims=6)

    null_elem = spark.createDataFrame(
        [(0, [1.0] * 6), (1, [1.0, None, 1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL element"):
        pq_reconstruction_stats(null_elem, books, dims=6)

    wrong_dims = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="caller declared"):
        pq_encode(wrong_dims, books, dims=6)
    with pytest.raises(ValueError, match="caller declared"):
        ivfpq_build(wrong_dims, n_cells=4, m=3, ksub=4, dims=6)


def test_pq_zero_norm_query_fails_loud(spark):
    """Round-11 (advisor): the ADC cosine denominator is
    q_norm · ‖x̂‖ — a zero-norm (or ragged) query vector must trip the
    query-frame guard instead of silently NULL-ing its cosine and
    ranking that query's neighbors arbitrarily."""
    from metadata_ingestion_poc_spark.operators.pq import (
        pq_encode,
        pq_topk_with_index,
        pq_train,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i + j + 1) for j in range(6)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(corpus, dims=6, m=3, ksub=4)
    codes = pq_encode(corpus, books, dims=6)
    zq = spark.createDataFrame(
        [(99, [0.0] * 6)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="norm > 0"):
        pq_topk_with_index(
            zq, codes, books, corpus, k=3, rerank=10, dims=6
        ).collect()


def test_exact_rerank_zero_norm_contract(spark):
    """The one exact re-rank's degenerate-input contract, on the exact
    path, the PQ re-rank and the IVF and IVF-PQ paths (every cell
    probed, so the zero vector is a candidate): a zero-norm neighbor
    gets a NULL cosine and ranks after every scored neighbor (it is
    not dropped), and a zero-norm query fails with an assert naming
    ``norm > 0``."""
    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_topk,
        pq_ann_topk,
    )

    rows = [(i, [float(i + j + 1) for j in range(6)]) for i in range(20)]
    rows.append((99, [0.0] * 6))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 2)
    for got in (
        cosine_topk(queries, df, k=20),
        pq_ann_topk(queries, df, k=20, m=3, ksub=4, rerank=20, dims=6),
        ivf_ann_topk(queries, df, k=20, n_cells=4, nprobe=4),
        ivfpq_topk(
            queries, df, k=20, n_cells=4, nprobe=4, m=3, ksub=4,
            rerank=20, dims=6,
        ),
    ):
        rows_of = {0: [], 1: []}
        for r in got.orderBy("rank").collect():
            rows_of[r.query_id].append((r.neighbor_id, r.cosine))
        for qid, ranked in rows_of.items():
            assert len(ranked) == 20  # 19 other vectors + the zero one
            assert ranked[-1] == (99, None)
            assert all(cos is not None for _, cos in ranked[:-1])
    zq = spark.createDataFrame(
        [(98, [0.0] * 6)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="norm > 0"):
        cosine_topk(zq, df, k=3).collect()


def test_ivfpq_index_save_load_identical_results(spark, sf_dir, tmp_path):
    """Reload ≡ rebuild for the persisted IVF-PQ index (cells +
    codebooks + coded corpus) — completes the build-nightly /
    query-all-day contract for the composed ANN path."""
    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_with_index,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    direct = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivfpq_topk(
            queries, emb, k=5, n_cells=8, nprobe=4, ksub=8,
            iterations=1, rerank=40,
        ).collect()
    }

    cents, _, books, coded = ivfpq_build(
        emb, n_cells=8, ksub=8, iterations=1
    )
    path = str(tmp_path / "ivfpq_index")
    save_ivfpq_index(spark, cents, books, coded, path)
    cents2, _, books2, coded2 = load_ivfpq_index(spark, path)
    assert cents2 == cents and books2 == books
    reloaded = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivfpq_topk_with_index(
            queries, cents2, books2, coded2, emb,
            k=5, nprobe=4, rerank=40,
        ).collect()
    }
    assert reloaded == direct


def test_pq_codebook_gap_positional_lookup(spark):
    """A codeword that loses every member drops out of the trained
    codebook, leaving a GAP below max(cid). The assignment argmin must
    not see the gap (a zero codeword could win), while the ADC lookup
    and norm tables must stay POSITIONAL (zero-padded) so codes that
    reference cids above the gap still land on their own entries.
    With rerank covering the whole corpus, PQ top-k must then equal
    exact brute force regardless of ADC quality — a pure plumbing
    invariant that fails if gap indexing is off by one."""
    from metadata_ingestion_poc_spark.operators.clustering import (
        HASH_MOD,
        HASH_MULT,
    )
    from metadata_ingestion_poc_spark.operators.pq import (
        pq_encode,
        pq_topk_with_index,
        pq_train,
    )

    ids = list(range(12))
    order = sorted(ids, key=lambda i: ((i % HASH_MOD) * HASH_MULT) % HASH_MOD)
    s0, s1, s2 = order[:3]  # the 3 seed ids, in cid order 1..3
    rows = []
    for i in ids:
        if i == s0 or i == s1:
            sub2 = [0.0, 0.0]       # cid 1 and cid 2 seeds IDENTICAL
        elif i == s2:
            sub2 = [9.0, 9.0]       # cid 3 seed far away
        elif i % 2 == 0:
            sub2 = [0.5, 0.5]       # near the 0-cluster
        else:
            sub2 = [8.5, 8.5]       # near the 9-cluster
        rows.append((i, [1.0, float(i) / 10.0] + sub2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(df, dims=4, m=2, ksub=3, iterations=1)
    # the tie rule sends every 0-cluster row to cid 1, so cid 2 must
    # have dropped out of subspace 2 — a real gap below max(cid)=3
    assert sorted(books[2]) == [1, 3], books[2]

    q = df.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(q, df, k=3).collect()
    }
    codes = pq_encode(df, books, dims=4)
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_topk_with_index(
            q, codes, books, df, k=3, rerank=12, dims=4
        ).collect()
    }
    assert got == exact


@pytest.mark.parametrize("opq", [False, True], ids=["plain", "opq"])
def test_ivfpq_encode_with_index_matches_build_coding(spark, sf_dir, opq):
    """Coding is a pure per-row function of the frozen (centroids,
    rotation, codebooks) — encoding the SAME rows through
    ivfpq_encode_with_index must reproduce the build's own coded
    corpus bit-for-bit, reconstruction norm included, which is what
    makes append-without-retrain sound for plain and OPQ indexes."""
    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_build,
        ivfpq_encode_with_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, rotation, books, coded = ivfpq_build(
        emb, n_cells=8, ksub=8, iterations=1, opq=opq
    )
    built = {(r.id, r.cell, tuple(r.codes), r.rn2) for r in coded.collect()}
    recoded = {
        (r.id, r.cell, tuple(r.codes), r.rn2)
        for r in ivfpq_encode_with_index(
            emb, cents, books, rotation=rotation
        ).collect()
    }
    assert recoded == built


def test_ivfpq_maintained_index_full_probe_equals_brute_force(spark, sf_dir):
    """Round-11 plumbing invariant (the gap-positional-lookup
    pattern): after append + tombstone delete, probing EVERY cell and
    re-ranking every candidate must reduce the maintained index to
    exact brute force over the maintained corpus — regardless of ADC
    quality. Fails if append misroutes cells, delete leaves ghosts,
    or the rerank corpus drifts from the coded corpus."""
    import pyspark.sql.functions as SF

    from metadata_ingestion_poc_spark.operators.pq import (
        ivfpq_build,
        ivfpq_index_append,
        ivfpq_index_delete,
        ivfpq_topk_with_index,
    )
    from metadata_ingestion_poc_spark.operators.similarity import (
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(SF.col("vec_id") >= 60)
    new = emb.filter((SF.col("vec_id") >= 20) & (SF.col("vec_id") < 60))
    cents, _, books, coded = ivfpq_build(old, n_cells=8, ksub=8, iterations=1)
    coded = ivfpq_index_append(coded, new, cents, books)
    coded = ivfpq_index_delete(coded, [i for i in range(20, 200, 10)])
    kept = emb.filter(
        (SF.col("vec_id") >= 20) & (SF.col("vec_id") % 10 != 0)
    )
    queries = emb.filter(SF.col("vec_id") < 5)
    served = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivfpq_topk_with_index(
            queries, cents, books, coded, kept,
            k=5, nprobe=10_000, rerank=1_000_000,
        ).collect()
    }
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(queries, kept, k=5).collect()
    }
    assert served == exact
    deleted_ids = {i for i in range(20, 200, 10)}
    assert not {v[0] for v in served.values()} & deleted_ids


def test_mmr_zero_norm_fails_loud(spark):
    """Round-11 review: a zero-norm vector in the candidate set (or a
    zero-norm query NULL-ing every relevance) must trip the guard
    before the grouped map, not surface as a ZeroDivisionError inside
    the pandas worker."""
    from metadata_ingestion_poc_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    rows = [(i, [float(i + j + 1) for j in range(4)]) for i in range(10)]
    rows.append((99, [0.0] * 4))  # zero-norm corpus row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # under ANSI the zero division already throws inside the candidate
    # stage (cosine_topk); in non-ANSI sessions the NULL relevance
    # reaches the guard instead — both are loud, neither reaches the
    # pandas worker
    with pytest.raises(Exception, match="norm > 0|DIVIDE_BY_ZERO"):
        mmr_diverse_topk(
            df.filter(F.col("vec_id") < 2), df, k=3, n_candidates=11
        ).collect()


def test_mmr_prefers_diversity_over_pure_relevance(spark):
    """The defining MMR property on a constructed geometry: with two
    near-identical highly-relevant candidates and one moderately
    relevant diverse candidate, rank 2 must go to the diverse one
    (pure relevance would pick the near-duplicate)."""
    from metadata_ingestion_poc_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    # the query sits between two orthogonal directions; candidates 1
    # and 2 are near-duplicates along the first, candidate 3 is the
    # second direction — equally relevant, orthogonal to pick 1
    rows = [
        (0, [1.0, 1.0, 0.0, 0.0]),       # query
        (1, [1.0, 0.01, 0.0, 0.0]),      # most relevant
        (2, [1.0, -0.02, 0.0, 0.0]),     # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),       # diverse, equally relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = (
        mmr_diverse_topk(
            df.filter(F.col("vec_id") == 0), df, k=3, n_candidates=3
        )
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.neighbor_id for r in got] == [1, 3, 2]
