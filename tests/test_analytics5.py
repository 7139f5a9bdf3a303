"""Semantic corners for the round-7 analytics batch (q214-q217).

The driver sweep proves these against DuckDB end-to-end; these tests
pin the hand-checkable invariants that survive refactors of either
side — chunk coverage/overlap algebra, JS divergence bounds, HHI
extremes, and kappa's calibration points.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.queries import QUERIES
from metadata_ingestion_poc_spark.queries.analytics5 import (
    CHUNK_S,
    CHUNK_W,
)


@pytest.fixture(scope="module")
def chunks(spark, sf_dir):
    return QUERIES["q214_rag_chunking"](spark, sf_dir).collect()


def test_rag_chunks_cover_and_overlap(chunks):
    """Every chunk except the last is full-width; consecutive chunks
    overlap by exactly W-S tokens; offsets advance by the stride."""
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rs] == list(range(len(rs)))
        for r in rs[:-1]:
            assert r.n_tokens == CHUNK_W, (doc_id, r)
        for r in rs:
            assert r.chunk_start == r.chunk_idx * CHUNK_S
            assert 1 <= r.n_tokens <= CHUNK_W
            assert len(r.chunk_text.split(" ")) == r.n_tokens


def test_rag_chunking_short_doc_single_chunk(spark, sf_dir, chunks):
    """n <= W docs produce exactly one chunk holding the whole doc —
    the ceil-div edge both engines must agree on. The short set comes
    from the SOURCE table (same tokenization as the query), so the
    test fails if the corpus has no short docs or if a short doc ever
    grows a second chunk / loses tokens."""
    src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.size(F.split(F.trim("text"), " ")).alias("n_tok"),
        )
        .filter(F.col("n_tok") <= CHUNK_W)
        .collect()
    )
    assert src, "corpus must contain docs shorter than one window"
    n_tok = {r.doc_id: r.n_tok for r in src}
    out = {}
    for r in chunks:
        if r.doc_id in n_tok:
            out.setdefault(r.doc_id, []).append(r)
    assert set(out) == set(n_tok)
    for doc_id, rs in out.items():
        assert len(rs) == 1, (doc_id, rs)
        assert rs[0].chunk_idx == 0
        assert rs[0].n_tokens == n_tok[doc_id]


def test_js_divergence_bounds_and_totals(spark, sf_dir):
    rows = QUERIES["q215_js_divergence"](spark, sf_dir).collect()
    assert rows
    # shares are distributions
    assert abs(sum(r.p_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.q_share for r in rows) - 1.0) < 1e-3
    js = sum(r.js_contrib for r in rows)
    # JS divergence (natural log) is bounded by ln 2 and non-negative;
    # per-brand contributions can be slightly negative only via 6-dp
    # rounding
    assert -1e-4 <= js <= 0.6932
    for r in rows:
        assert r.js_contrib >= -1e-5


def test_hhi_bounds(spark, sf_dir):
    rows = QUERIES["q216_hhi_concentration"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # n equal suppliers -> 1/n; monopoly -> 1. 6-dp rounding slack.
        assert 1.0 / r.n_suppliers - 1e-4 <= r.hhi <= 1.0 + 1e-6
        assert r.nation_revenue > 0


def test_kappa_calibration_points(spark):
    """kappa == 1 on perfect agreement; ~0 when raters are independent
    coin flips of different biases (pinned through the same registered
    pipeline arithmetic, inlined here on a constructed frame)."""
    df = spark.range(1000).select(
        F.lit(2000).alias("ship_year"),
        (F.col("id") % 2).cast("int").alias("a"),
        (F.col("id") % 2).cast("int").alias("b"),
    )
    c = df.groupBy("ship_year").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    ).first()
    po = (c.n11 + c.n00) / c.n
    pe = ((c.n11 + c.n10) / c.n) * ((c.n11 + c.n01) / c.n) + (
        (c.n01 + c.n00) / c.n
    ) * ((c.n10 + c.n00) / c.n)
    assert (po - pe) / (1 - pe) == 1.0

    # independent raters: a = id%2, b = (id//2)%2 -> kappa ~ 0
    df2 = spark.range(1000).select(
        (F.col("id") % 2).cast("int").alias("a"),
        ((F.col("id") / 2).cast("int") % 2).cast("int").alias("b"),
    )
    c2 = df2.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    ).first()
    po2 = (c2.n11 + c2.n00) / c2.n
    pe2 = ((c2.n11 + c2.n10) / c2.n) * ((c2.n11 + c2.n01) / c2.n) + (
        (c2.n01 + c2.n00) / c2.n
    ) * ((c2.n10 + c2.n00) / c2.n)
    assert abs((po2 - pe2) / (1 - pe2)) < 0.01


def test_kappa_registered_query_year_grain(spark, sf_dir):
    rows = QUERIES["q217_cohens_kappa"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n == r.n11 + r.n10 + r.n01 + r.n00
        assert -1.0 <= r.kappa <= 1.0


def test_cohort_retention_invariants(spark, sf_dir):
    rows = QUERIES["q218_cohort_retention"](spark, sf_dir).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, []).append(r)
        assert 0 <= r.n_active <= r.cohort_size
        assert 0.0 <= r.retention <= 1.0
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_weeks)
        # age 0 = the cohort's own first week: everyone is active
        assert rs[0].age_weeks == 0
        assert rs[0].retention == 1.0


def test_bigram_lm_scores_are_log_probs(spark, sf_dir):
    out = QUERIES["q219_bigram_lm_score"](spark, sf_dir)
    rows = out.collect()
    assert rows
    docs = (
        QUERIES["q219_bigram_lm_score"]
        .__globals__["load_table"](spark, sf_dir, "documents")
        .select(
            F.size(F.split(F.lower(F.trim("text")), " ")).alias("n")
        )
        .filter(F.col("n") >= 2)
        .count()
    )
    assert len(rows) == docs  # every scoreable doc scored exactly once
    for r in rows:
        assert r.avg_logp < 0  # log of probability < 1
        assert r.n_bigrams >= 1


def test_dow_seasonality_reconstructs_total(spark, sf_dir):
    rows = QUERIES["q220_dow_seasonality"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 7
    assert all(r.seasonality_index > 0 for r in rows)
    # weighted mean of indexes is exactly 1: sum(n_days * idx) == nd
    nd = sum(r.n_days for r in rows)
    w = sum(r.n_days * r.seasonality_index for r in rows)
    assert abs(w - nd) < 1e-2
