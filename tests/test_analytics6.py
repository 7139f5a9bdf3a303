"""Invariant pins for the round-8 analytics batch (q229-q234).

The driver sweep proves these against DuckDB end-to-end; these tests
pin the hand-checkable algebra that survives refactors of either side
— PSI share totals, chi-square/Cramér's-V bounds, k-NN's k and radius
contracts, run-length conservation, Theil non-negativity, and OOV
rate bounds — plus the continuous-percentile operator's equivalence
to the sequential definition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_ingestion_poc_spark.queries import QUERIES
from metadata_ingestion_poc_spark.queries.analytics6 import (
    _KNN_K,
    _KNN_RADIUS_KM,
    _OOV_VOCAB_K,
)


def test_psi_shares_sum_to_one_and_bands_cover(spark, sf_dir):
    rows = QUERIES["q229_psi_drift"](spark, sf_dir).collect()
    assert [r.band for r in rows] == ["b1", "b2", "b3", "b4", "b5"]
    assert abs(sum(r.ref_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.cur_share for r in rows) - 1.0) < 1e-3
    # reference quintile banding: each ref band holds ~20% of ref mass
    for r in rows:
        assert 0.15 < r.ref_share < 0.25, r
    # PSI is a sum of (cur-ref)*ln(cur/ref) terms: each term >= 0
    # up to 6-dp rounding (both factors share the same sign)
    for r in rows:
        assert r.psi_term >= -1e-5, r


def test_chi2_bounds_and_dof(spark, sf_dir):
    r = QUERIES["q230_chi2_independence"](spark, sf_dir).first()
    assert r.chi2 >= 0.0
    assert 0.0 <= r.cramers_v <= 1.0
    assert r.dof == (5 - 1) * (7 - 1)  # 5 event types x 7 weekdays
    assert r.n_cells <= 35
    assert r.n_events > 0


def test_geo_knn_contract(spark, sf_dir):
    rows = QUERIES["q231_geo_knn"](spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.c_custkey, []).append(r)
    for cust, rs in by_q.items():
        rs.sort(key=lambda r: r.nn_rank)
        assert [r.nn_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _KNN_K
        dists = [r.distance_km for r in rs]
        assert dists == sorted(dists)
        assert all(d <= _KNN_RADIUS_KM for d in dists)


def test_event_runs_conserve_events(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table

    rows = QUERIES["q232_event_runs"](spark, sf_dir).collect()
    got = {}
    for r in rows:
        got[r.event_type] = got.get(r.event_type, 0) + r.run_len * r.n_runs
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want  # every event lands in exactly one run
    assert any(r.run_len >= 2 for r in rows)  # real runs exist


def test_theil_nonnegative_and_zero_on_equal(spark, sf_dir):
    rows = QUERIES["q233_theil_index"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        # Theil T >= 0 (Jensen); 6-dp rounding of each term can push
        # the sum a hair below zero only in the all-equal case
        assert r.theil_t >= -1e-5, r
        assert r.n_custs > 0


def test_oov_rate_bounds_and_vocab_coverage(spark, sf_dir):
    rows = QUERIES["q234_oov_rate"](spark, sf_dir).collect()
    assert len(rows) == 20  # one per source
    for r in rows:
        assert 0.0 <= r.oov_rate <= 1.0
        assert r.n_oov <= r.n_tokens
    # the k=15 vocab over the 31-token generator vocabulary must
    # cover some mass on every source AND miss some on every source —
    # both code paths carry signal
    assert all(r.n_oov < r.n_tokens for r in rows)
    assert all(r.n_oov > 0 for r in rows)
    assert _OOV_VOCAB_K < 31  # calibration: generator has 31 tokens


def test_continuous_percentiles_match_sequential(spark):
    """The distributed rank-lookup must equal the sequential
    percentile_cont definition on a near-unique double column,
    including the n<=1 and exact-hit edges."""
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentiles_continuous,
    )

    vals = [(i, (i * 37 % 1009) + i / 7.0) for i in range(1000)]
    df = spark.createDataFrame(vals, "id long, v double")
    got = exact_percentiles_continuous(
        df, "v", {"p00": 0.0, "p25": 0.25, "p50": 0.5, "p99": 0.99, "p100": 1.0},
        tiebreak_cols=["id"],
    ).first()
    s = sorted(v for _, v in vals)

    def pc(p: float) -> float:
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (pos - lo) * (s[hi] - s[lo])

    for name, p in [("p00", 0.0), ("p25", 0.25), ("p50", 0.5),
                    ("p99", 0.99), ("p100", 1.0)]:
        assert abs(got[name] - pc(p)) < 1e-9, name


def test_continuous_percentiles_validates(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentiles_continuous,
    )

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError, match="percentile"):
        exact_percentiles_continuous(df, "v", {}, ["id"])
    with pytest.raises(ValueError, match="tiebreak"):
        exact_percentiles_continuous(df, "v", {"p50": 0.5}, [])
    empty = df.filter(F.col("v").isNull())
    with pytest.raises(ValueError, match="non-null"):
        exact_percentiles_continuous(empty, "v", {"p50": 0.5}, ["id"])


def test_embedding_drift_cosine_bounds(spark, sf_dir):
    rows = QUERIES["q235_embedding_label_drift"](spark, sf_dir).collect()
    assert len(rows) == 10  # one per label
    for r in rows:
        # cosine bounds are the invariant; the MAGNITUDE is data-
        # dependent (the synthetic embeddings carry little label
        # structure, so half-centroids align only weakly at small n)
        assert -1.0 - 1e-6 <= r.centroid_cosine <= 1.0 + 1e-6
        assert r.n_a > 0 and r.n_b > 0
    assert {r.label for r in rows} == set(range(10))


def test_rfm_segments_partition_customers(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table

    rows = QUERIES["q236_rfm_segments"](spark, sf_dir).collect()
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
        assert r.avg_monetary > 0
    # quintile scoring must actually spread: every M score occupied
    assert {r.m_score for r in rows} == {1, 2, 3, 4, 5}


def test_km_survival_monotone_and_bounded(spark, sf_dir):
    rows = QUERIES["q237_km_survival"](spark, sf_dir).collect()
    assert rows
    prev_log = 0.0
    prev_risk = None
    for r in sorted(rows, key=lambda r: r.duration_days):
        assert r.km_step <= 0.0  # each factor <= 1
        assert 1 <= r.n_churned < r.n_at_risk
        # log-survival is non-increasing in t
        assert r.km_log_survival <= prev_log + 1e-9
        prev_log = r.km_log_survival
        # risk set shrinks as duration grows
        if prev_risk is not None:
            assert r.n_at_risk < prev_risk
        prev_risk = r.n_at_risk


def test_continuous_percentiles_rejects_out_of_range_p(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentiles_bounded,
        exact_percentiles_continuous,
    )

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        exact_percentiles_continuous(df, "v", {"p": 1.5}, ["id"])
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        exact_percentiles_bounded(df, ["v"], {"p": -0.1})


def test_chunk_dedup_conserves_chunks_and_bounds(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.queries.analytics5 import (
        CHUNK_S,
        CHUNK_W,
    )

    rows = QUERIES["q238_chunk_dedup"](spark, sf_dir).collect()
    assert len(rows) == 20  # one per source
    for r in rows:
        assert 0 <= r.n_shared <= r.n_chunks
        assert 0.0 <= r.shared_rate <= 1.0
    # chunk-count conservation against the ceil-div formula
    import math

    want = 0
    for n_tok in (
        load_table(spark, sf_dir, "documents")
        .select(F.size(F.split(F.trim("text"), " ")).alias("n"))
        .collect()
    ):
        want += (max(n_tok.n - CHUNK_W, 0) + CHUNK_S - 1) // CHUNK_S + 1
    assert sum(r.n_chunks for r in rows) == want


def test_spearman_bounds_and_direction(spark, sf_dir):
    rows = QUERIES["q239_spearman_rank_corr"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert -1.0 - 1e-6 <= r.spearman_rho <= 1.0 + 1e-6
        assert r.n > 0
    # order count and total revenue are strongly monotone-associated
    # in TPC-H-ish data: every nation must correlate positively
    assert all(r.spearman_rho > 0.3 for r in rows)


def test_spearman_avg_rank_exact_on_hand_data(spark):
    """Hand-checkable TIES case against the PRODUCTION avg_rank
    expression (the same Column q239 ranks with): x = (1,2,2,4),
    y = (10,20,20,5) → average ranks rx = (1, 2.5, 2.5, 4),
    ry = (2, 3.5, 3.5, 1)."""
    from metadata_ingestion_poc_spark.queries.analytics6 import avg_rank

    g = spark.createDataFrame(
        [("n", 1.0, 10.0), ("n", 2.0, 20.0), ("n", 2.0, 20.0),
         ("n", 4.0, 5.0)],
        "n_name string, f double, m double",
    )
    ranked = g.select(
        "n_name",
        avg_rank("n_name", "f").alias("rf"),
        avg_rank("n_name", "m").alias("rm"),
    )
    rows = sorted((r.rf, r.rm) for r in ranked.collect())
    assert rows == [(1.0, 2.0), (2.5, 3.5), (2.5, 3.5), (4.0, 1.0)]


def test_spearman_single_member_group_yields_null(spark):
    """Zero rank variance (a group with one row, or all-tied metrics)
    must yield NULL rho — never a DIVIDE_BY_ZERO throw (ANSI mode) or
    NaN. Round-8 review fix, exercised through the full q239 pipeline
    shape on injected data."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window  # noqa: F401

    from metadata_ingestion_poc_spark.queries.analytics6 import avg_rank

    g = spark.createDataFrame(
        [("solo", 3.0, 7.0), ("pair", 1.0, 5.0), ("pair", 2.0, 9.0),
         ("tied", 4.0, 1.0), ("tied", 4.0, 2.0)],
        "n_name string, f double, m double",
    )
    D38 = "decimal(38,6)"
    ranked = g.select(
        "n_name",
        avg_rank("n_name", "f").alias("rf"),
        avg_rank("n_name", "m").alias("rm"),
    )
    s = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rf").cast(D38)).cast("double").alias("sx"),
        F.sum(F.col("rm").cast(D38)).cast("double").alias("sy"),
        F.sum((F.col("rf") * F.col("rm")).cast(D38)).cast("double").alias("sxy"),
        F.sum((F.col("rf") * F.col("rf")).cast(D38)).cast("double").alias("sxx"),
        F.sum((F.col("rm") * F.col("rm")).cast(D38)).cast("double").alias("syy"),
    )
    nn = F.col("n").cast("double")
    den = (nn * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        nn * F.col("syy") - F.col("sy") * F.col("sy")
    )
    rho = {
        r["n_name"]: r["rho"]
        for r in s.select(
            "n_name",
            F.when(
                den > 0,
                F.round(
                    (nn * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / F.sqrt(den),
                    6,
                ),
            ).alias("rho"),
        ).collect()
    }
    assert rho["solo"] is None   # n=1: no variance
    assert rho["tied"] is None   # f all-tied: zero rank variance
    assert rho["pair"] == 1.0    # perfectly monotone


def test_acf_bounds_and_lag7_seasonality(spark, sf_dir):
    rows = QUERIES["q240_revenue_acf"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(1, 8))
    for r in rows:
        assert -1.0 - 1e-6 <= r.acf <= 1.0 + 1e-6
        assert r.n_pairs > 0
    # each lag keeps most of the calendar paired (gaps only drop the
    # days whose day+k partner is missing — NOT monotone in k, since
    # which distances a gap severs depends on the gap layout)
    n_days = max(r.n_pairs for r in rows)
    assert all(r.n_pairs > n_days // 2 for r in rows)


def test_geo_hotspots_conservation_and_merging(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.queries.analytics6 import _HOT_BITS

    rows = QUERIES["q241_geo_hotspots"](spark, sf_dir).collect()
    assert rows  # the 7-city mixture always produces hotspots
    n_cust = load_table(spark, sf_dir, "customer").count()
    covered = sum(r.n_points for r in rows)
    # hotspots capture the city mass (~2/3 of points, minus boundary
    # splits) and exclude the uniform background noise
    assert 0 < covered <= n_cust
    assert covered > n_cust // 3
    # a city's cells are mutually adjacent, so clusters never exceed
    # the 7 generating cities
    assert 1 <= len(rows) <= 7
    for r in rows:
        assert r.n_cells >= 1
        assert 0 <= r.cluster_id < (1 << _HOT_BITS) ** 2


def test_bootstrap_ci_envelope_contract(spark, sf_dir):
    """q265 algebra pins beyond the oracle hash-match: every source's
    point estimate sits inside its bootstrap envelope (a Poisson(1)
    resample mean can stray but their min/max must bracket the plain
    mean for 20 resamples on this data), the envelope is non-degenerate
    (lo < hi — a constant envelope means the weights collapsed), and
    rerunning the query reproduces the frame exactly (all-integer
    weights + single IEEE divisions make it partitioning-invariant by
    construction; the rerun pins determinism, the oracle pins values)."""
    from metadata_ingestion_poc_spark.queries import QUERIES

    rows = QUERIES["q265_bootstrap_ci"](spark, sf_dir).collect()
    assert rows, "no sources"
    for r in rows:
        assert r.boot_lo is not None and r.boot_hi is not None
        assert r.boot_lo <= r.mean_tokens <= r.boot_hi, r
        assert r.boot_lo < r.boot_hi, f"degenerate envelope: {r}"
    again = QUERIES["q265_bootstrap_ci"](spark, sf_dir).collect()
    assert [tuple(x) for x in rows] == [tuple(x) for x in again]
