"""sf0.1 differential gates for operators whose failure modes only
appear above toy scale.

k-core: re-proves the fixed-round contract at 10x the graph.

The driver's sweep verifies q189 at sf0.01 (2,000-node graph, 6 peel
rounds).  This gate re-proves the SAME fixed-round contract at 10x the
graph (20,000 nodes, ~115 mean degree, cascade 20000 -> ... -> 17303)
— the scale where a wrong semi-join restriction, a lineage cut that
drops a round, or an off-by-one in the degree threshold would diverge
while the small graph happens to agree.  Oracle comparisons go through
``tools.check.check``, the harness that mirrors the driver's, so a
pass here means the driver's harness would pass too.

Runtime ~40 s (Spark iterative peel + DuckDB materialized-CTE unroll),
which is why it lives here rather than in the sf0.01 sweep.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import check, oracle_connection  # noqa: E402

from metadata_ingestion_poc_spark.queries import QUERIES  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF01), reason="sf0.1 testdata not present"
)


def test_kcore_sf01_matches_unrolled_cte_oracle(spark):
    out = check(spark, oracle_connection(SF01), "q189_kcore_decomposition", SF01)
    assert out.status == "match", out.detail
    # the cascade must actually peel — a no-op kcore that returns the
    # whole graph would still hash-match a broken oracle
    assert 0 < len(out.rows) < 20_000


def test_decile_lift_sf01_complete(spark):
    """q180 at sf0.1 keeps all ten deciles and every order: if
    global_row_number's offset collect and final join evaluated the
    range shuffle twice (nondeterministic sampling seed + AQE
    coalescing -> pid mismatch -> inner-join row loss), deciles would
    go missing. The operator checkpoints one layout; this pins the
    visible symptom at the scale where the double evaluation shows."""
    from metadata_ingestion_poc_spark.catalog import load_table

    rows = QUERIES["q180_decile_lift"](spark, SF01).collect()
    assert len(rows) == 10
    n_orders = load_table(spark, SF01, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders


def test_pagerank_sf01_matches_unrolled_oracle(spark):
    """Same gate for the OTHER iterative-float family: 4 unrolled
    pagerank rounds at sf0.1, where the capped co-purchase graph is at
    its sparsest (partner-in-cap probability shrinks with the key
    space) — the regime where a damping/deg-join bug could leave the
    small-SF result intact."""
    out = check(spark, oracle_connection(SF01), "q168_pagerank", SF01)
    assert out.status == "match", out.detail
    assert len(out.rows) > 0


def test_salted_agg_sf01_adversarial_skew_differential(spark):
    """The salted aggregation's failure modes are data-shape-dependent
    — prove it at sf0.1 under ADVERSARIAL skew
    (~99% of 600k lineitem rows remapped onto one key, the shape AQE
    statistics misjudge). The salted two-phase result must equal the
    plain one-phase groupBy EXACTLY (decimal sums), and the hot key's
    phase-1 partials must actually fan out across salt buckets."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.skew import salted_agg

    li = load_table(spark, SF01, "lineitem").select(
        F.when(F.col("l_orderkey") % 100 != 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), F.col("l_orderkey")))
        .alias("k"),
        F.col("l_quantity").cast("decimal(28,6)").alias("q"),
        F.col("l_orderkey"),
    )
    plain = {
        r["k"]: (r["n"], str(r["s"]), str(r["mx"]))
        for r in li.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s"),
            F.max("q").alias("mx"),
        )
        .collect()
    }
    buckets = 16
    salted_rows = salted_agg(
        li,
        keys=["k"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum("q").alias("ps"),
            F.max("q").alias("pm"),
        ],
        final_aggs=[
            F.sum("pc").alias("n"),
            F.sum("ps").alias("s"),
            F.max("pm").alias("mx"),
            F.count(F.lit(1)).alias("n_partials"),
        ],
        salt_buckets=buckets,
        salt_source="l_orderkey",
    ).collect()
    salted = {
        r["k"]: (r["n"], str(r["s"]), str(r["mx"])) for r in salted_rows
    }
    assert salted == plain
    hot = next(r for r in salted_rows if r["k"] == "HOT")
    assert hot["n"] > 500_000  # the skew is real at this SF
    assert hot["n_partials"] == buckets  # and it genuinely fanned out


def test_radius_join_sf01_high_latitude_antimeridian_differential(spark):
    """q222's swept differential lives at benign latitudes; this one derives sf0.1 coordinates pinned to [80, 90)
    where longitude cells shrink by up to 170x, longitudes span the
    full ring (antimeridian wrap), and the polar-cap full-ring rule
    engages. Banding must equal the in-engine brute-force cross join
    EXACTLY — same pair set, same 6-dp distances, no duplicates."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.geo import (
        haversine_km,
        radius_join,
    )

    radius = 150.0
    qs = (
        load_table(spark, SF01, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.expr("80.0 + (c_custkey * 7919 % 1000) / 100.0").alias("q_lat"),
            F.expr("(c_custkey * 9973 % 36000) / 100.0 - 180.0").alias(
                "q_lon"
            ),
        )
    )  # 1,500 queries in [80, 90) x [-180, 180)
    ps = load_table(spark, SF01, "supplier").select(
        "s_suppkey",
        F.expr("80.0 + (s_suppkey * 6151 % 1000) / 100.0").alias("p_lat"),
        F.expr("(s_suppkey * 104729 % 36000) / 100.0 - 180.0").alias("p_lon"),
    )  # 1,000 points, same band
    got = [
        (r["c_custkey"], r["s_suppkey"], r["distance_km"])
        for r in radius_join(qs, ps, radius, bits=6).collect()
    ]
    dist = F.round(
        haversine_km(
            F.col("q_lat"), F.col("q_lon"), F.col("p_lat"), F.col("p_lon")
        ),
        6,
    )
    want = {
        (r["c_custkey"], r["s_suppkey"], r["d"])
        for r in qs.crossJoin(ps)
        .withColumn("d", dist)
        .filter(F.col("d") <= radius)
        .collect()
    }
    assert len(want) > 100  # the band is dense enough to mean something
    # the fixture must actually exercise the antimeridian: matched
    # pairs whose raw longitudes differ by > 180 deg only meet by
    # wrapping the probe cells
    q_lon = {r["c_custkey"]: r["q_lon"] for r in qs.collect()}
    p_lon = {r["s_suppkey"]: r["p_lon"] for r in ps.collect()}
    n_wrap = sum(
        1 for (a, b, _) in want if abs(q_lon[a] - p_lon[b]) > 180.0
    )
    assert n_wrap > 0, "no cross-antimeridian pairs — fixture too tame"
    assert set(got) == want
    assert len(got) == len(want), "duplicated pairs"


def test_kmeans_sf01_matches_unrolled_oracle(spark):
    """The k-means trajectory at sf0.1 (2,000 vectors, 4x the swept
    scale) must replay exactly in the unrolled MATERIALIZED-CTE
    oracle — the scale where a nondeterministic seed order, a
    banker's-rounded centroid update, or a dropped empty cluster
    would diverge while 500 rows happen to agree."""
    from metadata_ingestion_poc_spark.queries.analytics7 import _KM_K

    out = check(spark, oracle_connection(SF01), "q242_kmeans_clusters", SF01)
    assert out.status == "match", out.detail
    assert 1 < len(out.rows) <= _KM_K
    # the clustering must be non-degenerate: >1 cluster got members
    sizes = sorted(r[1] for r in out.rows)
    assert sizes[-1] < sum(sizes)


def test_radius_join_sf01_polar_fine_grid_differential(spark):
    """Pins the polar full-ring rule at sf0.1 with a FINE grid
    (bits=11, 0.088-deg cells) and a sub-35 km radius — the exact
    regime where banding without the rule misses cross-pole pairs (cells at lon 0 vs lon 180 are metres apart
    through the pole but maximally distant in cell space). Banding
    must equal the in-engine brute-force cross join exactly."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.geo import (
        haversine_km,
        radius_join,
    )

    radius = 30.0
    qs = (
        load_table(spark, SF01, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select(
            "c_custkey",
            F.expr("89.0 + (c_custkey * 7919 % 100) / 100.0").alias("q_lat"),
            F.expr("(c_custkey * 9973 % 36000) / 100.0 - 180.0").alias(
                "q_lon"
            ),
        )
    )  # 750 probes in [89, 90) — every disc near/over the pole
    ps = load_table(spark, SF01, "supplier").select(
        "s_suppkey",
        F.expr("89.0 + (s_suppkey * 6151 % 100) / 100.0").alias("p_lat"),
        F.expr("(s_suppkey * 104729 % 36000) / 100.0 - 180.0").alias("p_lon"),
    )
    got = [
        (r["c_custkey"], r["s_suppkey"], r["distance_km"])
        for r in radius_join(qs, ps, radius, bits=11).collect()
    ]
    dist = F.round(
        haversine_km(
            F.col("q_lat"), F.col("q_lon"), F.col("p_lat"), F.col("p_lon")
        ),
        6,
    )
    want = {
        (r["c_custkey"], r["s_suppkey"], r["d"])
        for r in qs.crossJoin(ps)
        .withColumn("d", dist)
        .filter(F.col("d") <= radius)
        .collect()
    }
    assert len(want) > 50
    # the fixture must exercise the cross-pole path: matched pairs
    # whose longitudes differ by 90..270 deg meet only through the
    # polar cap, not along a same-cell band
    q_pos = {r["c_custkey"]: r["q_lon"] for r in qs.collect()}
    p_pos = {r["s_suppkey"]: r["p_lon"] for r in ps.collect()}
    n_polar = sum(
        1
        for (a, b, _) in want
        if 90.0 < abs(q_pos[a] - p_pos[b]) < 270.0
    )
    assert n_polar > 0, "no cross-pole pairs — fixture too tame"
    assert set(got) == want
    assert len(got) == len(want), "duplicated pairs"


def test_geo_knn_sf01_rank_contiguity_under_rmax(spark):
    """q231's contract is 'the k nearest WITHIN R_max'
    — under truncation the returned set must still be a PREFIX of the
    true distance ranking (ranks 1..min(k, m) with no gaps), which a
    candidate-generation miss would silently break while the swept
    row-hash at sf0.01 stays green. Brute-force in-engine at sf0.1."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.geo import haversine_km
    from metadata_ingestion_poc_spark.queries.analytics6 import (
        _KNN_K,
        _KNN_RADIUS_KM,
    )
    from metadata_ingestion_poc_spark.queries.geo_queries import (
        CUST_LAT,
        CUST_LON,
        sup_points,
    )

    got = {}
    for r in QUERIES["q231_geo_knn"](spark, SF01).collect():
        got.setdefault(r["c_custkey"], []).append(
            (r["nn_rank"], r["s_suppkey"], r["distance_km"])
        )

    qs = (
        load_table(spark, SF01, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select(
            "c_custkey",
            F.expr(CUST_LAT).alias("q_lat"),
            F.expr(CUST_LON).alias("q_lon"),
        )
    )
    ps = sup_points(spark, SF01)
    dist = F.round(
        haversine_km(
            F.col("q_lat"), F.col("q_lon"), F.col("p_lat"), F.col("p_lon")
        ),
        6,
    )
    truth = {}
    for r in (
        qs.crossJoin(ps)
        .withColumn("d", dist)
        .filter(F.col("d") <= _KNN_RADIUS_KM)
        .collect()
    ):
        truth.setdefault(r["c_custkey"], []).append(
            (r["d"], r["s_suppkey"])
        )

    # every probe with in-radius neighbors must appear with EXACTLY
    # the first min(k, m) of the (distance, suppkey) total order,
    # ranked 1..n contiguously
    assert set(got) == {q for q, v in truth.items() if v}
    n_truncated = 0
    for q, neigh in truth.items():
        if not neigh:
            continue
        neigh.sort()
        expect = [
            (i + 1, sk, d)
            for i, (d, sk) in enumerate(neigh[:_KNN_K])
        ]
        if len(neigh) > _KNN_K:
            n_truncated += 1
        assert sorted(got[q]) == expect, q
    assert n_truncated > 0, "R_max never truncated — fixture too tame"


def test_prefix_filter_sf01_zero_recall_vs_brute_force(spark):
    """The prefix-filter exact similarity join vs the brute-force all-common-shingles oracle at
    sf0.1 (100k docs). The driver sweep proves zero recall loss at
    10k docs; this re-proves it at the scale where a pruning bug
    would actually bite — the integer length filter
    (den·|a| ≥ num·|b|) and the positional filter's ceil-div alpha
    both tighten with document count, and an off-by-one in either
    silently drops qualifying pairs while the toy corpus agrees."""
    out = check(spark, oracle_connection(SF01), "q249_prefix_filter_jaccard", SF01)
    assert out.status == "match", out.detail
    # the join must find real pairs — an over-pruned empty result
    # would vacuously hash-match an equally broken oracle
    assert len(out.rows) > 0


def test_greedy_set_cover_sf01_matches_unrolled_rounds(spark):
    """The greedy max-coverage trajectory at 5k docs — where the
    covered-literal probe and the (gain DESC, doc_id) argmax run
    against a far larger gain frame than the sweep's 500 docs — must
    replay the oracle's unrolled MATERIALIZED rounds exactly."""
    out = check(spark, oracle_connection(SF01), "q253_greedy_set_cover", SF01)
    assert out.status == "match", out.detail
    assert len(out.rows) > 0
    assert len(out.rows) == 5  # full-length trajectory, no premature truncation


def test_densest_subgraph_sf01_matches_unrolled_rounds(spark):
    """The adaptive avg-degree peel on the uncapped co-purchase graph
    at sf0.1 (~20k nodes) — the scale where a threshold-comparison or
    truncation bug would diverge while the toy graph agrees."""
    out = check(spark, oracle_connection(SF01), "q261_densest_subgraph", SF01)
    assert out.status == "match", out.detail
    assert len(out.rows) > 0
    assert len(out.rows) == 4  # all rounds survive on this graph
