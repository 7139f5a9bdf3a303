"""Differential tests: rank-based exact percentiles ≡ Spark built-in."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_poc_spark.operators.percentiles import (
    exact_percentiles,
)


def _diff(spark, df, group, col, ps):
    mine = {
        tuple(r[c] for c in group): [r[name] for name in ps]
        for r in exact_percentiles(df, group, col, ps).collect()
    }
    ref = {
        tuple(r[c] for c in group): [r[name] for name in ps]
        for r in df.groupBy(*group)
        .agg(
            *[
                F.percentile(col, F.lit(p)).alias(name)
                for name, p in ps.items()
            ]
        )
        .collect()
    }
    assert set(mine) == set(ref)
    for k in ref:
        for a, b in zip(mine[k], ref[k]):
            assert a == pytest.approx(b, abs=1e-9), (k, mine[k], ref[k])


def test_matches_builtin_on_lineitem(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    _diff(
        spark,
        li,
        ["l_returnflag"],
        "l_extendedprice",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    )


def test_matches_builtin_small_groups_and_edges(spark):
    # group sizes 1, 2, 3 + duplicated values + negative values:
    # every interpolation corner (frac=0, frac≠0, n=1 degenerate)
    rows = [
        ("a", 5.0), ("b", 1.0), ("b", 2.0),
        ("c", -1.0), ("c", -1.0), ("c", 4.0),
        ("d", 0.0), ("d", 0.0), ("d", 0.0), ("d", 10.0),
    ]
    df = spark.createDataFrame(rows, "g: string, v: double")
    _diff(
        spark,
        df,
        ["g"],
        "v",
        {"p0": 0.0, "p25": 0.25, "p50": 0.5, "p75": 0.75, "p100": 1.0},
    )


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 3.0)], "g: string, v: double"
    )
    out = exact_percentiles(df, ["g"], "v", {"p50": 0.5}).collect()
    assert len(out) == 1 and out[0].p50 == pytest.approx(2.0)


def test_null_group_key_kept(spark):
    # a NULL group-key value is a real group for the built-in grouped
    # percentile (and the DuckDB oracle) — the broadcast lookup and the
    # lo/hi pairing join must be null-safe or the group vanishes
    rows = [
        (None, 1.0), (None, 3.0), (None, 5.0),
        ("a", 10.0), ("a", 20.0),
    ]
    df = spark.createDataFrame(rows, "g: string, v: double")
    got = {
        r.g: (r.p50, r.p100)
        for r in exact_percentiles(
            df, ["g"], "v", {"p50": 0.5, "p100": 1.0}
        ).collect()
    }
    assert got == {None: (3.0, 5.0), "a": (15.0, 20.0)}


def test_null_group_key_kept_multi_column(spark):
    # (x, null) vs (null, x) stay distinct through both null-safe joins
    rows = [("x", None, 1.0), ("x", None, 3.0), (None, "x", 100.0)]
    df = spark.createDataFrame(rows, "g1: string, g2: string, v: double")
    got = {
        (r.g1, r.g2): r.p50
        for r in exact_percentiles(
            df, ["g1", "g2"], "v", {"p50": 0.5}
        ).collect()
    }
    assert got == {("x", None): 2.0, (None, "x"): 100.0}


def test_rejects_empty_percentiles(spark):
    df = spark.createDataFrame([("a", 1.0)], "g: string, v: double")
    with pytest.raises(ValueError):
        exact_percentiles(df, ["g"], "v", {})
    for p in (1.5, -0.5):
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            exact_percentiles(df, ["g"], "v", {"q": p})


@pytest.mark.parametrize("p", [1.5, -0.5, float("nan")])
def test_every_entry_point_checks_p_before_planning(p):
    """A p outside [0, 1] fails before the frame is touched: None
    stands in for it."""
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative,
        exact_percentile_iterative_grouped,
        exact_percentiles_bounded,
        exact_percentiles_continuous,
    )

    calls = [
        lambda: exact_percentiles(None, ["g"], "v", {"q": p}),
        lambda: exact_percentile_iterative(None, "v", p),
        lambda: exact_percentile_iterative_grouped(None, ["g"], "v", p),
        lambda: exact_percentiles_continuous(None, "v", {"q": p}, ["id"]),
        lambda: exact_percentiles_bounded(None, ["v"], {"q": p}),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            call()


def test_iterative_matches_builtin_continuous(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative,
    )

    # continuous column, distincts == rows: the case the rank-based
    # form documents as its limit. Deterministic pseudo-random values.
    df = spark.range(0, 50_000).selectExpr(
        "CAST(xxhash64(id) AS DOUBLE) / 9.3e18 AS v"
    )
    for p in (0.0, 0.25, 0.5, 0.9, 0.99, 1.0):
        ref = df.agg(F.percentile("v", F.lit(p))).first()[0]
        # tiny direct_threshold forces real histogram-descent rounds
        got = exact_percentile_iterative(
            df, "v", p, bins=64, direct_threshold=500
        )
        assert got == pytest.approx(ref, rel=0, abs=1e-12), p


def test_iterative_duplicate_heavy_and_bounds(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative,
    )

    df = spark.range(0, 10_000).selectExpr("CAST(id % 7 AS DOUBLE) AS v")
    for p in (0.1, 0.5, 0.95):
        ref = df.agg(F.percentile("v", F.lit(p))).first()[0]
        got = exact_percentile_iterative(
            df, "v", p, bins=16, direct_threshold=100
        )
        assert got == pytest.approx(ref, abs=1e-12), p
    with pytest.raises(ValueError):
        exact_percentile_iterative(df, "v", 1.5)


def test_iterative_duplicate_dominated_stays_bounded(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative,
        exact_percentile_iterative_grouped,
    )

    # one value dominates: high percentiles land inside a collapsed
    # (width == 0) interval, which must return directly instead of
    # collecting ~rank rows on the driver (the old exact-finish path)
    df = spark.range(0, 50_000).selectExpr(
        "CASE WHEN id < 49900 THEN 7.0 ELSE CAST(id AS DOUBLE) END AS v"
    )
    for p in (0.5, 0.9, 0.99):
        ref = df.agg(F.percentile("v", F.lit(p))).first()[0]
        got = exact_percentile_iterative(
            df, "v", p, bins=16, direct_threshold=50
        )
        assert got == pytest.approx(ref, abs=1e-12), p
    # all-identical column: interval starts collapsed
    one = spark.range(0, 1000).selectExpr("3.5 AS v")
    assert exact_percentile_iterative(
        one, "v", 0.75, bins=16, direct_threshold=10
    ) == pytest.approx(3.5)
    # grouped: group "d" is dominated by one value, next to the
    # continuous group "c"; every task of "d" collapses to 7.0
    grouped = spark.range(0, 20_000).selectExpr(
        "IF(id % 2 = 0, 'c', 'd') AS g",
        "CASE WHEN id % 2 = 0 THEN CAST(xxhash64(id) AS DOUBLE) / 9.3e18 "
        "WHEN id < 19800 THEN 7.0 ELSE CAST(id AS DOUBLE) END AS v",
    )
    for p in (0.5, 0.9, 0.99):
        got = {
            r.g: r.q
            for r in exact_percentile_iterative_grouped(
                grouped, ["g"], "v", p, bins=16, direct_threshold=50
            ).collect()
        }
        ref = {
            r.g: r.q
            for r in grouped.groupBy("g")
            .agg(F.percentile("v", F.lit(p)).alias("q"))
            .collect()
        }
        assert got.keys() == ref.keys()
        for k in ref:
            assert got[k] == pytest.approx(ref[k], abs=1e-12), (p, k)


def test_iterative_collapsed_tasks_skip_the_exact_finish(spark, monkeypatch):
    """A task whose interval collapses to one value takes it directly:
    the exact finish's window, which would sort every row of that
    value in one task, never runs for it."""
    from metadata_ingestion_poc_spark.operators import percentiles

    class NoFinish:
        @staticmethod
        def partitionBy(*cols):
            raise AssertionError("a collapsed task reached the exact finish")

    monkeypatch.setattr(percentiles, "Window", NoFinish)
    # "d": 9,900 of 10,000 values are 7.0; "e": one value throughout
    df = spark.range(0, 20_000).selectExpr(
        "IF(id % 2 = 0, 'e', 'd') AS g",
        "CASE WHEN id % 2 = 0 THEN -2.5 "
        "WHEN id < 19800 THEN 7.0 ELSE CAST(id AS DOUBLE) END AS v",
    )
    for p in (0.5, 0.9):
        got = {
            r.g: r.q
            for r in percentiles.exact_percentile_iterative_grouped(
                df, ["g"], "v", p, bins=16, direct_threshold=50
            ).collect()
        }
        assert got == {"d": 7.0, "e": -2.5}, p


def test_iterative_grouped_matches_builtin(spark, sf_dir):
    from metadata_ingestion_poc_spark.catalog import load_table
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative_grouped,
    )

    li = load_table(spark, sf_dir, "lineitem")
    for p in (0.5, 0.9):
        got = {
            r.l_returnflag: r.q
            for r in exact_percentile_iterative_grouped(
                li, ["l_returnflag"], "l_extendedprice", p,
                bins=32, direct_threshold=50,  # force real descent rounds
            ).collect()
        }
        ref = {
            r.l_returnflag: r.q
            for r in li.groupBy("l_returnflag")
            .agg(F.percentile("l_extendedprice", F.lit(p)).alias("q"))
            .collect()
        }
        assert set(got) == set(ref)
        for k in ref:
            assert got[k] == pytest.approx(ref[k], abs=1e-9), (p, k)


def test_iterative_grouped_multi_column_groups_and_edges(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative_grouped,
    )

    rows = [
        ("a", "b", 1.0), ("a", "b", 2.0), ("a", "b", 100.0),
        ("ab", "", 7.0),            # concat-collision trap vs ("a","b")
        ("x", None, 3.0), ("x", None, 4.0),   # null group value
        ("solo", "g", 42.0),                  # n=1 degenerate
    ]
    df = spark.createDataFrame(rows, "g1: string, g2: string, v: double")
    got = {
        (r.g1, r.g2): r.q
        for r in exact_percentile_iterative_grouped(
            df, ["g1", "g2"], "v", 0.5, bins=8, direct_threshold=1
        ).collect()
    }
    ref = {
        (r.g1, r.g2): r.q
        for r in df.groupBy("g1", "g2")
        .agg(F.percentile("v", F.lit(0.5)).alias("q"))
        .collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == pytest.approx(ref[k], abs=1e-12), k


def test_iterative_grouped_null_position_groups_distinct(spark):
    # concat_ws SKIPS nulls, so without the null marker ("x", null) and
    # (null, "x") would merge into one group
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentile_iterative_grouped,
    )

    rows = [("x", None, 1.0), ("x", None, 3.0), (None, "x", 100.0)]
    df = spark.createDataFrame(rows, "g1: string, g2: string, v: double")
    got = {
        (r.g1, r.g2): r.q
        for r in exact_percentile_iterative_grouped(
            df, ["g1", "g2"], "v", 0.5, bins=8, direct_threshold=1
        ).collect()
    }
    assert got == {("x", None): 2.0, (None, "x"): 100.0}


def test_weighted_mode_matches_exploded_rows(spark):
    # exact_percentiles(count_col=...) over a value histogram must
    # equal the unweighted form over the exploded raw rows
    import random

    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentiles,
    )

    rng = random.Random(3)
    raw = [
        (g, float(rng.randint(1, 12)))
        for g in ("a", "b")
        for _ in range(rng.randint(30, 60))
    ]
    df = spark.createDataFrame(raw, "g: string, v: double")
    hist = df.groupBy("g", "v").count().withColumnRenamed("count", "w")
    ps = {"p25": 0.25, "med": 0.5, "p90": 0.9}
    ref = {r.g: (r.p25, r.med, r.p90) for r in exact_percentiles(df, ["g"], "v", ps).collect()}
    got = {
        r.g: (r.p25, r.med, r.p90)
        for r in exact_percentiles(hist, ["g"], "v", ps, count_col="w").collect()
    }
    assert got == ref


def test_weighted_mode_null_group_kept(spark):
    from metadata_ingestion_poc_spark.operators.percentiles import (
        exact_percentiles,
    )

    hist = spark.createDataFrame(
        [(None, 1.0, 3), (None, 5.0, 1), ("g", 2.0, 2)],
        "g: string, v: double, w: long",
    )
    got = {
        r.g: r.med
        for r in exact_percentiles(
            hist, ["g"], "v", {"med": 0.5}, count_col="w"
        ).collect()
    }
    # null group: exploded values [1,1,1,5], median = 1.0
    assert got == {None: 1.0, "g": 2.0}


def test_single_filescan_plan(spark, sf_dir):
    """Every internal branch of exact_percentiles (the rank window,
    the totals, one target arm per percentile, both rank lookups)
    reads the collapsed histogram; without the lineage cut each one
    re-derives it, and q14's plan scanned the raw table 9 times. The
    cut must hold it at one scan."""
    from metadata_ingestion_poc_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = exact_percentiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p99": 0.99},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # 1 scan feeding the checkpointed histogram, or 0 once the lazy
    # checkpoint has materialized (plan then reads ExistingRDD)
    assert plan.count("Scan parquet") <= 1, plan
