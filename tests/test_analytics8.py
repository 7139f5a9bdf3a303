"""Semantic gates for the analytics8 batch (q266-q270).

The oracle sweep proves cross-engine value equality; these pin the
statistical contracts a green hash can't: split-conformal coverage
must actually sit near the nominal level on exchangeable data, and
the GD census must describe a learning trajectory."""

from __future__ import annotations

import pytest

from metadata_ingestion_poc_spark.queries.analytics8 import (
    q269_logreg_gd,
    q270_conformal_interval,
)

SF_DIR = "/root/testdata/sf0.01"


def test_conformal_coverage_near_nominal(spark):
    rows = q270_conformal_interval(spark, SF_DIR).collect()
    assert len(rows) == 5  # one per order priority
    for r in rows:
        # finite-sample guarantee: coverage >= 0.9 in expectation over
        # exchangeable splits; the hash split is as-if random, so allow
        # sampling noise around the nominal level but nothing cliff-y
        assert 0.84 <= r["coverage"] <= 0.97, r
        assert r["radius"] > 0
        assert r["n_train"] > r["n_cal"] > 0 and r["n_test"] > 0
        assert 0 <= r["covered"] <= r["n_test"]


def test_logreg_census_learns(spark):
    rows = q269_logreg_gd(spark, SF_DIR).collect()
    assert [r["iter"] for r in rows] == [0, 1, 2, 3, 4]
    # the planted boundary weights are (+, -): signs must be learned
    assert rows[-1]["w1"] > 0 and rows[-1]["w2"] < 0
    assert rows[-1]["accuracy"] > rows[0]["accuracy"] + 0.3


def test_logreg_auc_discriminates(spark):
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q271_logreg_auc,
    )

    r = q271_logreg_auc(spark, SF_DIR).first()
    # the planted boundary is recoverable: AUC must be far above chance
    assert r["auc"] > 0.9
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    # scores live on the (quantity x discount) grid
    assert r["n_scores"] <= 50 * 11


def test_logreg_calibration_bins(spark):
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q272_logreg_calibration,
    )

    rows = q272_logreg_calibration(spark, SF_DIR).collect()
    assert 2 <= len(rows) <= 10
    n = sum(r["n"] for r in rows)
    assert all(0.0 <= r["pos_rate"] <= 1.0 for r in rows)
    # monotone trend: the top bin must be far more positive than the
    # bottom bin (the scorer separates the planted classes)
    assert rows[-1]["pos_rate"] > rows[0]["pos_rate"] + 0.5
    assert n == sum(r["n_pos"] for r in rows) + sum(
        r["n"] - r["n_pos"] for r in rows
    )


def test_ridge_cv_matches_numpy_loo_fit(spark):
    """The leave-fold-out-by-subtraction trick must equal a direct
    out-of-fold numpy ridge fit (fold 0, sf0.001)."""
    import numpy as np

    from metadata_ingestion_poc_spark.operators.clustering import (
        HASH_MOD,
        HASH_MULT,
    )
    from metadata_ingestion_poc_spark.queries.analytics8 import q273_ridge_cv

    sf = "/root/testdata/sf0.001"
    got = {r["fold"]: r for r in q273_ridge_cv(spark, sf).collect()}
    assert sorted(got) == [0, 1, 2, 3, 4]

    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .selectExpr(
            "l_quantity AS q",
            "l_discount AS d",
            "l_extendedprice AS p",
            "l_orderkey * 10 + l_linenumber AS key",
        )
        .collect()
    )
    rows = [
        (r["q"], r["d"], r["p"])
        for r in li
        if ((r["key"] % HASH_MOD) * HASH_MULT % HASH_MOD) % 5 != 0
    ]
    X = np.array([[1.0, round(q, 2), round(d, 2)] for q, d, _ in rows])
    y = np.array([round(p, 2) for _, _, p in rows])
    A = X.T @ X + np.diag([0.0, 1000.0, 1000.0])
    w = np.linalg.solve(A, X.T @ y)
    for j, name in enumerate(["w0", "w1", "w2"]):
        assert abs(got[0][name] - w[j]) < 1e-7 * max(1.0, abs(w[j]))
    # held-out sizes partition the corpus ~evenly
    n = sum(r["n_test"] for r in got.values())
    assert all(0.1 < r["n_test"] / n < 0.3 for r in got.values())
    assert all(r["mse_k"] > 0 for r in got.values())


def test_dp_noise_mechanism(spark):
    """q275: the release must (a) perturb every group with the
    hand-derived inverse-CDF Laplace draw, (b) clip per-doc char
    contributions, (c) keep noise magnitudes on the expected scale
    for its epsilon budget."""
    import math

    from metadata_ingestion_poc_spark.operators.clustering import (
        HASH_MOD, HASH_MULT,
    )
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        _DP_B_CHARS, _DP_B_COUNT, _DP_CLIP, q275_dp_noisy_release,
    )

    rows = q275_dp_noisy_release(spark, SF_DIR).collect()
    assert len(rows) > 50  # ~sources x langs

    def lap(seed, scale):
        u = (((seed % HASH_MOD) * HASH_MULT) % HASH_MOD + 1) / (
            HASH_MOD + 1
        )
        mag = round(math.log(1.0 - 2.0 * abs(u - 0.5)), 6)
        return -scale * mag if u >= 0.5 else scale * mag

    import duckdb

    con = duckdb.connect()
    seeds = {
        (s, lg): (s1, s2, int(n), int(c))
        for s, lg, n, c, s1, s2 in con.execute(
            f"""SELECT source, lang, COUNT(*),
                       SUM(LEAST(n_chars, {_DP_CLIP})),
                       MIN(doc_id), MAX(doc_id)
                FROM read_parquet('{SF_DIR}/documents.parquet')
                GROUP BY 1, 2"""
        ).fetchall()
    }
    for r in rows:
        s1, s2, n, c = seeds[(r["source"], r["lang"])]
        assert r["n_docs"] == n
        assert r["clipped_chars"] == c  # clip applied
        assert r["noisy_docs"] == pytest.approx(n + lap(s1, _DP_B_COUNT))
        assert r["noisy_chars"] == pytest.approx(c + lap(s2, _DP_B_CHARS))
        # the hash uniform's support is [1/(m+1), m/(m+1)] with
        # m = 2^31 - 1, so |noise| <= b * ln((m+1)/2) ~= 20.79 * b
        # exactly (seed 0 realizes it); assert a hair above it
        assert abs(r["noisy_docs"] - n) <= 21.5 * _DP_B_COUNT
        assert abs(r["noisy_chars"] - c) <= 21.5 * _DP_B_CHARS


def test_stump_recovers_planted_boundary(spark):
    """q276: the planted label is sign(2*(qty-25.5)/25 - (disc-.05)*20
    + small noise) — quantity drives it, so the best quantity split
    must land near the 25.5 decision point and dominate the best
    discount split's gain."""
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q276_decision_stump,
    )

    from fractions import Fraction

    rows = q276_decision_stump(spark, SF_DIR).collect()
    # the gain ships as the exact rational pair (string-encoded
    # integers — the only hash-safe wide-integer currency; see the
    # query docstring): reconstruct it exactly
    gain = {
        (r["feature"], r["threshold"]): Fraction(
            int(r["gain_num"]), int(r["gain_den"])
        )
        for r in rows
    }
    best = {r["feature"]: r for r in rows if r["best"]}
    assert set(best) == {"l_quantity", "l_discount"}
    assert 23 <= best["l_quantity"]["threshold"] <= 28
    assert (
        gain[("l_quantity", best["l_quantity"]["threshold"])]
        > gain[("l_discount", best["l_discount"]["threshold"])]
    )
    # the flagged best IS the argmax of the exact rational per feature
    for feat, r in best.items():
        assert gain[(feat, r["threshold"])] == max(
            g for (f, _), g in gain.items() if f == feat
        )
    # conservation: every sweep row partitions the same population
    by_feat = {}
    for r in rows:
        by_feat.setdefault(r["feature"], set()).add(
            r["n_left"] + r["n_right"]
        )
    assert all(len(v) == 1 for v in by_feat.values())
    # gains are valid impurity decreases, exactly (Gini concavity)
    assert all(0 <= g <= Fraction(1, 2) for g in gain.values())
    # and the exact rational matches the float Gini recompute
    for r in rows:
        n = r["n_left"] + r["n_right"]
        pos = r["pos_left"] + r["pos_right"]
        p, pl, pr = (
            pos / n,
            r["pos_left"] / r["n_left"],
            r["pos_right"] / r["n_right"],
        )
        g = (
            2 * p * (1 - p)
            - (r["n_left"] / n) * 2 * pl * (1 - pl)
            - (r["n_right"] / n) * 2 * pr * (1 - pr)
        )
        assert abs(float(gain[(r["feature"], r["threshold"])]) - g) < 1e-9


def test_stump_diagnostic_slices_project_q276(spark):
    """q276a/q276b are the round-14 driver-red bisection slices: they
    must be EXACT column projections of q276 (same rows, same values),
    and the round-14 digit-extraction rank key must reproduce the
    exact-rational argmax (cross-checked against Python's arbitrary-
    precision // on the same operands)."""
    from fractions import Fraction

    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q276_decision_stump,
        q276a_stump_counts,
        q276b_stump_gains,
    )

    full = {
        (r["feature"], r["threshold"]): r
        for r in q276_decision_stump(spark, SF_DIR).collect()
    }
    a = q276a_stump_counts(spark, SF_DIR).collect()
    b = q276b_stump_gains(spark, SF_DIR).collect()
    assert len(a) == len(b) == len(full)
    for r in a:
        f = full[(r["feature"], r["threshold"])]
        assert all(
            r[c] == f[c]
            for c in ("n_left", "pos_left", "n_right", "pos_right")
        )
    for r in b:
        f = full[(r["feature"], r["threshold"])]
        assert r["gain_num"] == f["gain_num"]
        assert r["gain_den"] == f["gain_den"]
    # the two 9-digit integer-division key stages, replayed in exact
    # Python arithmetic, must rank identically to the Fraction argmax
    for feat in ("l_quantity", "l_discount"):
        rows = [r for (f, _), r in full.items() if f == feat]

        def key(r):
            gn, gd = int(r["gain_num"]), int(r["gain_den"])
            kd1 = (gn * 10**9) // gd
            kd2 = ((gn * 10**9 - kd1 * gd) * 10**9) // gd
            return (-kd1, -kd2, r["threshold"])

        by_key = min(rows, key=key)
        by_frac = max(
            rows,
            key=lambda r: (
                Fraction(int(r["gain_num"]), int(r["gain_den"])),
                -r["threshold"],
            ),
        )
        assert by_key["threshold"] == by_frac["threshold"]
        assert full[(feat, by_key["threshold"])]["best"] is True


def test_als_user_step_matches_numpy(spark):
    """q277: the per-user Cramer solve must equal numpy's ridge solve
    on the identical Gram system, and the regularized fit must beat
    the zero predictor it dominates by construction (0 is feasible)."""
    import math

    import numpy as np

    from metadata_ingestion_poc_spark.operators.clustering import (
        HASH_MOD, HASH_MULT,
    )
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        _ALS_LAMBDA, q277_als_user_step,
    )

    sf = "/root/testdata/sf0.001"
    got = q277_als_user_step(spark, sf).collect()
    assert len(got) == 20
    assert all(
        got[i]["n_ratings"] >= got[i + 1]["n_ratings"] for i in range(19)
    )

    def factor(pk, which):
        seed = pk + which * 1000000007
        u = (((seed % HASH_MOD) * HASH_MULT) % HASH_MOD + 1) / (
            HASH_MOD + 1
        )
        return round(u - 0.5, 6)

    li = spark.read.parquet(f"{sf}/lineitem.parquet").collect()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in spark.read.parquet(f"{sf}/orders.parquet").collect()
    }
    by_user = {}
    for r in li:
        cust = orders[r["l_orderkey"]]
        q = np.array(
            [factor(r["l_partkey"], 1), factor(r["l_partkey"], 2)]
        )
        by_user.setdefault(cust, []).append((q, float(r["l_quantity"])))

    for row in got[:5]:
        obs = by_user[row["custkey"]]
        assert len(obs) == row["n_ratings"]
        Q = np.array([q for q, _ in obs])
        y = np.array([v for _, v in obs])
        A = Q.T @ Q + _ALS_LAMBDA * np.eye(2)
        w = np.linalg.solve(A, Q.T @ y)
        assert row["w1"] == pytest.approx(w[0], rel=1e-9)
        assert row["w2"] == pytest.approx(w[1], rel=1e-9)
        # the fitted RMSE beats predicting zero (0 is in the span and
        # lambda only shrinks toward it)
        rmse0 = math.sqrt(float(np.mean(y * y)))
        assert row["rmse"] < rmse0


def test_isotonic_minimax_equals_pav(spark):
    """q279: the minimax closed form must equal a from-scratch
    pool-adjacent-violators fit, be monotone, and preserve the
    weighted mean on every pooled block (the PAV invariants)."""
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q279_isotonic_calibration,
    )

    rows = q279_isotonic_calibration(spark, "/root/testdata/sf0.001").collect()
    assert rows == sorted(rows, key=lambda r: r["score_rank"])
    fitted = [r["fitted"] for r in rows]
    assert all(
        fitted[i] <= fitted[i + 1] + 1e-12 for i in range(len(fitted) - 1)
    )
    assert all(0.0 <= f <= 1.0 for f in fitted)

    # reference PAV on (weight, rate) blocks
    blocks = [
        [float(r["n"]), float(r["n_pos"]) / float(r["n"])] for r in rows
    ]
    stack = []
    for w_, v in blocks:
        stack.append([w_, v])
        while len(stack) > 1 and stack[-2][1] >= stack[-1][1] - 1e-15:
            w2, v2 = stack.pop()
            w1, v1 = stack.pop()
            stack.append([w1 + w2, (w1 * v1 + w2 * v2) / (w1 + w2)])
    ref = []
    for w_, v in stack:
        taken = 0.0
        while taken < w_ - 1e-9:
            taken += blocks[len(ref)][0]
            ref.append(v)
    assert len(ref) == len(fitted)
    for got, want in zip(fitted, ref):
        assert got == pytest.approx(want, abs=1e-9)
    # global weighted mean is preserved
    tot = sum(r["n"] for r in rows)
    assert sum(r["fitted"] * r["n"] for r in rows) / tot == pytest.approx(
        sum(r["n_pos"] for r in rows) / tot
    )


def test_fs_linkage_separates_planted_dups(spark):
    """q280: Fellegi-Sunter weights must rank full-agreement pairs
    above typo'd true pairs above chance pairs, and blocked recall
    must equal exactly the planted pairs minus the nation-shifted
    ones that blocking provably loses."""
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q280_fs_record_linkage,
    )

    rows = q280_fs_record_linkage(spark, SF_DIR).collect()
    by_pat = {r["pattern"]: r for r in rows}
    # full agreement scores highest and is pure signal
    assert rows[0]["pattern"] == "1111"
    assert rows[0]["n_true"] == rows[0]["n_pairs"]
    # scores strictly decrease down the emitted ordering
    scores = [r["score"] for r in rows]
    assert all(scores[i] > scores[i + 1] for i in range(len(scores) - 1))
    # the name-typo'd true pairs sit in 0111 alongside chance pairs
    assert by_pat["0111"]["n_true"] > 0
    assert by_pat["0111"]["n_true"] < by_pat["0111"]["n_pairs"]
    # blocked recall: planted = custkeys % 3 == 0; lost = the planted
    # pairs whose duplicate shifted nation (custkey % 60 == 0)
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    planted = len([k for k in range(n_cust) if k % 3 == 0])
    lost = len([k for k in range(n_cust) if k % 3 == 0 and k % 20 == 0])
    assert sum(r["n_true"] for r in rows) == planted - lost
    # chance-agreement floor: the dominant pattern is overwhelmingly
    # non-true
    bulk = max(rows, key=lambda r: r["n_pairs"])
    assert bulk["n_true"] == 0 and bulk["score"] < 5


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_hits_matches_reference_power_iteration(spark, sf):
    """q281: the integer power iteration must equal a from-scratch
    replay, and the deferred normalization must behave (top score is
    exactly 1, ordering is by raw integer authority)."""
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        _HITS_ROUNDS, q281_hits_bipartite,
    )

    got = q281_hits_bipartite(spark, sf).collect()
    assert len(got) == 20
    assert got[0]["score"] == 1.0
    assert all(
        got[i]["authority"] >= got[i + 1]["authority"] for i in range(19)
    )

    li = spark.read.parquet(f"{sf}/lineitem.parquet").collect()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in spark.read.parquet(f"{sf}/orders.parquet").collect()
    }
    edges = {(orders[r["l_orderkey"]], r["l_partkey"]) for r in li}
    a = {p: 1 for _, p in edges}
    for _ in range(_HITS_ROUNDS):
        h = {}
        for c, p in edges:
            h[c] = h.get(c, 0) + a[p]
        a = {}
        for c, p in edges:
            a[p] = a.get(p, 0) + h[c]
    want = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["partkey"], r["authority"]) for r in got] == want


def test_anova_matches_scipy_free_reference(spark):
    """q282: F must equal the textbook one-way ANOVA computed from
    raw rows in numpy (no sufficient-statistics shortcuts)."""
    import numpy as np

    from metadata_ingestion_poc_spark.queries.analytics8 import q282_anova_f

    sf = "/root/testdata/sf0.001"
    r = q282_anova_f(spark, sf).first()
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "source", "n_chars"
    ).collect()
    groups = {}
    for row in rows:
        groups.setdefault(row["source"], []).append(float(row["n_chars"]))
    xs = [np.array(v) for v in groups.values()]
    grand = np.concatenate(xs).mean()
    ssb = sum(len(x) * (x.mean() - grand) ** 2 for x in xs)
    ssw = sum(((x - x.mean()) ** 2).sum() for x in xs)
    k, n = len(xs), sum(len(x) for x in xs)
    assert r["k_groups"] == k and r["n_rows"] == n
    assert r["ssb"] == pytest.approx(ssb, rel=1e-9)
    assert r["ssw"] == pytest.approx(ssw, rel=1e-9)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["f_stat"] == pytest.approx(f, rel=1e-9)
    assert 0.0 <= r["eta_sq"] <= 1.0


def test_quantile_regression_converges_to_pinball_optimum(spark):
    """q283: the subgradient trajectory must monotonically reduce the
    pinball loss and land within a hair of the grid-searched true
    optimum (median intercept, ~zero slope on this hash-independent
    generator)."""
    import numpy as np

    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q283_quantile_regression,
    )

    rows = q283_quantile_regression(spark, SF_DIR).collect()
    losses = [r["pinball"] for r in rows]
    assert all(
        losses[i] >= losses[i + 1] - 1e-9 for i in range(len(losses) - 1)
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").selectExpr(
        "(2 * l_quantity - 51) * 0.02 AS x1",
        "l_extendedprice * 0.001 AS y",
    ).collect()
    x1 = np.array([r["x1"] for r in li])
    y = np.array([r["y"] for r in li])
    best = None
    for w1g in np.arange(-5.0, 5.0, 0.25):
        w0g = float(np.median(y - w1g * x1))
        z = w0g + w1g * x1
        pl = float(np.where(y > z, 0.5 * (y - z), 0.5 * (z - y)).mean())
        if best is None or pl < best:
            best = pl
    # final loss within 0.1% of the true optimum
    assert losses[-1] <= best * 1.001
    assert abs(rows[-1]["w0"] - float(np.median(y))) < 1.5
    assert abs(rows[-1]["w1"]) < 0.5


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_scene_segmentation_recovers_planted_scenes(spark, sf):
    """q284: within-scene frames are byte-identical (distance 0), so
    the detector must NEVER split a scene; boundaries are planted, so
    exact recovery must be high (misses are pHash collisions between
    different slices — the stub's 32-byte information limit)."""
    from collections import defaultdict

    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q284_scene_segmentation,
    )

    rows = q284_scene_segmentation(spark, sf).collect()
    by_blob = defaultdict(list)
    for r in rows:
        by_blob[r["blob_id"]].append(
            (r["scene_id"], r["start_frame"], r["n_frames"])
        )
    exact = 0
    for bid, scenes in by_blob.items():
        scenes.sort()
        want = [bid % 3 + 3, bid % 5 + 3, bid % 7 + 3]
        got = [n for _, _, n in scenes]
        # never more scenes than planted (splits are impossible: a
        # scene's frames are identical, distance 0 < any threshold)
        assert len(got) <= 3, (bid, got)
        assert sum(got) == sum(want), (bid, got, want)
        # a merge only ever fuses CONSECUTIVE planted scenes, so the
        # scene starts must be a subset of the planted boundaries
        planted_starts = {0, want[0], want[0] + want[1]}
        assert {s for _, s, _ in scenes} <= planted_starts, (bid, scenes)
        if got == want:
            exact += 1
    assert exact / len(by_blob) >= 0.9, exact / len(by_blob)

    # determinism under repartitioning
    again = q284_scene_segmentation(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_kmv_estimates_track_exact_cardinalities(spark):
    """q285: sketch estimates must sit within KMV's k=16 error
    envelope of the exact per-source and union cardinalities, and the
    exact-below-k fallback must be exact."""
    import duckdb

    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q285_kmv_cardinality,
    )

    rows = q285_kmv_cardinality(spark, SF_DIR).collect()
    assert len(rows) == 190  # 20 choose 2

    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW n AS
            SELECT DISTINCT source,
                   md5(regexp_replace(lower(trim(text)),
                       '[ \t\n\r]+', ' ', 'g')) AS fp
            FROM read_parquet('{SF_DIR}/documents.parquet')"""
    )
    exact = {s: c for s, c in con.execute(
        "SELECT source, COUNT(*) FROM n GROUP BY source").fetchall()}
    uni = {
        (a, b): c
        for a, b, c in con.execute(
            """SELECT a.source, b.source, COUNT(DISTINCT f.fp)
               FROM (SELECT DISTINCT source FROM n) a
               JOIN (SELECT DISTINCT source FROM n) b ON a.source < b.source
               JOIN n f ON f.source IN (a.source, b.source)
               GROUP BY 1, 2"""
        ).fetchall()
    }
    # KMV with k=16: relative std ~ 1/sqrt(k-2) ~ 27%; allow 3 sigma
    for r in rows:
        ta, tb = exact[r["source_a"]], exact[r["source_b"]]
        tu = uni[(r["source_a"], r["source_b"])]
        for est, truth in [
            (r["est_a"], ta), (r["est_b"], tb), (r["est_union"], tu),
        ]:
            assert 0.2 * truth <= est <= 2.5 * truth, (r, truth)
        # inclusion-exclusion keeps the intersection estimate sane:
        # sources here are near-disjoint (distinct texts), so the
        # estimate must hover near zero relative to the union
        assert abs(r["est_inter"]) <= 0.8 * tu, r


def test_sequence_pattern_apriori_antimonotonicity(spark):
    """q287: support must be anti-monotone — every length-3 pattern's
    support is bounded by BOTH its length-2 prefixes/suffixes (the
    Apriori property; a greedy-containment bug typically breaks it),
    and repeated-type patterns need genuinely repeated events."""
    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q287_sequence_patterns,
    )

    rows = q287_sequence_patterns(spark, SF_DIR).collect()
    assert len(rows) == 150
    sup = {r["pattern"]: r["n_sessions"] for r in rows}
    for r in rows:
        parts = r["pattern"].split(">")
        if len(parts) == 3:
            a, b, c = parts
            assert r["n_sessions"] <= sup[f"{a}>{b}"], r
            assert r["n_sessions"] <= sup[f"{b}>{c}"], r
    assert all(0.0 <= r["support"] <= 1.0 for r in rows)
    # a>a demands two a's in one session: strictly rarer than sessions
    # containing a at all (= the a>a + singleton-a sessions)
    assert sup["click>click"] < max(sup.values())


def test_source_influence_matches_direct_recompute(spark):
    """q288: the total-minus-group leave-one-out deltas must equal a
    direct without-the-source recompute from raw rows."""
    import math

    from metadata_ingestion_poc_spark.queries.analytics8 import (
        q288_source_influence,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["source"]: r for r in q288_source_influence(spark, sf).collect()}
    rows = spark.read.parquet(f"{sf}/documents.parquet").select(
        "source", "lang", "n_chars"
    ).collect()

    def entropy(rs):
        n = len(rs)
        counts = {}
        for r in rs:
            counts[r["lang"]] = counts.get(r["lang"], 0) + 1
        return sum(
            round(-(c / n) * math.log(c / n), 6) for c in counts.values()
        )

    full_mean = sum(r["n_chars"] for r in rows) / len(rows)
    for src, r in got.items():
        rest = [x for x in rows if x["source"] != src]
        assert r["n_docs"] == len(rows) - len(rest)
        want_delta = sum(x["n_chars"] for x in rest) / len(rest) - full_mean
        assert r["delta_mean_chars"] == pytest.approx(want_delta, abs=1e-9)
        assert r["entropy_loso"] == pytest.approx(entropy(rest), abs=1e-9)
        assert r["delta_entropy"] == pytest.approx(
            r["entropy_loso"] - r["entropy_full"], abs=1e-12
        )
    # entropy of a near-balanced 5-lang mix sits near ln(5)
    any_r = next(iter(got.values()))
    assert 0.8 * math.log(5) <= any_r["entropy_full"] <= math.log(5) + 1e-6
