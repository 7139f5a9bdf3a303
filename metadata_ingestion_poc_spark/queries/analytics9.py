"""Twelfth analytics batch (round 12): OPQ-rotated ANN dials,
multiple-comparison control, audio fingerprinting, and streaming
sketch twins.

Cross-engine discipline notes for this batch follow the module rule
stated in functions/determinism.py (REVISED round 13): exact cells
(integers, integer pairs, FLOOR micro-grids, strings) are the only
hash-safe story; chains of correctly-rounded IEEE primitives over
exact operands ship raw; ROUND(non-exact-double, 6) is a documented
residual risk reserved for transcendental outputs; integer grid keys
derive via FLOOR(x + 0.5), never ROUND/CAST on a double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ..operators.ranktests import (
    FRIEDMAN_CHI2_SQL,
    JT_Z_SQL,
    MOOD_Z_SQL,
    KENDALL_TAU_SQL,
    KW_H_SQL,
    MWU_Z_SQL,
    WSR_Z_SQL,
)

# ---------------------------------------------------------------------------
# q289 — OPQ-rotated product-quantization ANN (operators/pq.py
# pq_ann_topk with opq=True, the rotation from operators/opq.py): the
# q250 dial with a data-trained orthogonal rotation in front of the
# subspace slicing (parametric OPQ, Ge et al. CVPR 2013 — eigenvalue
# allocation over one bounded covariance pass; rotation enters every
# scan as a d² literal matvec, candidate generation runs in the
# rotated space, exact re-rank in the ORIGINAL space so reported
# cosines are bit-identical to the plain paths). rows-only
# (approximate by design, the q250 precedent): the lift is pinned in
# tests/test_opq.py on a planted anisotropic corpus (distortion ≥3×
# lower, recall ≥ identity PQ); on the near-isotropic synthetic
# embeddings OPQ is pinned as no-regression at sf0.1
# (tests/test_ann_recall_sf01.py).
# ---------------------------------------------------------------------------


@query("q289_opq_ann_topk")
def q289_opq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return pq_ann_topk(
        queries_df, emb, k=10, ksub=16, iterations=1, rerank=150, opq=True
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# q290 — OPQ-rotated IVF-PQ (operators/pq.py ivfpq_topk with opq=True):
# the q254 IVFADC dial with the rotation trained on the RESIDUALS (what
# the codebooks actually quantize) and fused into the same single
# zero-shuffle coding scan; the coarse probe and <q, c_cell> stay in
# the original space, the reconstruction norm uses ‖c + Rᵀr̂‖ =
# ‖Rc + r̂‖ so the existing norm-table machinery applies verbatim to
# rotated centroids. rows-only; at the registered dial the composed
# recall HOLDS the probed-cell ceiling exactly (0.8173 at sf0.1 —
# residual PQ already reached it, and no quantizer improvement can
# exceed a probe-budget ceiling; pinned in
# tests/test_ann_recall_sf01.py).
# ---------------------------------------------------------------------------


@query("q290_opq_ivfpq_topk")
def q290_opq_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivfpq_topk(
        queries_df, emb, k=10,
        nprobe=16, m=16, ksub=32, iterations=1, rerank=400, opq=True,
    ).orderBy("query_id", "rank")

# ---------------------------------------------------------------------------
# q291 — Benjamini-Hochberg FDR control over a per-source drift-test
# battery: the multiple-comparison layer the screening family (ANOVA
# q282, chi², KS q176, PSI) reports INTO — a 100-source corpus runs
# hundreds of per-source screens, and acting on uncorrected p-like
# statistics at that multiplicity is the classic false-discovery
# trap. Battery: for every source, a two-sample Kolmogorov–Smirnov
# test of its document-length distribution against the REFERENCE
# source (src0 — the drift-vs-baseline design; vs-pooled-rest would
# let one genuinely-shifted source contaminate every other test's
# complement). A deterministic shift is planted on three sources so
# the discovery set is known; the unit test pins it at three SFs.
#
# Exactness engineering (the q276 rule applied from the start):
# - The KS statistic is an EXACT INTEGER ratio: on the shared length
#   spine, |F_s − F_ref| = |cum_s·n2 − cum_r·n1| / (n1·n2), so the
#   max runs on the integer numerator K and D = K/(n1·n2) is ONE
#   IEEE division of exact operands (ships raw, q268 rule).
# - The asymptotic p-value's argument is the ratio
#   −2·n_eff·D² = −2K²/((n1+n2)·n1·n2), with K SQUARED IN DOUBLE
#   (round-13 advisor fix): K ≤ n1·n2, so a BIGINT K² silently
#   overflows once n1·n2 > ~3e9 — the double product stays finite at
#   any scale and both engines evaluate the identical IEEE tree. Only
#   exp() is transcendental — engines differ by ≤1 ulp — so
#   p = 2·exp(arg) is ROUNDed at 6 dp identically (the q275 LN
#   discipline; documented residual class, determinism.py).
# - The BH step-up comparison p_(i) ≤ i·α/m is evaluated in EXACT
#   DECIMALS cross-multiplied (p6·m ≤ i·α), never a float division;
#   ranks are all-integer with (p6, source) total order; the cutoff
#   rank is one MAX window over the |sources|-bounded frame.
# Scale: one corpus scan to lengths, one (source, x) rollup; the
# spine grid is |sources| × |distinct lengths| (bounded), everything
# after is window arithmetic on that bounded frame.
# ---------------------------------------------------------------------------

_BH_PLANT = "('src3', 'src7', 'src15')"
_BH_SHIFT = 600
_BH_REF = "src0"
_BH_ALPHA = "CAST(0.05 AS DECIMAL(8,6))"


@query(
    "q291_bh_fdr",
    oracle=f"""
    WITH l AS (
      SELECT source,
             length(text) + CASE WHEN source IN {_BH_PLANT}
                                 THEN {_BH_SHIFT} ELSE 0 END AS x
      FROM documents),
    ref AS (SELECT x FROM l WHERE source = '{_BH_REF}'),
    nref AS (SELECT COUNT(*)::BIGINT AS n2 FROM ref),
    cand AS (SELECT source, x FROM l WHERE source <> '{_BH_REF}'),
    src AS (SELECT source, COUNT(*)::BIGINT AS n1 FROM cand
            GROUP BY source),
    spine AS (SELECT DISTINCT x FROM l),
    grid AS (SELECT s.source, s.n1, v.x FROM src s CROSS JOIN spine v),
    cnt AS (SELECT source, x, COUNT(*)::BIGINT AS c FROM cand
            GROUP BY 1, 2),
    rcnt AS (SELECT x, COUNT(*)::BIGINT AS c FROM ref GROUP BY 1),
    ecdf AS (
      SELECT g.source, g.n1, g.x,
             SUM(COALESCE(c.c, 0)) OVER w AS cum_s,
             SUM(COALESCE(r.c, 0)) OVER w AS cum_r
      FROM grid g
      LEFT JOIN cnt c ON c.source = g.source AND c.x = g.x
      LEFT JOIN rcnt r ON r.x = g.x
      WINDOW w AS (PARTITION BY g.source ORDER BY g.x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ks AS (
      SELECT source, n1,
             MAX(ABS(cum_s * (SELECT n2 FROM nref)
                     - cum_r * n1))::BIGINT AS k
      FROM ecdf GROUP BY 1, 2),
    pv AS (
      SELECT source, n1, k,
             CAST(k AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * (SELECT n2 FROM nref)) AS ks_d,
             LEAST(CAST(1.0 AS DOUBLE),
                   ROUND(CAST(2.0 AS DOUBLE) * EXP(
                     CAST(-2.0 AS DOUBLE) * CAST(k AS DOUBLE)
                       * CAST(k AS DOUBLE)
                     / (CAST(n1 + (SELECT n2 FROM nref) AS DOUBLE)
                        * n1 * (SELECT n2 FROM nref))), 6)) AS p6
      FROM ks),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p6, source) AS p_rank,
             (SELECT COUNT(*) FROM src) AS m
      FROM pv),
    flagged AS (
      SELECT *, (CAST(p6 AS DECIMAL(18,6)) * m
                 <= p_rank * {_BH_ALPHA}) AS under
      FROM ranked)
    SELECT source, n1 AS n_docs, k AS ks_k, ks_d, p6,
           p_rank::BIGINT AS p_rank,
           p_rank <= COALESCE(MAX(CASE WHEN under THEN p_rank END)
                              OVER (), 0) AS rejected
    FROM flagged
    ORDER BY p_rank, source
    """,
)
def q291_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "documents").selectExpr(
        "source",
        f"length(text) + CASE WHEN source IN {_BH_PLANT} "
        f"THEN {_BH_SHIFT} ELSE 0 END AS x",
    )
    ref = l.filter(F.col("source") == _BH_REF).select("x")
    cand = l.filter(F.col("source") != _BH_REF)
    # two bounded scalars (reference size, battery size) collected
    # once and re-entered as literals — the literal_row discipline
    n2 = ref.count()
    src = cand.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n1")
    )
    m = src.count()
    spine = l.select("x").distinct()
    grid = src.crossJoin(F.broadcast(spine))
    cnt = cand.groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rcnt = ref.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("rc")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = (
        grid.join(cnt, ["source", "x"], "left")
        .join(F.broadcast(rcnt), ["x"], "left")
        .select(
            "source",
            "n1",
            "x",
            F.sum(F.coalesce("c", F.lit(0))).over(w).alias("cum_s"),
            F.sum(F.coalesce("rc", F.lit(0))).over(w).alias("cum_r"),
        )
    )
    ks = ecdf.groupBy("source", "n1").agg(
        F.max(
            F.abs(
                F.col("cum_s") * F.lit(n2) - F.col("cum_r") * F.col("n1")
            )
        )
        .cast("long")
        .alias("k")
    )
    pv = ks.select(
        "source",
        F.col("n1").alias("n_docs"),
        F.col("k").alias("ks_k"),
        (
            F.col("k").cast("double")
            / (F.col("n1").cast("double") * F.lit(n2))
        ).alias("ks_d"),
        F.least(
            F.lit(1.0),
            F.round(
                F.lit(2.0)
                * F.exp(
                    # k is squared in DOUBLE, not BIGINT: k ≤ n1·n2, so
                    # k² silently overflows int64 once n1·n2 > ~3e9
                    # (large-SF corpora) — the double product stays
                    # finite at any scale and both engines evaluate the
                    # identical IEEE tree (advisor fix, round 13)
                    F.lit(-2.0)
                    * F.col("k").cast("double")
                    * F.col("k").cast("double")
                    / (
                        (F.col("n1") + F.lit(n2)).cast("double")
                        * F.col("n1")
                        * F.lit(n2)
                    )
                ),
                6,
            ),
        ).alias("p6"),
    )
    rw = Window.orderBy("p6", "source")
    ranked = pv.withColumn(
        "p_rank", F.row_number().over(rw).cast("long")
    ).withColumn(
        "under",
        F.expr(
            f"CAST(p6 AS DECIMAL(18,6)) * {m}"
            f" <= p_rank * {_BH_ALPHA}"
        ),
    )
    cw = Window.partitionBy()
    return (
        ranked.withColumn(
            "k_star",
            F.coalesce(
                F.max(
                    F.when(F.col("under"), F.col("p_rank"))
                ).over(cw),
                F.lit(0),
            ),
        )
        .select(
            "source",
            "n_docs",
            "ks_k",
            "ks_d",
            "p6",
            "p_rank",
            (F.col("p_rank") <= F.col("k_star")).alias("rejected"),
        )
        .orderBy("p_rank", "source")
    )

# ---------------------------------------------------------------------------
# q292 — audio fingerprint near-dup join (operators/multimodal.py
# audio_fingerprint64 + audio_near_dup_pairs): the AUDIO member that
# completes the perceptual multimodal family (image pHash q262, video
# scenes q284). A 64-bit Haitsma-Kalker band-energy-difference
# fingerprint per waveform (Arrow-batched pandas UDF — FFT has no
# built-in form; decode stubbed to a fixed 576-sample grid, filter
# math real), then the SAME pigeonhole-LOSSLESS Hamming banding the
# pHash join uses (dedup.hamming_banded_pairs).
# Corpus = every document's bytes as a synthetic waveform PLUS a
# planted 2-char-edit variant of every 7th (the q262 augmentation
# discipline), so the detector must surface the planted edits
# (max_hamming=4 covers the measured worst planted edit at every SF:
# 3 at sf0.001/sf0.01, 4 at sf0.1; the lossless band pruning drops
# the zero-tail constant bands that would otherwise bucket the whole
# corpus together).
# rows-only: the FFT has no faithful SQL replay (the q262/q284
# precedent); determinism, banded≡brute-force at two layouts,
# planted-edit recovery, and edit-vs-unrelated separation are pinned
# in tests/test_audio_fp.py.
# ---------------------------------------------------------------------------


@query("q292_audio_fp_near_dup")
def q292_audio_fp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_near_dup_pairs

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("blob_id"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("content"),
    )
    edited = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("blob_id"),
        F.encode(
            F.concat(
                F.substring("text", 1, 10),
                F.lit("qq"),
                F.expr("substring(text, 13)"),
            ),
            "UTF-8",
        )
        .cast("binary")
        .alias("content"),
    )
    return (
        audio_near_dup_pairs(base.unionByName(edited), max_hamming=4)
        .orderBy("id_a", "id_b")
    )

# ---------------------------------------------------------------------------
# q293 — per-source KMV sketch (operators/sketches.py kmv_sketch):
# the batch half of the streaming distinct-count twin
# (streaming/sketches.py streaming_kmv_distinct — the mergeable
# sketch carried through applyInPandasWithState; streaming ≡ batch
# equivalence on file micro-batches is pinned in
# tests/test_streaming_kmv.py). Where q285 builds sketches inline for
# cross-source PAIR arithmetic, this registers the reusable per-group
# operator itself: bottom-k of the portable 48-bit md5 hash riding
# the range-partitioned global sort, the exact-below-k estimator
# branch (exercised for real at sf0.001, where sources hold fewer
# than k distinct documents), and the sketch emitted element-wise as
# a comma-joined STRING so the differential pins every hash. (The raw
# array<bigint> column is a harness contract violation — the driver's
# pandas canonicalizer cannot sort/hash list cells, the round-12 hard
# error; every output cell must be scalar, the q17b rule. The
# estimator ships RAW: one IEEE division of exact operands is the
# determinism.py safe class, version-portable where ROUND(·,6) on a
# quotient is not.)
# ---------------------------------------------------------------------------

_Q293_K = 16


@query(
    "q293_kmv_sketch",
    oracle=f"""
    WITH n AS (
      SELECT DISTINCT source,
             CAST('0x' || substring(md5(text), 1, 12) AS BIGINT) AS h
      FROM documents),
    r AS (SELECT source, h,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM n),
    sk AS (SELECT source, list_sort(list(h)) AS arr
           FROM r WHERE rn <= {_Q293_K} GROUP BY source)
    SELECT source,
           array_to_string(arr, ',') AS sketch_csv,
           len(arr)::BIGINT AS n_sketch,
           CASE WHEN len(arr) < {_Q293_K}
                THEN CAST(len(arr) AS DOUBLE)
                ELSE CAST({_Q293_K - 1} AS DOUBLE)
                     * CAST({1 << 48} AS DOUBLE)
                     / CAST(arr[{_Q293_K}] AS DOUBLE) END
             AS est_distinct
    FROM sk
    ORDER BY source
    """,
)
def q293_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_sketch

    d = load_table(spark, sf_dir, "documents")
    sk = kmv_sketch(d, "source", "text", k=_Q293_K)
    return sk.select(
        "source",
        # BIGINT→STRING renders identically in both engines (no sign /
        # padding / exponent formatting ambiguity on integers)
        F.array_join(
            F.expr("transform(arr, x -> CAST(x AS STRING))"), ","
        ).alias("sketch_csv"),
        "n_sketch",
        "est_distinct",
    ).orderBy("source")

# ---------------------------------------------------------------------------
# q294 — Huber robust regression by IRLS (operators/robust.py): the
# robust member completing the regression family — q268 ridge (L2),
# q283 pinball (quantile/L1), now Huber (L2 core, L1 tails; IRLS =
# one weighted-least-squares solve per iteration, each ONE
# map-combined 5-statistic scan, the logreg literal-re-feed shape).
# The target is PLANTED (the q269 discipline): y = 100 + 12·x +
# integer-grid noise, with a +5000 outlier shock on every 13th
# order — so iteration 0 (all-ones weights) IS the contaminated OLS
# fit (intercept biased to ~488) and the Huber iterations walk it
# back to the planted line (~104.15/11.997 at sf0.01), with the
# trajectory oracle-replayed as unrolled MATERIALIZED CTEs. All
# inputs are integer-valued doubles, so every ROUND(term, 6) summand
# is an exact grid point (no tie hazard); only the solve outputs and
# the weight division are rounded chains (the q276 rule).
# ---------------------------------------------------------------------------

_HUBER_X = "CAST(l_quantity AS DOUBLE)"
_HUBER_Y = (
    "100.0 + 12.0 * CAST(l_quantity AS DOUBLE)"
    " + CAST((l_orderkey * 7 + l_linenumber) % 11 - 5 AS DOUBLE)"
    " + CASE WHEN l_orderkey % 13 = 0 THEN 5000.0 ELSE 0.0 END"
)
_HUBER_DELTA = 50.0
_HUBER_ITERS = 3


def _huber_oracle(iters: int, delta: float) -> str:
    sql = f"""
    WITH base AS MATERIALIZED (
        SELECT {_HUBER_X} AS x, {_HUBER_Y} AS y FROM lineitem)"""
    rows = []
    for i in range(iters + 1):
        if i == 0:
            w = "CAST(1.0 AS DOUBLE)"
        else:
            r = f"(b.y - (t.b0 + t.b1 * b.x))"
            w = (
                f"CASE WHEN ABS({r}) <= {delta!r} THEN CAST(1.0 AS DOUBLE)"
                f" ELSE ROUND({delta!r} / ABS({r}), 6) END"
            )
        frm = "base b" if i == 0 else f"base b, t{i - 1} t"
        sql += f""",
    s{i} AS MATERIALIZED (
        SELECT SUM(CAST(ROUND({w}, 6) AS DECIMAL(28,6))) AS sw,
               SUM(CAST(ROUND({w} * b.x, 6) AS DECIMAL(28,6))) AS swx,
               SUM(CAST(ROUND({w} * b.y, 6) AS DECIMAL(28,6))) AS swy,
               SUM(CAST(ROUND({w} * b.x * b.x, 6)
                        AS DECIMAL(28,6))) AS swxx,
               SUM(CAST(ROUND({w} * b.x * b.y, 6)
                        AS DECIMAL(28,6))) AS swxy,
               SUM(CASE WHEN {w} < 1.0 THEN 1 ELSE 0 END)::BIGINT
                 AS n_down
        FROM {frm}),
    t{i} AS (
        SELECT ROUND((sw::DOUBLE * swxy::DOUBLE
                      - swx::DOUBLE * swy::DOUBLE)
                     / (sw::DOUBLE * swxx::DOUBLE
                        - swx::DOUBLE * swx::DOUBLE), 6) AS b1,
               ROUND((swy::DOUBLE
                      - ROUND((sw::DOUBLE * swxy::DOUBLE
                               - swx::DOUBLE * swy::DOUBLE)
                              / (sw::DOUBLE * swxx::DOUBLE
                                 - swx::DOUBLE * swx::DOUBLE), 6)
                        * swx::DOUBLE) / sw::DOUBLE, 6) AS b0
        FROM s{i})"""
        rows.append(
            f"""
    SELECT {i}::INT AS iter, t.b0, t.b1, s.n_down,
           ROUND(s.sw::DOUBLE, 6) AS sum_w
    FROM t{i} t, s{i} s"""
        )
    return sql + "\n    UNION ALL".join(rows) + "\n    ORDER BY iter"


@query("q294_huber_irls", oracle=_huber_oracle(_HUBER_ITERS, _HUBER_DELTA))
def q294_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robust import huber_irls

    li = load_table(spark, sf_dir, "lineitem")
    return huber_irls(li, _HUBER_X, _HUBER_Y, _HUBER_DELTA, _HUBER_ITERS)

# ---------------------------------------------------------------------------
# q295 — v-optimal histogram construction (operators/histogram.py):
# the classic OLAP summary (Jagadish et al., VLDB 1998) — B buckets
# over the document-length grid minimizing total within-bucket SSE of
# frequencies, the histogram a cost-based optimizer wants where
# equi-width/equi-depth misestimate. Data-sized work is ONE frequency
# rollup to the bounded grid (FLOOR(length/25) — ~23 cells); the
# O(B·n²) DP runs driver-side on the collected grid and re-enters as
# a literal frame (the q253 set-cover trajectory precedent). The
# oracle replays the FULL DP as unrolled MATERIALIZED layers plus the
# backtrack chain: prefix sums exact integers, each SSE(i,j) =
# Q − S²/cnt one division chained once then ROUND 6 into decimals
# (the q276 rule), dp sums exact decimals, argmin ties to the smaller
# split — so the chosen boundaries, not just the costs, are
# oracle-proven. The from-scratch exhaustive-enumeration equality
# test lives in tests/test_analytics9.py.
# ---------------------------------------------------------------------------

_VOPT_B = 5
_VOPT_EXPR = "FLOOR(length(text) / 25)"


def _vopt_oracle(B: int) -> str:
    sql = f"""
    WITH g AS MATERIALIZED (
      SELECT CAST({_VOPT_EXPR} AS INT) AS v, COUNT(*)::BIGINT AS f
      FROM documents GROUP BY 1),
    idx AS MATERIALIZED (
      SELECT v, f, ROW_NUMBER() OVER (ORDER BY v)::BIGINT AS j FROM g),
    pre AS MATERIALIZED (
      SELECT j, v, f,
             SUM(f) OVER (ORDER BY j)::BIGINT AS p,
             SUM(f * f) OVER (ORDER BY j)::BIGINT AS q
      FROM idx),
    pre0 AS MATERIALIZED (
      SELECT j, p, q FROM pre
      UNION ALL SELECT 0::BIGINT, 0::BIGINT, 0::BIGINT),
    nn AS (SELECT COUNT(*)::BIGINT AS n FROM idx),
    sse AS MATERIALIZED (
      SELECT a.j + 1 AS i, b.j AS j,
             CAST(ROUND(CAST(b.q - a.q AS DOUBLE)
                   - CAST((b.p - a.p) * (b.p - a.p) AS DOUBLE)
                     / CAST(b.j - a.j AS DOUBLE), 6)
                  AS DECIMAL(28,6)) AS c
      FROM pre0 a JOIN pre b ON b.j > a.j),
    dp1 AS MATERIALIZED (
      SELECT j, c AS cost, 0::BIGINT AS split FROM sse WHERE i = 1)"""
    for b in range(2, B + 1):
        sql += f""",
    dp{b} AS MATERIALIZED (
      SELECT j, cost, split FROM (
        SELECT s.j, CAST(d.cost + s.c AS DECIMAL(28,6)) AS cost,
               s.i - 1 AS split,
               ROW_NUMBER() OVER (
                 PARTITION BY s.j
                 ORDER BY CAST(d.cost + s.c AS DECIMAL(28,6)), s.i
               ) AS rn
        FROM sse s JOIN dp{b - 1} d ON d.j = s.i - 1)
      WHERE rn = 1)"""
    sql += f""",
    r{B} AS (SELECT n AS j FROM nn)"""
    for b in range(B, 1, -1):
        sql += f""",
    r{b - 1} AS (SELECT d.split AS j FROM dp{b} d JOIN r{b} r
                 ON d.j = r.j)"""
    sql += """,
    r0 AS (SELECT 0::BIGINT AS j)"""
    rows = []
    for b in range(1, B + 1):
        rows.append(
            f"""
    SELECT {b}::INT AS bucket, vlo.v AS lo, phi.v AS hi,
           (hi.j - lo.j)::INT AS n_cells,
           (phi.p - plo.p)::BIGINT AS sum_f,
           CAST(ss.c AS DOUBLE) AS sse
    FROM r{b - 1} lo
    JOIN r{b} hi ON TRUE
    JOIN pre0 plo ON plo.j = lo.j
    JOIN pre phi ON phi.j = hi.j
    JOIN pre vlo ON vlo.j = lo.j + 1
    JOIN sse ss ON ss.i = lo.j + 1 AND ss.j = hi.j"""
        )
    return sql + "\n    UNION ALL".join(rows) + "\n    ORDER BY bucket"


@query("q295_voptimal_histogram", oracle=_vopt_oracle(_VOPT_B))
def q295_voptimal_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.histogram import voptimal_histogram

    d = load_table(spark, sf_dir, "documents")
    return voptimal_histogram(d, _VOPT_EXPR, _VOPT_B)

# ---------------------------------------------------------------------------
# q296 — AMS F2 sketch: self-join size / skew estimation
# (operators/sketches.py ams_f2, Alon-Matias-Szegedy STOC 1996) — the
# second-moment member completing the mergeable-sketch family (HLL
# distinct, KMV set arithmetic, CMS point frequency, DDSketch
# quantiles). Σf² over a join key is what a planner needs to size a
# self-join and detect shuffle skew BEFORE paying the exchange
# (operators/sketches.py advise_join asks exactly this); AMS answers
# it from one scan with 32 sign-sum aggregates — no key shuffle. The
# key PLANTS a heavy hitter (10% of rows collapse onto key 0, a
# skewed fact table), which is the regime where the estimator is
# accurate BY THEORY (per-estimator variance 2(F2²−F4)/F2² → 0 under
# skew; measured rel-err 0.048/0.024/0.006 at sf0.001/0.01/0.1 vs
# 30-80% on uniform orderkeys — the sketch is precise exactly when
# the answer matters). Everything is exact integers until the single
# median-of-means division (q268 rule); sign functions are nibble
# parities of the portable md5, so the ENTIRE estimator — not just
# the exact audit column — replays in DuckDB.
# ---------------------------------------------------------------------------

_AMS_KEY = "CASE WHEN l_orderkey % 10 = 0 THEN 0 ELSE l_orderkey END"


@query(
    "q296_ams_f2",
    oracle=f"""
    WITH base AS MATERIALIZED (
      SELECT ({_AMS_KEY})::BIGINT AS k FROM lineitem),
    s AS MATERIALIZED (
      SELECT j,
             SUM(1 - 2 * (CAST('0x' || substring(md5(k::VARCHAR), j, 1)
                               AS INT) % 2))::BIGINT AS sj
      FROM base, range(1, 33) t(j) GROUP BY j),
    e AS (SELECT ((j - 1) // 8)::INT AS g, SUM(sj * sj)::BIGINT AS sum_e
          FROM s GROUP BY 1),
    med AS (SELECT (arr[2] + arr[3]) / CAST(16.0 AS DOUBLE) AS est
            FROM (SELECT list_sort(list(sum_e)) AS arr FROM e)),
    ex AS (SELECT SUM(f * f)::BIGINT AS exact_f2
           FROM (SELECT COUNT(*)::BIGINT AS f FROM base GROUP BY k))
    SELECT g, sum_e,
           (SELECT est FROM med) AS est_f2,
           (SELECT exact_f2 FROM ex) AS exact_f2
    FROM e
    ORDER BY g
    """,
)
def q296_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import ams_f2

    li = load_table(spark, sf_dir, "lineitem")
    return ams_f2(li, _AMS_KEY, reps=32, groups=4)

# ---------------------------------------------------------------------------
# q297 — Neyman-allocation stratified sampling budgets
# (operators/sampling.py): the variance-optimal answer to "how many
# documents should each source contribute to a fixed-size sample" —
# n_h ∝ N_h·S_h minimizes the stratified-mean variance (Neyman 1934),
# where the existing curation caps/mixture queries (q115/q117/q121)
# take the proportions as GIVEN. One map-combined integer-moment
# rollup per source is the only data-sized exchange. Exactness
# (re-hardened round 13, the q276 lesson): the variance ships as the
# EXACT integer pair (var_num, var_den) — no ROUND(double) anywhere,
# whose implementation diverges across engine versions; inside the
# weight chain it is the raw single division of exact operands, then
# sqrt/multiply/FLOOR — all correctly-rounded IEEE primitives — pin
# an integer micro-weight, after which base/remainder/largest-
# remainder top-up are ALL integer arithmetic. Every hashed cell is
# a BIGINT (Spark DIV ≡ DuckDB // on non-negative operands).
# ---------------------------------------------------------------------------

_NEY_BUDGET = 300
_NEY_VAR_RAW = (
    "CASE WHEN n_rows < 2 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(n_rows * sxx - sx * sx AS DOUBLE)"
    " / CAST(n_rows * (n_rows - 1) AS DOUBLE) END"
)


@query(
    "q297_neyman_allocation",
    oracle=f"""
    WITH m AS (
      SELECT source AS stratum, COUNT(*)::BIGINT AS n_rows,
             SUM(length(text))::BIGINT AS sx,
             SUM(length(text) * length(text))::BIGINT AS sxx
      FROM documents GROUP BY source),
    w AS (
      SELECT stratum, n_rows,
             (CASE WHEN n_rows < 2 THEN 0
                   ELSE n_rows * sxx - sx * sx END)::BIGINT AS var_num,
             (CASE WHEN n_rows < 2 THEN 1
                   ELSE n_rows * (n_rows - 1) END)::BIGINT AS var_den,
             CAST(FLOOR(n_rows * sqrt({_NEY_VAR_RAW})
                        * 1000000 + 0.5) AS BIGINT) AS u_weight
      FROM m),
    tot AS (SELECT SUM(u_weight)::BIGINT AS uu,
                   SUM(n_rows)::BIGINT AS nn FROM w),
    eff AS (
      SELECT stratum, n_rows, var_num, var_den, u_weight,
             CASE WHEN t.uu = 0 THEN n_rows ELSE u_weight END AS ue,
             CASE WHEN t.uu = 0 THEN t.nn ELSE t.uu END AS utot
      FROM w, tot t),
    alloc AS (
      SELECT stratum, n_rows, var_num, var_den, u_weight,
             ({_NEY_BUDGET} * ue) // utot AS alloc_base,
             ({_NEY_BUDGET} * ue) % utot AS remainder
      FROM eff),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, stratum)
               AS rk,
             {_NEY_BUDGET} - SUM(alloc_base) OVER () AS extra
      FROM alloc)
    SELECT stratum, n_rows, var_num, var_den, u_weight,
           alloc_base::BIGINT AS alloc_base,
           remainder::BIGINT AS remainder,
           (alloc_base + CASE WHEN rk <= extra THEN 1 ELSE 0 END)::BIGINT
             AS n_alloc
    FROM ranked
    ORDER BY stratum
    """,
)
def q297_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import neyman_allocation

    d = load_table(spark, sf_dir, "documents")
    return neyman_allocation(d, "source", "length(text)", _NEY_BUDGET)

# ---------------------------------------------------------------------------
# q298 — frequent-itemset co-occurrence lift (operators/basket.py
# pair_lift): support/confidence/lift over order baskets with brand
# items — the Apriori counting step (Agrawal & Srikant 1994) as one
# distinct rollup + one basket-key self-join bounded by
# items-per-basket (≤ 7 lines/order), min-support pruned BEFORE the
# per-item count joins. Completes the association-analysis family
# next to the set-overlap joins (q51/q249): those measure value-set
# similarity between two documents; this measures co-occurrence of
# items ACROSS baskets. Exactness: counts are BIGINTs; support /
# confidence / lift are each ONE raw IEEE division of exact integer
# operands (the determinism.py safe class — no ROUND anywhere).
# ---------------------------------------------------------------------------


@query(
    "q298_basket_lift",
    oracle="""
    WITH bi AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    nb AS (SELECT COUNT(DISTINCT basket)::BIGINT AS n FROM bi),
    ic AS (SELECT item, COUNT(*)::BIGINT AS n_item FROM bi
           GROUP BY item),
    pc AS (SELECT a.item AS item_a, b.item AS item_b,
                  COUNT(*)::BIGINT AS n_pair
           FROM bi a JOIN bi b
             ON a.basket = b.basket AND a.item < b.item
           GROUP BY 1, 2)
    SELECT p.item_a, p.item_b,
           ia.n_item AS n_a, ib.n_item AS n_b, p.n_pair,
           (SELECT n FROM nb) AS n_baskets,
           CAST(p.n_pair AS DOUBLE)
             / CAST((SELECT n FROM nb) AS DOUBLE) AS support,
           CAST(p.n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
             AS confidence,
           CAST(p.n_pair * (SELECT n FROM nb) AS DOUBLE)
             / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
    FROM pc p
    JOIN ic ia ON p.item_a = ia.item
    JOIN ic ib ON p.item_b = ib.item
    ORDER BY item_a, item_b
    """,
)
def q298_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import pair_lift

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(pt, li.l_partkey == pt.p_partkey)
    return pair_lift(baskets, "l_orderkey", "p_brand").orderBy(
        "item_a", "item_b"
    )

# ---------------------------------------------------------------------------
# q299 — event-time windowed KMV distinct-count: the composition the
# round-12 idea ledger called out — the q293 batch sketch operator
# (now multi-group) keyed by (tumbling event-time window, event_type)
# over the events stream table, i.e. the batch face of "distinct
# users per hour per type" that the streaming twin
# (streaming/sketches.py) answers with keyed state. One F.window
# derivation, then the same range-partitioned bottom-k as q293 —
# per-group state is ≤ k longs no matter how many events land in an
# hour. Sketch scalarized to a csv string (the q293 harness rule);
# estimator is the raw single IEEE division (safe class).
# ---------------------------------------------------------------------------

_Q299_K = 8


@query(
    "q299_kmv_windowed",
    oracle=f"""
    WITH n AS (
      SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type,
             CAST('0x' || substring(md5(user_id::VARCHAR), 1, 12)
                  AS BIGINT) AS h
      FROM events),
    r AS (SELECT window_start, event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY window_start, event_type
                                    ORDER BY h) AS rn
          FROM n),
    sk AS (SELECT window_start, event_type, list_sort(list(h)) AS arr
           FROM r WHERE rn <= {_Q299_K} GROUP BY 1, 2)
    SELECT window_start, event_type,
           array_to_string(arr, ',') AS sketch_csv,
           len(arr)::BIGINT AS n_sketch,
           CASE WHEN len(arr) < {_Q299_K}
                THEN CAST(len(arr) AS DOUBLE)
                ELSE CAST({_Q299_K - 1} AS DOUBLE)
                     * CAST({1 << 48} AS DOUBLE)
                     / CAST(arr[{_Q299_K}] AS DOUBLE) END
             AS est_distinct
    FROM sk
    ORDER BY window_start, event_type
    """,
)
def q299_kmv_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_sketch

    ev = load_table(spark, sf_dir, "events").select(
        F.window("ts", "1 hour")["start"]
        .cast("timestamp_ntz")
        .alias("window_start"),
        "event_type",
        F.expr("CAST(user_id AS STRING)").alias("uid"),
    )
    sk = kmv_sketch(ev, ["window_start", "event_type"], "uid", k=_Q299_K)
    return sk.select(
        "window_start",
        "event_type",
        F.array_join(
            F.expr("transform(arr, x -> CAST(x AS STRING))"), ","
        ).alias("sketch_csv"),
        "n_sketch",
        "est_distinct",
    ).orderBy("window_start", "event_type")

# ---------------------------------------------------------------------------
# q300 — AGMS join-size estimation (operators/sketches.py
# ams_join_size): |orders ⋈ lineitem| on a planted-skew key from TWO
# INDEPENDENT single scans that never shuffle, join, or co-locate the
# inputs — the sketch answer to "how big is this join going to be"
# that a planner consults BEFORE choosing broadcast/shuffle/salt
# (Alon, Gilbert, Matias & Szegedy, PODS 1999: with shared sign
# functions, E[S_A·S_B] = Σ_k fA·fB). Signs are the q296 nibble
# parities of one portable md5, so equal keys agree across sides AND
# engines, and the oracle replays the whole estimator; the planted
# heavy key (every 10th orderkey collapsed to 0) is the regime where
# the estimator is tight BY THEORY — exactly when the join explodes
# and the answer matters. Everything is exact integers until the
# single median-of-means division; the exact join size rides as the
# demo-only audit column (one real key rollup + join).
# ---------------------------------------------------------------------------

_AGMS_KEY_A = "CASE WHEN o_orderkey % 10 = 0 THEN 0 ELSE o_orderkey END"
_AGMS_KEY_B = "CASE WHEN l_orderkey % 10 = 0 THEN 0 ELSE l_orderkey END"


@query(
    "q300_ams_join_size",
    oracle=f"""
    WITH a AS MATERIALIZED (
      SELECT ({_AGMS_KEY_A})::BIGINT AS k FROM orders),
    b AS MATERIALIZED (
      SELECT ({_AGMS_KEY_B})::BIGINT AS k FROM lineitem),
    sa AS MATERIALIZED (
      SELECT j,
             SUM(1 - 2 * (CAST('0x' || substring(md5(k::VARCHAR), j, 1)
                               AS INT) % 2))::BIGINT AS sj
      FROM a, range(1, 33) t(j) GROUP BY j),
    sb AS MATERIALIZED (
      SELECT j,
             SUM(1 - 2 * (CAST('0x' || substring(md5(k::VARCHAR), j, 1)
                               AS INT) % 2))::BIGINT AS sj
      FROM b, range(1, 33) t(j) GROUP BY j),
    x AS (SELECT sa.j, sa.sj * sb.sj AS xj
          FROM sa JOIN sb ON sa.j = sb.j),
    e AS (SELECT ((j - 1) // 8)::INT AS g, SUM(xj)::BIGINT AS sum_e
          FROM x GROUP BY 1),
    med AS (SELECT (arr[2] + arr[3]) / CAST(16.0 AS DOUBLE) AS est
            FROM (SELECT list_sort(list(sum_e)) AS arr FROM e)),
    ex AS (SELECT SUM(fa.f * fb.f)::BIGINT AS exact_join
           FROM (SELECT k, COUNT(*)::BIGINT AS f FROM a GROUP BY k) fa
           JOIN (SELECT k, COUNT(*)::BIGINT AS f FROM b GROUP BY k) fb
             ON fa.k = fb.k)
    SELECT g, sum_e,
           (SELECT est FROM med) AS est_join_size,
           (SELECT exact_join FROM ex) AS exact_join_size
    FROM e
    ORDER BY g
    """,
)
def q300_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import ams_join_size

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return ams_join_size(
        o, _AGMS_KEY_A, li, _AGMS_KEY_B, reps=32, groups=4
    )

# ---------------------------------------------------------------------------
# q301 — gridded Theil-Sen robust line fit (operators/robust.py
# theil_sen_gridded): the PAIR-BASED robust member closing the
# regression family (ridge L2 q268, pinball L1 q283, Huber IRLS
# q294) on the q294 planted line — y = 100 + 12x + grid noise with a
# +5000 shock on every 13th order. Cell MEDIANS absorb the shocks the
# cell means would swallow (the shock is x-independent, so it biases
# intercept_ols by ~+385 while intercept_ts stays on the clean
# line — the output carries the contrast), the median of C(cells,2)
# pairwise slopes absorbs whole bad cells. All inputs exact, every
# slope ONE raw IEEE division, both median selections on total
# orders — zero ROUND (the round-13 determinism rule).
# ---------------------------------------------------------------------------


def _q301_oracle() -> str:
    return f"""
    WITH b AS MATERIALIZED (
      SELECT CAST(l_quantity AS INT) AS x,
             CAST({_HUBER_Y} AS BIGINT) AS y
      FROM lineitem),
    med AS (
      SELECT x, AVG(y) AS m FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) AS rn,
               COUNT(*) OVER (PARTITION BY x) AS c
        FROM b)
      WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
      GROUP BY x),
    slopes AS (
      SELECT i.x AS xi, j.x AS xj,
             (j.m - i.m) / CAST(j.x - i.x AS DOUBLE) AS slope
      FROM med i JOIN med j ON i.x < j.x),
    st AS (
      SELECT AVG(slope) AS slope_ts FROM (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, xi, xj) AS rn,
               COUNT(*) OVER () AS c
        FROM slopes)
      WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2),
    it AS (
      SELECT AVG(r) AS intercept_ts FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, x) AS rn,
               COUNT(*) OVER () AS c
        FROM (SELECT x, m - (SELECT slope_ts FROM st)
                            * CAST(x AS DOUBLE) AS r
              FROM med))
      WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2),
    o1 AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
                  SUM(y)::BIGINT AS sy,
                  SUM(CAST(x AS BIGINT) * y)::BIGINT AS sxy,
                  SUM(CAST(x AS BIGINT) * x)::BIGINT AS sxx
           FROM b),
    o2 AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_ols,
                  n, sx, sy
           FROM o1),
    o3 AS (SELECT slope_ols,
                  (CAST(sy AS DOUBLE) - slope_ols * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) AS intercept_ols
           FROM o2),
    cc AS (SELECT COUNT(*)::BIGINT AS nc FROM med)
    SELECT 'intercept_ols' AS stat, intercept_ols AS value FROM o3
    UNION ALL SELECT 'intercept_ts', intercept_ts FROM it
    UNION ALL SELECT 'n_cells', CAST(nc AS DOUBLE) FROM cc
    UNION ALL SELECT 'n_pairs', CAST(nc * (nc - 1) // 2 AS DOUBLE)
              FROM cc
    UNION ALL SELECT 'slope_ols', slope_ols FROM o3
    UNION ALL SELECT 'slope_ts', slope_ts FROM st
    ORDER BY stat
    """


@query("q301_theil_sen", oracle=_q301_oracle())
def q301_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robust import theil_sen_gridded

    li = load_table(spark, sf_dir, "lineitem")
    return theil_sen_gridded(li, "l_quantity", _HUBER_Y)

# ---------------------------------------------------------------------------
# q302 — SLIDING-window KMV distinct-count: the q299 tumbling dial
# with overlap — distinct users per (1 hour window, 30 minute slide).
# Spark's F.window(ts, width, slide) assigns each event to
# width/slide windows; the oracle replays that as the UNION of the
# two offset time_bucket grids (the q71 equivalence). The sketch
# machinery is byte-identical to q299: per-window bottom-k of the
# portable md5 riding the range-partitioned global sort, ≤ k longs of
# state per window regardless of event volume, csv-scalarized output,
# raw-single-division estimator.
# ---------------------------------------------------------------------------


@query(
    "q302_kmv_sliding",
    oracle=f"""
    WITH g AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             user_id
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes'),
             user_id
      FROM events),
    n AS (
      SELECT DISTINCT window_start,
             CAST('0x' || substring(md5(user_id::VARCHAR), 1, 12)
                  AS BIGINT) AS h
      FROM g),
    r AS (SELECT window_start, h,
                 ROW_NUMBER() OVER (PARTITION BY window_start
                                    ORDER BY h) AS rn
          FROM n),
    sk AS (SELECT window_start, list_sort(list(h)) AS arr
           FROM r WHERE rn <= {_Q299_K} GROUP BY window_start)
    SELECT window_start,
           array_to_string(arr, ',') AS sketch_csv,
           len(arr)::BIGINT AS n_sketch,
           CASE WHEN len(arr) < {_Q299_K}
                THEN CAST(len(arr) AS DOUBLE)
                ELSE CAST({_Q299_K - 1} AS DOUBLE)
                     * CAST({1 << 48} AS DOUBLE)
                     / CAST(arr[{_Q299_K}] AS DOUBLE) END
             AS est_distinct
    FROM sk
    ORDER BY window_start
    """,
)
def q302_kmv_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_sketch

    ev = load_table(spark, sf_dir, "events").select(
        F.window("ts", "1 hour", "30 minutes")["start"]
        .cast("timestamp_ntz")
        .alias("window_start"),
        F.expr("CAST(user_id AS STRING)").alias("uid"),
    )
    sk = kmv_sketch(ev, ["window_start"], "uid", k=_Q299_K)
    return sk.select(
        "window_start",
        F.array_join(
            F.expr("transform(arr, x -> CAST(x AS STRING))"), ","
        ).alias("sketch_csv"),
        "n_sketch",
        "est_distinct",
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# q303 — Mann-Whitney U rank-sum drift battery (round 14,
# operators/ranktests.py): the nonparametric two-sample family's
# second member next to the KS battery (q291) — same
# planted-shift-vs-reference design and the same BH step-up, but the
# location-shift-targeted rank statistic with higher power per
# sample. Everything hashed except z/p6 is an EXACT INTEGER (the
# determinism-rule sweet spot the round-13 verdict prescribed):
# doubled midranks 2b+t+1, doubled rank sum r2, doubled statistic
# u2 = r2 − n1(n1+1), tie term Σ(t³−t) — no ROUND anywhere near
# them. z is the one fixed IEEE chain MWU_Z_SQL over those int64
# operands, shipped raw (safe class); the p-like statistic is the
# SUBGAUSSIAN TAIL BOUND p ≤ 2·exp(−z²/2) — conservative, so BH on
# it still controls FDR — which keeps the only transcendental an
# exp() in the accepted ROUND(6) residual class (exactly q291's
# p-value discipline). BH comparison is exact-decimal
# cross-multiplied, ranks integer, cutoff one MAX window.
# Scale: one (source, length) count rollup is the only data-sized
# exchange; rank arithmetic is a window over the bounded
# sources × distinct-lengths grid (operators/ranktests.py docstring).
# ---------------------------------------------------------------------------


@query(
    "q303_mann_whitney",
    oracle=f"""
    WITH l AS (
      SELECT source,
             length(text) + CASE WHEN source IN {_BH_PLANT}
                                 THEN {_BH_SHIFT} ELSE 0 END AS x
      FROM documents),
    cand AS (SELECT source, x FROM l WHERE source <> '{_BH_REF}'),
    cnt AS (SELECT source, x, COUNT(*)::BIGINT AS c FROM cand
            GROUP BY 1, 2),
    rcnt AS (SELECT x, COUNT(*)::BIGINT AS rc FROM l
             WHERE source = '{_BH_REF}' GROUP BY 1),
    spine AS (SELECT DISTINCT x FROM l),
    grid AS (SELECT s.source, v.x
             FROM (SELECT DISTINCT source FROM cand) s
             CROSS JOIN spine v),
    g2 AS (SELECT g.source, g.x,
                  COALESCE(c.c, 0) AS c, COALESCE(r.rc, 0) AS rc
           FROM grid g
           LEFT JOIN cnt c ON c.source = g.source AND c.x = g.x
           LEFT JOIN rcnt r ON r.x = g.x),
    cum AS (SELECT source, c, rc, c + rc AS t,
                   SUM(c + rc) OVER w AS cum
            FROM g2
            WINDOW w AS (PARTITION BY source ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
    agg AS (SELECT source,
                   SUM(c)::BIGINT AS n1,
                   SUM(rc)::BIGINT AS n2,
                   SUM(c * (2 * (cum - t) + t + 1))::BIGINT AS r2,
                   SUM(t * t * t - t)::BIGINT AS tie3
            FROM cum GROUP BY source),
    stat AS (SELECT source, n1, n2, r2,
                    (r2 - n1 * (n1 + 1))::BIGINT AS u2, tie3
             FROM agg),
    zs AS (SELECT *, {MWU_Z_SQL} AS z FROM stat),
    pv AS (SELECT *,
                  LEAST(CAST(1.0 AS DOUBLE),
                        ROUND(CAST(2.0 AS DOUBLE)
                              * EXP(CAST(-0.5 AS DOUBLE) * z * z),
                              6)) AS p6
           FROM zs),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p6, source) AS p_rank,
             (SELECT COUNT(*) FROM stat) AS m
      FROM pv),
    flagged AS (
      SELECT *, (CAST(p6 AS DECIMAL(18,6)) * m
                 <= p_rank * {_BH_ALPHA}) AS under
      FROM ranked)
    SELECT source, n1 AS n_docs, r2, u2, tie3, z, p6,
           p_rank::BIGINT AS p_rank,
           p_rank <= COALESCE(MAX(CASE WHEN under THEN p_rank END)
                              OVER (), 0) AS rejected
    FROM flagged
    ORDER BY p_rank, source
    """,
)
def q303_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.ranktests import mann_whitney_battery

    l = load_table(spark, sf_dir, "documents").selectExpr(
        "source",
        f"length(text) + CASE WHEN source IN {_BH_PLANT} "
        f"THEN {_BH_SHIFT} ELSE 0 END AS x",
    )
    bat = mann_whitney_battery(l, "source", "x", ref_group=_BH_REF)
    m = bat.count()  # battery size: one bounded scalar, q291 pattern
    pv = bat.select(
        F.col("group").alias("source"),
        F.col("n1").alias("n_docs"),
        "r2",
        "u2",
        "tie3",
        "z",
        F.least(
            F.lit(1.0),
            F.round(
                F.lit(2.0)
                * F.exp(F.lit(-0.5) * F.col("z") * F.col("z")),
                6,
            ),
        ).alias("p6"),
    )
    rw = Window.orderBy("p6", "source")
    ranked = pv.withColumn(
        "p_rank", F.row_number().over(rw).cast("long")
    ).withColumn(
        "under",
        F.expr(
            f"CAST(p6 AS DECIMAL(18,6)) * {m}"
            f" <= p_rank * {_BH_ALPHA}"
        ),
    )
    cw = Window.partitionBy()
    return (
        ranked.withColumn(
            "k_star",
            F.coalesce(
                F.max(
                    F.when(F.col("under"), F.col("p_rank"))
                ).over(cw),
                F.lit(0),
            ),
        )
        .select(
            "source",
            "n_docs",
            "r2",
            "u2",
            "tie3",
            "z",
            "p6",
            "p_rank",
            (F.col("p_rank") <= F.col("k_star")).alias("rejected"),
        )
        .orderBy("p_rank", "source")
    )


# ---------------------------------------------------------------------------
# q304 — Kendall tau-b rank-correlation screen (round 14,
# operators/ranktests.py kendall_tau_b): per return-flag, the
# concordance between order quantity and the discount micro-grid —
# the pair-counting sibling of Spearman's rho (q239) with the exact
# formulation gridded data allows: conc/disc/tie pair counts are all
# EXACT INT64 from one (flag, qty, disc) rollup + a bounded
# 550-cell-per-group self-join (never an O(n²) row pair frame), and
# tau_b is the one fixed IEEE chain KENDALL_TAU_SQL over those exact
# operands, shipped raw (safe class — no ROUND anywhere in this
# query). Discount grid keys use the FLOOR(x*100 + 0.5) derivation
# (never ROUND/CAST on a double).
# ---------------------------------------------------------------------------


@query(
    "q304_kendall_tau",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS INT) AS x,
             CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS y
      FROM lineitem),
    cells AS (SELECT grp, x, y, COUNT(*)::BIGINT AS c
              FROM b GROUP BY 1, 2, 3),
    cd AS (
      SELECT a.grp,
             COALESCE(SUM(CASE WHEN a.y < b2.y
                               THEN a.c * b2.c END), 0)::BIGINT AS conc,
             COALESCE(SUM(CASE WHEN a.y > b2.y
                               THEN a.c * b2.c END), 0)::BIGINT AS disc
      FROM cells a JOIN cells b2
        ON b2.grp = a.grp AND a.x < b2.x
      GROUP BY a.grp),
    tot AS (SELECT grp, SUM(c)::BIGINT AS n FROM cells GROUP BY grp),
    tx AS (SELECT grp, (SUM(t * (t - 1)) / 2)::BIGINT AS n1
           FROM (SELECT grp, x, SUM(c) AS t FROM cells GROUP BY 1, 2)
           GROUP BY grp),
    ty AS (SELECT grp, (SUM(t * (t - 1)) / 2)::BIGINT AS n2
           FROM (SELECT grp, y, SUM(c) AS t FROM cells GROUP BY 1, 2)
           GROUP BY grp),
    stat AS (
      SELECT tot.grp, tot.n,
             COALESCE(cd.conc, 0)::BIGINT AS conc,
             COALESCE(cd.disc, 0)::BIGINT AS disc,
             (tot.n * (tot.n - 1) / 2)::BIGINT AS n0,
             tx.n1, ty.n2
      FROM tot LEFT JOIN cd USING (grp)
      JOIN tx USING (grp) JOIN ty USING (grp))
    SELECT grp AS "group", n, conc, disc, n0, n1, n2,
           {KENDALL_TAU_SQL} AS tau_b
    FROM stat
    ORDER BY "group"
    """,
)
def q304_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranktests import kendall_tau_b

    b = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        "CAST(l_quantity AS INT) AS x",
        "CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS y",
    )
    return kendall_tau_b(b, "l_returnflag", "x", "y").orderBy("group")


# ---------------------------------------------------------------------------
# q305 — Kruskal-Wallis H homogeneity screen (round 14,
# operators/ranktests.py kruskal_wallis): the k-SAMPLE member of the
# nonparametric family — one joint "are all 20 sources' length
# distributions the same?" test over a single shared midrank grid,
# where the q303 battery answers per-source questions. Same planted
# +600 shift (3 sources), so H must reject homogeneity decisively.
# Exactness: n_j/r2_j/n/tie3 are exact int64 (doubled midranks);
# Σ r2_j²/n_j — a sum of NON-exact doubles — is computed as an
# ORDERED LEFT FOLD (Spark aggregate(array_sort(...), 0.0, +) ≡
# DuckDB list_reduce(list(... ORDER BY source), +): the identical
# sequence of IEEE additions, bit-identical with no ROUND — the
# ordered-fold pattern for small bounded frames); H is the fixed
# chain KW_H_SQL over that sum. No ROUND anywhere in this query.
# ---------------------------------------------------------------------------


@query(
    "q305_kruskal_wallis",
    oracle=f"""
    WITH l AS (
      SELECT source,
             length(text) + CASE WHEN source IN {_BH_PLANT}
                                 THEN {_BH_SHIFT} ELSE 0 END AS x
      FROM documents),
    cnt AS (SELECT source, x, COUNT(*)::BIGINT AS c FROM l
            GROUP BY 1, 2),
    tv AS (SELECT x, SUM(c)::BIGINT AS t FROM cnt GROUP BY x),
    tc AS (SELECT x, t,
                  SUM(t) OVER (ORDER BY x
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
           FROM tv),
    per AS (SELECT cnt.source,
                   cnt.c * (2 * (tc.cum - tc.t) + tc.t + 1) AS contrib,
                   cnt.c
            FROM cnt JOIN tc ON tc.x = cnt.x),
    g AS (SELECT source, SUM(c)::BIGINT AS n_j,
                 SUM(contrib)::BIGINT AS r2_j
          FROM per GROUP BY source),
    tot AS (SELECT SUM(t)::BIGINT AS n,
                   SUM(t * t * t - t)::BIGINT AS tie3
            FROM tv),
    terms AS (SELECT list_reduce(
                       list(CAST(r2_j AS DOUBLE) * CAST(r2_j AS DOUBLE)
                            / CAST(n_j AS DOUBLE) ORDER BY source),
                       (x, y) -> x + y) AS s_sum
              FROM g)
    SELECT source AS "group", n_j, r2_j, n, tie3,
           {KW_H_SQL} AS h
    FROM g, tot, terms
    ORDER BY "group"
    """,
)
def q305_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranktests import kruskal_wallis

    l = load_table(spark, sf_dir, "documents").selectExpr(
        "source",
        f"length(text) + CASE WHEN source IN {_BH_PLANT} "
        f"THEN {_BH_SHIFT} ELSE 0 END AS x",
    )
    return kruskal_wallis(l, "source", "x").orderBy("group")


# ---------------------------------------------------------------------------
# q306 — Wilcoxon signed-rank paired-drift screen (round 14,
# operators/ranktests.py wilcoxon_signed_rank): the PAIRED member of
# the nonparametric family — MWU (q303) compares independent
# samples, this answers "did the SAME units move between two paired
# measurements?", the before/after screen where pairing cancels the
# between-unit variance. Units = customers with orders in BOTH 1995
# and 1996; the paired delta is annual spend in EXACT CENTS
# (FLOOR(o_totalprice*100 + 0.5) summed as int64 — the micro-grid
# derivation, never ROUND/CAST on a double); a +$1M shift is planted
# on two market segments, which the per-segment z must reject while
# the unplanted segments stay near 0. Every hashed cell except z is
# an exact int64 (doubled ranks 2b+t+1 over the |d| grid, w2 = 2·W⁺,
# tie3); z is the one fixed IEEE chain WSR_Z_SQL over those exact
# operands, shipped raw — no ROUND anywhere in this query.
# Scale: the (custkey, year) rollup over orders is the only
# fact-sized exchange; the operator's rank arithmetic runs on the
# one-row-per-paired-customer frame.
# ---------------------------------------------------------------------------

_WSR_PLANT = "('AUTOMOBILE', 'MACHINERY')"
_WSR_SHIFT = 100_000_000  # +$1M in cents, ~2 sigma of the delta noise


@query(
    "q306_wilcoxon_signed_rank",
    oracle=f"""
    WITH s AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS y,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS cents
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2),
    p AS (SELECT a.ck, b.cents - a.cents AS d0
          FROM s a JOIN s b ON b.ck = a.ck AND a.y = 1995
                            AND b.y = 1996),
    d AS (SELECT c.c_mktsegment AS seg,
                 p.d0 + CASE WHEN c.c_mktsegment IN {_WSR_PLANT}
                             THEN {_WSR_SHIFT} ELSE 0 END AS d
          FROM p JOIN customer c ON c.c_custkey = p.ck),
    cnt AS (SELECT seg, ABS(d) AS a, COUNT(*)::BIGINT AS t,
                   SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT
                     AS p
            FROM d WHERE d <> 0 GROUP BY 1, 2),
    cum AS (SELECT seg, t, p,
                   SUM(t) OVER (PARTITION BY seg ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM cnt),
    stat AS (SELECT seg, SUM(t)::BIGINT AS n,
                    SUM(p * (2 * (cum - t) + t + 1))::BIGINT AS w2,
                    SUM(t * t * t - t)::BIGINT AS tie3
             FROM cum GROUP BY seg),
    zeros AS (SELECT seg, COUNT(*)::BIGINT AS n_zero FROM d
              WHERE d = 0 GROUP BY seg),
    grps AS (SELECT DISTINCT seg FROM d),
    fin AS (SELECT g.seg,
                   COALESCE(stat.n, 0)::BIGINT AS n,
                   COALESCE(zeros.n_zero, 0)::BIGINT AS n_zero,
                   COALESCE(stat.w2, 0)::BIGINT AS w2,
                   COALESCE(stat.tie3, 0)::BIGINT AS tie3
            FROM grps g
            LEFT JOIN stat ON stat.seg = g.seg
            LEFT JOIN zeros ON zeros.seg = g.seg)
    SELECT seg AS "group", n, n_zero, w2, tie3, {WSR_Z_SQL} AS z
    FROM fin
    ORDER BY "group"
    """,
)
def q306_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.ranktests import wilcoxon_signed_rank

    s = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS ck",
            "year(o_orderdate) AS y",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
            " AS cents0",
        )
        .filter("y IN (1995, 1996)")
        .groupBy("ck", "y")
        .agg(F.sum("cents0").cast("long").alias("cents"))
    )
    a = s.filter("y = 1995").select(
        "ck", F.col("cents").alias("c_old")
    )
    b = s.filter("y = 1996").select(
        "ck", F.col("cents").alias("c_new")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_mktsegment"
    )
    d = (
        a.join(b, "ck")
        .join(c, "ck")
        .selectExpr(
            "c_mktsegment AS seg",
            f"c_new - c_old + CASE WHEN c_mktsegment IN {_WSR_PLANT}"
            f" THEN {_WSR_SHIFT} ELSE 0 END AS d",
        )
    )
    return wilcoxon_signed_rank(d, "seg", "d").orderBy("group")


# ---------------------------------------------------------------------------
# q307 — Jonckheere-Terpstra ordered-trend screen (round 14,
# operators/ranktests.py jonckheere_terpstra): the ORDERED-
# ALTERNATIVE k-sample member of the nonparametric family — KW
# (q305) asks "different at all?", JT asks "do the distributions
# TREND with the group order?", the drift-over-time question a
# corpus pipeline asks of every metric. Groups = lineitem ship
# YEARS (1995-2001, the natural order IS the alternative); a +1-per-
# year monotone trend is planted on the bounded quantity grid
# (v = quantity + (year−1995)), which z must reject decisively.
# Every hashed cell except z is an exact int64: the doubled
# statistic j2 = Σ_cells c·(2·PB + PC) (pairwise-U sum collapsed to
# exclusive prefix sums over the group order — NO pair join),
# mean2 = Σ_{i<j} n_i·n_j, and the six tie-variance sums; z is the
# one fixed IEEE chain JT_Z_SQL (Hollander-Wolfe tie-corrected
# variance) over those exact operands, shipped raw — no ROUND
# anywhere in this query. Scale: one (year, v) count rollup is the
# only fact-sized exchange; both window passes run on the bounded
# 7×56 grid.
# ---------------------------------------------------------------------------


@query(
    "q307_jonckheere_trend",
    oracle=f"""
    WITH x AS (
      SELECT year(l_shipdate) AS grp,
             CAST(l_quantity AS INT) + (year(l_shipdate) - 1995)
               AS v
      FROM lineitem),
    cnt AS (SELECT grp, v, COUNT(*)::BIGINT AS c FROM x
            GROUP BY 1, 2),
    grid AS (SELECT g.grp, s.v, COALESCE(c.c, 0) AS c
             FROM (SELECT DISTINCT grp FROM cnt) g
             CROSS JOIN (SELECT DISTINCT v FROM cnt) s
             LEFT JOIN cnt c ON c.grp = g.grp AND c.v = s.v),
    below AS (SELECT grp, v, c,
                     SUM(c) OVER (PARTITION BY grp ORDER BY v
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - c AS b
              FROM grid),
    cells AS (SELECT grp, c,
                     COALESCE(SUM(b) OVER wg, 0) AS pb,
                     COALESCE(SUM(c) OVER wg, 0) AS pc
              FROM below
              WINDOW wg AS (PARTITION BY v ORDER BY grp
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)),
    j2t AS (SELECT SUM(c * (2 * pb + pc))::BIGINT AS j2
            FROM cells),
    g AS (SELECT grp, SUM(c)::BIGINT AS n_j FROM cnt GROUP BY grp),
    gs AS (SELECT SUM(n_j)::BIGINT AS n,
                  SUM(n_j * (n_j - 1))::BIGINT AS g2,
                  SUM(n_j * (n_j - 1) * (n_j - 2))::BIGINT AS g3,
                  SUM(n_j * (n_j - 1) * (2 * n_j + 5))::BIGINT
                    AS g25,
                  ((SUM(n_j) * SUM(n_j) - SUM(n_j * n_j))
                   / 2)::BIGINT AS mean2
           FROM g),
    ts AS (SELECT SUM(t * (t - 1))::BIGINT AS t2,
                  SUM(t * (t - 1) * (t - 2))::BIGINT AS t3,
                  SUM(t * (t - 1) * (2 * t + 5))::BIGINT AS t25
           FROM (SELECT v, SUM(c) AS t FROM cnt GROUP BY v))
    SELECT g.grp AS "group", g.n_j, n, j2, mean2,
           g2, g3, g25, t2, t3, t25, {JT_Z_SQL} AS z
    FROM g, gs, ts, j2t
    ORDER BY "group"
    """,
)
def q307_jonckheere_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.ranktests import jonckheere_terpstra

    x = load_table(spark, sf_dir, "lineitem").selectExpr(
        "year(l_shipdate) AS yr",
        "CAST(l_quantity AS INT) + (year(l_shipdate) - 1995) AS v",
    )
    return jonckheere_terpstra(x, "yr", "v").orderBy("group")


# ---------------------------------------------------------------------------
# q308 — Friedman within-block rank screen (round 14,
# operators/ranktests.py friedman): the WITHIN-BLOCK k-treatment
# member of the nonparametric family — blocks = order years,
# treatments = market segments, cell value = annual segment revenue
# in EXACT CENTS; the test asks "does some segment consistently
# out-rank the others across years?", with the year-level demand
# swings blocked out entirely. Two segments carry planted revenue
# boosts ($200B/$100B — always ranks k and k−1 in every block), so
# chi2_f must reject. EVERY hashed cell except chi2_f is exact
# int64 (doubled within-block midranks 2·(RANK−1)+t+1, rank sums,
# A4/C4/S4); chi2_f = (k−1)·S4/(A4−C4) is ONE exact-over-exact IEEE
# divide (FRIEDMAN_CHI2_SQL shared query+oracle) — no ordered fold,
# no ROUND anywhere. Scale: the (year, segment) revenue rollup
# (orders ⋈ customer on the dimension key) is the only fact-sized
# work; ranking runs on the b×k = 7×5 frame.
# ---------------------------------------------------------------------------

_FR_PLANT_A = 20_000_000_000_000  # AUTOMOBILE: always top rank
_FR_PLANT_M = 10_000_000_000_000  # MACHINERY: always second


@query(
    "q308_friedman",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS yr,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               AS cents
      FROM orders),
    cell AS (SELECT o.yr AS blk, c.c_mktsegment AS trt,
                    SUM(o.cents)::BIGINT
                    + CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                           THEN {_FR_PLANT_A}
                           WHEN c.c_mktsegment = 'MACHINERY'
                           THEN {_FR_PLANT_M}
                           ELSE 0 END AS v
             FROM o JOIN customer c ON c.c_custkey = o.ck
             GROUP BY 1, 2),
    rk AS (SELECT blk, trt,
                  (2 * (RANK() OVER (PARTITION BY blk ORDER BY v)
                        - 1)
                   + COUNT(*) OVER (PARTITION BY blk, v)
                   + 1)::BIGINT AS r2
           FROM cell),
    per AS (SELECT trt, SUM(r2)::BIGINT AS r2_sum,
                   COUNT(*)::BIGINT AS b
            FROM rk GROUP BY trt),
    tot AS (SELECT SUM(r2 * r2)::BIGINT AS a4,
                   COUNT(DISTINCT trt)::BIGINT AS k
            FROM rk),
    s4t AS (SELECT SUM((per.r2_sum - per.b * (tot.k + 1))
                       * (per.r2_sum - per.b * (tot.k + 1)))::BIGINT
                     AS s4
            FROM per, tot),
    fin AS (SELECT per.trt, per.r2_sum, per.b, tot.k, tot.a4,
                   (per.b * tot.k * (tot.k + 1)
                    * (tot.k + 1))::BIGINT AS c4,
                   s4t.s4
            FROM per, tot, s4t)
    SELECT trt AS treatment, r2_sum, b, k, a4, c4, s4,
           {FRIEDMAN_CHI2_SQL} AS chi2_f
    FROM fin
    ORDER BY treatment
    """,
)
def q308_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranktests import friedman

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS ck",
        "year(o_orderdate) AS yr",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_mktsegment"
    )
    cell = (
        o.join(c, "ck")
        .groupBy("yr", "c_mktsegment")
        .agg(F.sum("cents").cast("long").alias("rev"))
        .selectExpr(
            "yr",
            "c_mktsegment",
            "rev + CASE WHEN c_mktsegment = 'AUTOMOBILE'"
            f" THEN {_FR_PLANT_A}"
            " WHEN c_mktsegment = 'MACHINERY'"
            f" THEN {_FR_PLANT_M} ELSE 0 END AS v",
        )
    )
    return friedman(cell, "yr", "c_mktsegment", "v").orderBy(
        "treatment"
    )


# ---------------------------------------------------------------------------
# q309 — Mood scale-drift battery (round 14, operators/ranktests.py
# mood_scale_battery): the DISPERSION member of the nonparametric
# family — every other screen targets location (or trend/blocks
# thereof); Mood's central-rank-deviation statistic asks "did the
# SPREAD move while the center stayed put?", the tail-widening drift
# a location screen cannot see. Groups = event types vs reference
# 'view' on the value micro-grid (exact cents); two planted types
# get the integer affine map 3x − 10000 — spread tripled, center
# nearly fixed (type means ≈ 5000 cents) — which z must reject
# while the unplanted types stay near 0. Hashed cells: n1/n2/t4/s4
# exact int64 (doubled-midrank deviation squares); fsum the
# ordered-fold centered spread sum (the q305 fold pattern
# generalized to the bounded value spine — bit-identical raw
# double); z the one fixed chain MOOD_Z_SQL. No ROUND anywhere.
# Scale: one (type, cents) rollup is the only data-sized exchange;
# windows and the fold run on the bounded type × spine grid.
# ---------------------------------------------------------------------------

_MOOD_PLANT = "('error', 'purchase')"


@query(
    "q309_mood_scale",
    oracle=f"""
    WITH e AS (
      SELECT event_type AS grp,
             CASE WHEN event_type IN {_MOOD_PLANT}
                  THEN 3 * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       - 10000
                  ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             END AS v
      FROM events),
    cand AS (SELECT grp, v FROM e WHERE grp <> 'view'),
    cnt AS (SELECT grp, v, COUNT(*)::BIGINT AS c FROM cand
            GROUP BY 1, 2),
    rcnt AS (SELECT v, COUNT(*)::BIGINT AS rc FROM e
             WHERE grp = 'view' GROUP BY 1),
    spine AS (SELECT DISTINCT v FROM e),
    grid AS (SELECT s.grp, sp.v
             FROM (SELECT DISTINCT grp FROM cand) s
             CROSS JOIN spine sp),
    g2 AS (SELECT g.grp, g.v,
                  COALESCE(c.c, 0) AS c, COALESCE(r.rc, 0) AS rc
           FROM grid g
           LEFT JOIN cnt c ON c.grp = g.grp AND c.v = g.v
           LEFT JOIN rcnt r ON r.v = g.v),
    cum AS (SELECT grp, v, c, c + rc AS t,
                   SUM(c + rc) OVER (PARTITION BY grp ORDER BY v
                                     ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW)
                     AS cum,
                   SUM(c + rc) OVER (PARTITION BY grp) AS n
            FROM g2),
    scored AS (SELECT grp, v, c, t, n,
                      (2 * (cum - t) + t + 1 - (n + 1))
                      * (2 * (cum - t) + t + 1 - (n + 1)) AS q
               FROM cum),
    agg AS (SELECT grp, SUM(c)::BIGINT AS n1,
                   SUM(t - c)::BIGINT AS n2,
                   SUM(c * q)::BIGINT AS t4,
                   SUM(t * q)::BIGINT AS s4,
                   MAX(n)::BIGINT AS n
            FROM scored GROUP BY grp),
    folded AS (SELECT s.grp,
                      list_reduce(
                        list(CAST(s.t AS DOUBLE)
                             * (CAST(s.q AS DOUBLE)
                                - CAST(a.s4 AS DOUBLE)
                                  / CAST(a.n AS DOUBLE))
                             * (CAST(s.q AS DOUBLE)
                                - CAST(a.s4 AS DOUBLE)
                                  / CAST(a.n AS DOUBLE))
                             ORDER BY s.v),
                        (x, y) -> x + y) AS fsum
               FROM scored s JOIN agg a ON a.grp = s.grp
               GROUP BY s.grp)
    SELECT agg.grp AS "group", n1, n2, t4, s4, fsum,
           {MOOD_Z_SQL} AS z
    FROM agg JOIN folded ON folded.grp = agg.grp
    ORDER BY "group"
    """,
)
def q309_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranktests import mood_scale_battery

    e = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"CASE WHEN event_type IN {_MOOD_PLANT}"
        " THEN 3 * CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - 10000"
        " ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS x",
    )
    return mood_scale_battery(e, "event_type", "x", "view").orderBy(
        "group"
    )
