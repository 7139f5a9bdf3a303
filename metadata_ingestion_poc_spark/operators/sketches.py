"""Mergeable frequency sketches from pure DataFrame primitives.

Count-min sketch (Cormode & Muthukrishnan 2005) expressed as plain
groupBys — no UDF, no driver state:

- build: each row contributes to `depth` buckets
  (``pmod(xxhash64(key, seed_d), width)``), one posexplode + one
  aggregate → the sketch IS a tiny (depth × width)-row table.
- merge: element-wise sum of sketch tables — exactly associative, so
  per-partition / per-day sketches roll up to any level without
  touching raw data (same operational property as the HLL rollup,
  q127, but for point frequencies instead of cardinality).
- query: a key's estimate is the MIN over its depth buckets; always an
  over-estimate, error ≤ 2N/width with prob ≥ 1 − 2^-depth.

At 100 TB: the raw stream aggregates map-side into ≤ depth×width
partial states per partition — constant-size state per executor, one
tiny shuffle. The sketch table then broadcasts into any query join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import run_concurrent, spread


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch table (d, bucket, c) for `key_col` frequencies.

    `weight_col` makes it a weighted sketch (sums weights instead of
    counting rows). Output has at most depth × width rows.
    """
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    key = F.col(key_col)
    buckets = F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(d)), F.lit(width)).cast("int")
            for d in range(depth)
        ]
    )
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.filter(key.isNotNull())
        .select(F.posexplode(buckets).alias("d", "bucket"), w.alias("__w"))
        .groupBy("d", "bucket")
        .agg(F.sum("__w").alias("c"))
        # the sketch carries its own geometry so probes can never hash
        # with mismatched parameters (estimate validates against these)
        .withColumn("width", F.lit(width))
        .withColumn("depth", F.lit(depth))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Element-wise sum of sketch tables — exact, associative merge."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    # width/depth ride along in the group key: merging sketches of
    # different geometry yields >1 (width, depth) pair, which
    # cms_estimate rejects instead of silently mixing bucket spaces
    return out.groupBy("d", "bucket", "width", "depth").agg(
        F.sum("c").alias("c")
    )


def _geometry(sketch: DataFrame) -> tuple[int, int]:
    """(width, depth) stamped on the sketch — one bounded collect over
    a ≤ depth × width-row table that is about to be broadcast anyway;
    raises on mixed geometries (a merge of incompatible sketches)."""
    geoms = sketch.select("width", "depth").distinct().collect()
    if len(geoms) != 1:
        raise ValueError(
            "sketch has mixed geometries "
            f"{sorted((g['width'], g['depth']) for g in geoms)} — "
            "was it merged from sketches built with different "
            "width/depth?"
        )
    return geoms[0]["width"], geoms[0]["depth"]


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int | None = None,
    depth: int | None = None,
) -> DataFrame:
    """Point estimates for every row of `keys`: min over depth buckets.

    The probe geometry is read from the sketch itself (the width/depth
    columns cms_build stamps), so probes can never hash into the wrong
    bucket space. Passing width/depth explicitly is allowed but they
    must match the sketch — mismatches raise instead of silently
    returning bogus (often zero) estimates. The geometry read is one
    bounded collect over a ≤ depth × width-row table that is about to
    be broadcast anyway.

    The sketch side is ≤ depth × width rows — broadcast it; the keys
    side never shuffles.
    """
    s_width, s_depth = _geometry(sketch)
    if width is not None and width != s_width:
        raise ValueError(f"probe width {width} != sketch width {s_width}")
    if depth is not None and depth != s_depth:
        raise ValueError(f"probe depth {depth} != sketch depth {s_depth}")
    width, depth = s_width, s_depth
    key = F.col(key_col)
    probes = keys.select(
        key,
        F.posexplode(
            F.array(
                *[
                    F.pmod(F.xxhash64(key, F.lit(d)), F.lit(width)).cast(
                        "int"
                    )
                    for d in range(depth)
                ]
            )
        ).alias("d", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size / inner-product estimate from two CMS sketches:
    ``Σ_k f_a(k)·f_b(k)`` ≈ min over rows d of ``Σ_bucket c_a·c_b``
    (Cormode & Muthukrishnan 2005, §4.2). For an equi-join this IS the
    estimated row count of ``A ⋈ B`` on the sketched key — plan-time
    cardinality estimation from constant-size state, no raw data.

    Always an over-estimate; excess ≤ 2·N_a·N_b/width with probability
    ≥ 1 − 2^-depth (N = total sketched rows). Both sketches must share
    geometry AND seeds (cms_build uses fixed per-row seeds, so any two
    cms_build/cms_merge outputs of equal width/depth are compatible);
    mixed geometry raises.

    Returns a single-row DataFrame ``(estimate: long)``. The multiply
    join runs on the ≤ depth×width-row sketch tables — broadcast-sized
    by construction.
    """
    ga, gb = _geometry(a), _geometry(b)
    if ga != gb:
        raise ValueError(f"sketch geometries differ: {ga} vs {gb}")
    _, depth = ga
    prod = (
        a.select("d", "bucket", F.col("c").alias("ca"))
        .join(b.select("d", "bucket", F.col("c").alias("cb")), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    # a depth row with NO shared buckets contributes inner product 0
    # and must participate in the min — spine over all d
    spine = (
        a.sparkSession.range(depth).select(F.col("id").cast("int").alias("d"))
    )
    return (
        spine.join(prod, "d", "left")
        .agg(F.min(F.coalesce("ip", F.lit(0))).cast("long").alias("estimate"))
    )


def hll_overlap_estimate(
    df: DataFrame,
    group_col: str,
    key_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Pairwise distinct-overlap estimates between groups via HLL
    inclusion-exclusion: |A∩B| ≈ |A| + |B| − |A∪B|, where every term
    comes from the SAME per-group sketches (one scan builds them; the
    pairwise stage merges sketch pairs, never re-reads data).

    The cross-source / cross-snapshot audit at 100 TB: per-group HLL
    state is ~2^lgk bytes regardless of cardinality, so pair math runs
    on a #groups²-row broadcast-scale frame. Inclusion-exclusion
    compounds the ±~1.6%·√3 relative HLL error and can go slightly
    negative on disjoint sets — estimates are floored at 0; exactness
    is not the point, ranking and order-of-magnitude are.

    Returns (g_a, g_b, est_a, est_b, est_union, est_overlap) for every
    unordered group pair (g_a < g_b).
    """
    sk = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sk"))
        .withColumn("est", F.hll_sketch_estimate("sk"))
    )
    a = sk.select(
        F.col("g").alias("g_a"), F.col("sk").alias("sk_a"), F.col("est").alias("est_a")
    )
    b = sk.select(
        F.col("g").alias("g_b"), F.col("sk").alias("sk_b"), F.col("est").alias("est_b")
    )
    pairs = a.join(F.broadcast(b), F.col("g_a") < F.col("g_b"))
    est_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return pairs.select(
        "g_a",
        "g_b",
        "est_a",
        "est_b",
        est_union.alias("est_union"),
        F.greatest(
            F.col("est_a") + F.col("est_b") - est_union, F.lit(0)
        ).alias("est_overlap"),
    )


def cms_screen(
    df: DataFrame,
    key_col: str,
    sketch: DataFrame,
    min_count: int,
) -> DataFrame:
    """Rows of `df` whose key's CMS estimate is >= min_count — the
    sketch-screen half of two-pass heavy hitters.

    CMS never underestimates, so the screen keeps EVERY row of every
    truly-frequent key (no false negatives); a bounded overestimate
    tail also survives and is removed by the exact second pass:

        screened = cms_screen(rows, "token", sketch, T)
        exact    = screened.groupBy("token").count().filter(count >= T)

    ``exact`` equals the full groupBy-HAVING result, but only the
    screened rows — Σ freq of near-heavy keys, not N — reach the
    shuffle. That is the 100 TB win: the first pass is the CMS build
    (map-side-combinable, constant state), the estimate here is pure
    codegen (the <= depth x width sketch is collected once — bounded
    — and inlined as literal arrays, one element_at per depth row, no
    join, no shuffle), and only candidates pay the exact aggregation.

    Null keys never match (estimate of nothing), mirroring
    cms_build's null filter.
    """
    rows = sketch.collect()  # bounded: <= depth * width rows
    if not rows:
        return df.filter(F.lit(False))
    geoms = {(r["width"], r["depth"]) for r in rows}
    if len(geoms) != 1:
        raise ValueError(
            f"sketch has mixed geometries {sorted(geoms)} — was it "
            "merged from sketches built with different width/depth?"
        )
    (width, depth), = geoms
    dense = [[0] * width for _ in range(depth)]
    for r in rows:
        dense[r["d"]][r["bucket"]] = r["c"]
    key = F.col(key_col)
    # one F.expr per depth row: a single parsed array(...) of literals
    # that ConstantFolding collapses to one constant. (F.lit(list)
    # builds the same array through width python Column objects —
    # measured 7.6 s of driver time at width 4096.)
    arrays = [
        F.expr("array(" + ",".join(f"{c}L" for c in dense[d]) + ")")
        for d in range(depth)
    ]
    probes = [
        F.element_at(
            arrays[d],
            (F.pmod(F.xxhash64(key, F.lit(d)), F.lit(width)) + 1).cast(
                "int"
            ),
        )
        for d in range(depth)
    ]
    est = F.least(*probes) if depth > 1 else probes[0]
    return df.filter(key.isNotNull() & (est >= F.lit(min_count)))


def advise_join(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    broadcast_threshold_rows: int = 1_000_000,
    skew_factor: float = 5.0,
) -> dict:
    """Plan-time join advice from constant-size sketch state — the
    executable form of SCALING.md's "CMS inner product is the input
    to broadcast-vs-shuffle and salting decisions".

    Builds one CMS per side (one aggregate pass each), then derives:

    - ``est_join_rows``: the CMS inner product (never underestimates);
    - ``max_freq_bound_{a,b}``: min over depth rows of the largest
      bucket — a valid upper bound on the hottest key's frequency
      (every occurrence of a key lands in one bucket per row, so no
      key can exceed any row's max bucket);
    - ``skew_bound_{a,b}``: that bound over the mean per-distinct-key
      frequency — when it is large AND the join must shuffle, salting
      (operators/skew.py) or AQE skew-join is indicated;
    - ``recommendation``: 'broadcast_a'/'broadcast_b' when a side is
      under `broadcast_threshold_rows`, else 'shuffle' or
      'shuffle_salted' by the skew bound.

    Driver state: two sketch collects (≤ depth×width rows each) and
    two counts — nothing proportional to data size.
    """
    rows_a, rows_b = a.count(), b.count()
    sk_a = cms_build(a, key_col, width=width, depth=depth)
    sk_b = cms_build(b, key_col, width=width, depth=depth)
    est_join = cms_inner_product(sk_a, sk_b).collect()[0]["estimate"]

    def _stats(sk: DataFrame, total: int) -> tuple[int, float]:
        rows = sk.collect()
        if not rows:
            return 0, 0.0
        max_per_d: dict[int, int] = {}
        nonzero: dict[int, int] = {}
        for r in rows:
            max_per_d[r["d"]] = max(max_per_d.get(r["d"], 0), r["c"])
            nonzero[r["d"]] = nonzero.get(r["d"], 0) + 1
        bound = min(max_per_d.values())
        # distinct keys >= max nonzero buckets over rows; mean freq
        # uses that (over-)lower bound, making skew_bound conservative
        distinct_lb = max(nonzero.values())
        mean = total / distinct_lb if distinct_lb else 0.0
        return bound, (bound / mean if mean else 0.0)

    max_a, skew_a = _stats(sk_a, rows_a)
    max_b, skew_b = _stats(sk_b, rows_b)

    if rows_a <= broadcast_threshold_rows or rows_b <= broadcast_threshold_rows:
        rec = "broadcast_a" if rows_a <= rows_b else "broadcast_b"
    elif max(skew_a, skew_b) >= skew_factor:
        rec = "shuffle_salted"
    else:
        rec = "shuffle"
    return {
        "rows_a": rows_a,
        "rows_b": rows_b,
        "est_join_rows": est_join,
        "max_freq_bound_a": max_a,
        "max_freq_bound_b": max_b,
        "skew_bound_a": round(skew_a, 2),
        "skew_bound_b": round(skew_b, 2),
        "recommendation": rec,
    }


# ---------------------------------------------------------------------------
# DDSketch-style mergeable quantile sketch (Masson, Rim & Lee, VLDB
# 2019: "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees"). Log-spaced buckets give a RELATIVE
# error bound: the estimate for any quantile is within alpha of the
# true value multiplicatively, independent of the data range — the
# right guarantee for long-tailed size/latency/price columns where
# absolute-error sketches waste resolution on the tail.
#
# The sketch IS a tiny (group, bucket, n) table: build is one groupBy
# (map-side combined — constant state per executor at 100 TB), merge
# is a re-groupBy (exactly associative, so per-partition / per-day
# sketches roll up to any level), probe is a cumulative-count window
# over ≤ a few hundred bucket rows. Everything is deterministic
# integer/closed-form arithmetic, so a SQL oracle replays it exactly —
# unlike approx_percentile, whose KLL compaction is engine-internal
# (q18's rows-only precedent). Positive values only (the paper's
# two-store extension handles negatives; out of scope here).
# ---------------------------------------------------------------------------


def qsketch_gamma(alpha: float) -> float:
    """Bucket base for a target relative accuracy alpha."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def qsketch_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Build per-group DDSketch tables: (group_cols..., bucket, n).

    bucket = ceil(ln(v) / ln(gamma)) for v > 0; every value in bucket j
    lies in (gamma^(j-1), gamma^j], and the bucket's midpoint estimate
    2·gamma^j/(gamma+1) is within alpha of any of them. Non-positive
    values are dropped (count them separately if they matter).
    """
    gamma = qsketch_gamma(alpha)
    v = F.col(value_col).cast("double")
    bucket = F.ceil(F.log(v) / F.lit(math.log(gamma)))
    keys = list(group_cols or [])
    return (
        df.filter(v > 0)
        .withColumn("bucket", bucket.cast("long"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def qsketch_merge(*sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Union + re-sum: exact associative merge of sketch tables."""
    if not sketches:
        raise ValueError("need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    keys = list(group_cols or [])
    return u.groupBy(*keys, "bucket").agg(F.sum("n").alias("n"))


def qsketch_quantiles(
    sketch: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Quantile estimates from a sketch: one row per (group, q).

    Picks the first bucket whose cumulative count reaches
    ceil(q·N) (nearest-rank), then returns the bucket midpoint
    2·gamma^bucket/(gamma+1) — within alpha (relative) of the exact
    nearest-rank value. The window runs over bucket rows (hundreds),
    not data rows.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    gamma = qsketch_gamma(alpha)
    keys = list(group_cols or [])
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*keys).orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*keys))
    )
    qdf = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    hit = (
        cum.select(*keys, "bucket", "cum", "total", qdf)
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy(*keys, "q")
        .agg(F.min("bucket").alias("bucket"))
    )
    est = F.round(
        F.lit(2.0) * F.pow(F.lit(gamma), F.col("bucket")) / F.lit(gamma + 1.0), 4
    )
    return hit.withColumn("est", est).select(*keys, "q", "est")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k theta) sketch — the batch half of
# the streaming twin (streaming/sketches.py streaming_kmv_distinct).
# q285 builds the same sketch inline for the cross-source pair
# arithmetic; this is the reusable per-group form whose arrays are
# bit-comparable with the streaming operator's final state.
# ---------------------------------------------------------------------------

KMV_M = 1 << 48


def kmv_sketch(
    df: DataFrame,
    group_col: str | list[str],
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """(group..., arr, n_sketch, est_distinct): per-group bottom-k of
    the 48-bit portable md5 hash (conv(substring(md5(v),1,12),16,10) —
    the q64/q285 construction, identical to hashlib.md5 on UTF-8
    bytes). ``group_col`` may be a list for composite keys — e.g.
    (event-time window, type) for the windowed distinct-count dial
    (q299), the batch face of the streaming twin's keyed state.

    Scale shape (the q285 discipline): one distinct rollup, then the
    per-group bottom-k rides the RANGE-PARTITIONED global sort
    (operators/indexing.py global_row_number) + one bounded min-rank
    rollup — no per-group sort cliff, no collect_set of an unbounded
    value domain. Estimator D̂ = (k−1)·2⁴⁸/h₍ₖ₎ with the
    exact-below-k fallback, emitted RAW: one IEEE division of exact
    integer operands is correctly rounded and bit-identical on every
    engine and version (the determinism.py safe class — ROUND(·,6) on
    the quotient would reintroduce the cross-version rounding hazard
    that kept q276 red), and it matches the streaming twin's Python
    float division bit-for-bit."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .indexing import global_row_number

    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    h = F.expr(
        f"CAST(conv(substring(md5({value_col}), 1, 12), 16, 10)"
        f" AS BIGINT)"
    )
    pts = df.select(*groups, h.alias("h")).distinct()
    grn = global_row_number(pts, groups + ["h"], "rn")
    offs = grn.groupBy(*groups).agg(F.min("rn").alias("rn0"))
    return (
        grn.join(F.broadcast(offs), groups)
        .filter(F.col("rn") - F.col("rn0") < k)
        .groupBy(*groups)
        .agg(F.sort_array(F.collect_list("h")).alias("arr"))
        .selectExpr(
            *groups,
            "arr",
            "size(arr) AS n_sketch",
            # (k−1)·2⁴⁸ is exact below 2⁵³ and h₍ₖ₎ < 2⁴⁸, so the
            # single division ships raw (safe class) — no ROUND
            f"CASE WHEN size(arr) < {k} THEN CAST(size(arr) AS DOUBLE)"
            f" ELSE CAST({k - 1} AS DOUBLE)"
            f" * CAST({KMV_M} AS DOUBLE)"
            f" / CAST(element_at(arr, {k}) AS DOUBLE) END"
            f" AS est_distinct",
        )
    )


# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch — second frequency moment /
# self-join size estimation (public literature: Alon, Matias &
# Szegedy, STOC 1996). Completes the mergeable-sketch family: HLL =
# distinct, KMV = set arithmetic, CMS = point frequency, DDSketch =
# quantiles, AMS = Σf² — the quantity a join planner needs to size a
# key's self-join / detect skew before shuffling (the advise_join
# question at sketch cost).
# ---------------------------------------------------------------------------


def ams_f2(
    df: DataFrame,
    key_expr: str,
    reps: int = 32,
    groups: int = 4,
    audit: bool = True,
) -> DataFrame:
    """AMS F2 estimate of Σ_k f(k)² for a key expression, plus (when
    ``audit=True``) the exact value as the audit column:
    (g, sum_e, est_f2[, exact_f2]) — one row per estimator group.
    ``audit=False`` is the PRODUCTION mode: it skips the exact
    key-grouped scan entirely, so the whole operator is one
    map-combined pass with zero key shuffles.

    Construction: 32 ±1 sign functions from the NIBBLE PARITIES of
    one md5 per row (one hash, 32 four-wise-ish independent signs —
    engine-identical and fully oracle-able, the q64 portable-md5
    discipline); each estimator is S_j = Σ_rows sign_j(key), an exact
    integer under any partitioning, and E[S_j²] = F2. The estimate is
    the classic median-of-means: means over ``groups`` groups, median
    across them — emitted as ONE raw IEEE division of exact integer
    group sums ((gs_(2) + gs_(3)) / (2·per_group) for 4 groups), the
    q268 rule.

    100-TB shape: ONE scan with reps sum aggregates (map-side
    combined, no explode — the exchange carries reps integers per
    partition); the reps-value state is collected (bounded) and the
    result re-enters as a literal frame. The exact audit column pays
    one key-grouped exchange — it is the DEMO contrast, not part of
    the sketch; production callers drop it and never shuffle on the
    key at all.

    Accuracy is skew-dependent BY THEORY: per-estimator relative
    variance is 2(F2² − F4)/F2², ≈ 2 for near-uniform keys but → 0
    when one heavy key dominates F2 — i.e. the sketch is accurate
    exactly when the answer matters (skew detection); measured 0.6-5%
    on the planted-heavy-key dial vs ~30-80% on uniform orderkeys
    (q296 docstring).
    """
    _ams_validate(reps, groups)
    per = reps // groups
    if not audit:
        sa = _sign_sums(df, key_expr, reps)
        gs = [
            sum(sa[j] ** 2 for j in range(g * per, (g + 1) * per))
            for g in range(groups)
        ]
        est = _median_of_means(gs, per)
        return df.sparkSession.createDataFrame(
            [(g, gs[g], est) for g in range(groups)],
            "g int, sum_e long, est_f2 double",
        ).orderBy("g")

    def _exact() -> int:
        x = (
            df.selectExpr(f"{key_expr} AS k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("f"))
            .agg(
                F.coalesce(F.sum(F.col("f") * F.col("f")), F.lit(0))
                .cast("long")
                .alias("x")
            )
            .collect()[0]["x"]
        )
        return int(x)

    # the sketch scan and the exact audit rollup share no inputs'
    # results — submit both jobs at once so the audit back-fills the
    # cluster during the sketch scan's tail (guide §2.6 overlap)
    sa, exact = run_concurrent(
        lambda: _sign_sums(df, key_expr, reps), _exact
    )
    gs = [
        sum(sa[j] ** 2 for j in range(g * per, (g + 1) * per))
        for g in range(groups)
    ]
    est = _median_of_means(gs, per)
    return df.sparkSession.createDataFrame(
        [(g, gs[g], est, exact) for g in range(groups)],
        "g int, sum_e long, est_f2 double, exact_f2 long",
    ).orderBy("g")


def _ams_validate(reps: int, groups: int) -> None:
    # one md5 supplies 32 hex nibbles — substring past position 32
    # returns '' and the sign silently becomes NULL, so reps > 32 is
    # a hard error, not a degraded sketch
    if not 1 <= reps <= 32:
        raise ValueError(f"reps must be in [1, 32], got {reps}")
    if reps % groups:
        raise ValueError(f"reps={reps} not divisible by groups={groups}")


def _sign_sums(df: DataFrame, key_expr: str, reps: int) -> list[int]:
    """Σ_rows sign_j(key) for j in 1..reps: one map-combined scan,
    reps exact integers.

    Round-14 shape (identical integers, ~7× faster measured at sf0.1):

    - the projected key is ``spread`` first — a small parquet arrives
      as ONE input split, so the md5 + reps-aggregate scan (the CPU
      floor of the sketch) would otherwise run on a single core; the
      stats gate makes this a no-op at real scale (execution.spread);
    - the nibble parity is extracted ONCE per row via ``translate``
      (hex digit → its parity character) instead of reps
      ``conv(substring, 16, 10)`` base conversions, and each aggregate
      is a plain ``SUM(ascii(substring) - 48)`` ones-count o_j; the
      sign sum is then n − 2·o_j exactly (sign_j = 1 − 2·bit_j).
      COALESCE pins the empty-input SUM (NULL) to 0, so the empty
      sign sum is 0 — the mathematically correct value.
    """
    row = _sign_sums_frame(df, key_expr, reps).collect()[0]
    n = int(row["n"])
    return [n - 2 * int(row[f"o{j}"]) for j in range(1, reps + 1)]


def _sign_sums_frame(df: DataFrame, key_expr: str, reps: int) -> DataFrame:
    """The distributed half of `_sign_sums` — the one-row
    (n, o_1..o_reps) aggregate BEFORE the bounded collect. Factored
    out (round 15) so plan tooling can capture the REAL internal scan
    of this collect-style operator (the operator's public result is a
    driver-assembled frame whose explain shows only an ExistingRDD
    shell — tools/internal_plans.py dumps this frame instead)."""
    parity = (
        "translate(md5(CAST(k AS STRING)), '0123456789abcdef',"
        " '0101010101010101')"
    )
    return (
        spread(df.selectExpr(f"({key_expr}) AS k"))
        .selectExpr(f"{parity} AS t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.expr(
                    f"COALESCE(SUM(ascii(substring(t, {j}, 1)) - 48), 0)"
                )
                .cast("long")
                .alias(f"o{j}")
                for j in range(1, reps + 1)
            ],
        )
    )


def _median_of_means(gs: list[int], per: int) -> float:
    srt = sorted(gs)
    mid = len(gs) // 2
    if len(gs) % 2:
        return float(srt[mid]) / per
    # one raw IEEE division of exact integer operands (safe class)
    return (srt[mid - 1] + srt[mid]) / (2.0 * per)

def ams_join_size(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    reps: int = 32,
    groups: int = 4,
    audit: bool = True,
) -> DataFrame:
    """AGMS join-size estimate of |A ⋈ B| = Σ_k fA(k)·fB(k) from two
    independent single scans, plus (when ``audit=True``) the exact
    value as the audit column: (g, sum_e, est_join_size
    [, exact_join_size]) — one row per estimator group.
    ``audit=False`` is the PRODUCTION mode: the exact-count key
    rollup + join is skipped, so the plan touches each input exactly
    once, map-combined, with NO join anywhere — the entire point of
    sizing a join before paying for one.

    The inner-product extension of :func:`ams_f2` (public literature:
    Alon, Gilbert, Matias & Szegedy, PODS 1999 — "tracking join and
    self-join sizes"): with the SAME sign functions on both sides,
    E[S_A[j]·S_B[j]] = Σ_k fA(k)·fB(k), the quantity a planner needs
    to size a join's output BEFORE shuffling either input. Sign
    functions are the q296 nibble parities of one portable md5 of the
    key string, so equal keys hash identically on both sides and both
    engines, and the ENTIRE estimator replays in the oracle.

    100-TB shape: each side is ONE map-combined scan producing reps
    integers — the two inputs are never shuffled, joined, or even
    co-located; the cross-side product happens on 2·reps collected
    integers. The exact audit column pays the real key rollup + join
    and is the DEMO contrast only (the q296 discipline).

    Accuracy mirrors F2: per-estimator relative variance collapses
    when heavy keys dominate the inner product — i.e. the estimate is
    tight exactly when the join would explode and the answer matters
    (the skew-detection regime, q296 docstring).
    """
    _ams_validate(reps, groups)
    per = reps // groups

    def _exact() -> int:
        ca = (
            df_a.selectExpr(f"{key_a} AS k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("fa"))
        )
        cb = (
            df_b.selectExpr(f"{key_b} AS k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("fb"))
        )
        x = (
            ca.join(cb, "k")
            .agg(F.sum(F.expr("fa * fb")).cast("long").alias("x"))
            .collect()[0]["x"]
        )
        return int(x) if x is not None else 0

    # the two sign-sum scans (and the audit rollup) are independent
    # single-action jobs — overlap them from driver threads so side B
    # back-fills the executors during side A's tail (guide §2.6)
    thunks = [
        lambda: _sign_sums(df_a, key_a, reps),
        lambda: _sign_sums(df_b, key_b, reps),
    ]
    if audit:
        results = run_concurrent(*thunks, _exact)
        sa, sb, exact = results[0], results[1], results[2]
    else:
        sa, sb = run_concurrent(*thunks)
    gs = [
        sum(sa[j] * sb[j] for j in range(g * per, (g + 1) * per))
        for g in range(groups)
    ]
    est = _median_of_means(gs, per)
    if not audit:
        return df_a.sparkSession.createDataFrame(
            [(g, gs[g], est) for g in range(groups)],
            "g int, sum_e long, est_join_size double",
        ).orderBy("g")
    return df_a.sparkSession.createDataFrame(
        [(g, gs[g], est, exact) for g in range(groups)],
        "g int, sum_e long, est_join_size double, exact_join_size long",
    ).orderBy("g")
