"""Similarity search over embedding columns (array<float>).

Three paths, per SURVEY.md §2 B10 — `ann_topk` dispatches, IVF default:

- cosine_topk: exact brute force — broadcast the (small) query set
  against the full corpus; one scan, no corpus shuffle. Right when
  |queries| is small; cost |Q|·n dot products, embarrassingly parallel.
- ivf_ann_topk (DEFAULT approximate path): inverted-file cells from a
  deterministic coarse quantizer; queries probe nprobe nearest cells.
  Recall tracks data geometry, so it holds up on the hard
  near-orthogonal corpora where hyperplane LSH collapses.
- lsh_ann_topk: random-hyperplane LSH — sign-bit signatures bucket the
  corpus so each query only scores its bucket collisions; candidate
  cost tracks bucket occupancy, not n. Hyperplanes are derived
  deterministically from integer hashes, so results are stable
  across runs/partitionings (no RNG state to ship).

All arithmetic is JVM higher-order functions (zip_with/aggregate) over
double-cast arrays — no UDF, no Python worker. These functions are
``CodegenFallback``: they run interpreted inside otherwise generated
code, so their per-element cost dominates the vector queries (ROADMAP
direction 2 records the profile). Each path (and the PQ
paths in operators/pq.py) generates its own candidate pairs and ends
in the same exact re-rank, `exact_topk`, whose per-query cut
`topk_per_query` also cuts the PQ candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..execution import spread


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("__vec", v).withColumn("__norm", norm(F.col("__vec")))


def pair_side(
    df: DataFrame, side: str, id_col: str, vec_col: str, *extra: Column
) -> DataFrame:
    """One side of a candidate pair frame: ``query_id, q_vec, q_norm``
    (``side="q"``) or ``neighbor_id, n_vec, n_norm`` (``side="n"``),
    the vector double-cast and normed once, plus ``extra`` columns."""
    return with_norm(df, vec_col).select(
        F.col(id_col).alias("query_id" if side == "q" else "neighbor_id"),
        F.col("__vec").alias(f"{side}_vec"),
        F.col("__norm").alias(f"{side}_norm"),
        *extra,
    )


def topk_per_query(df: DataFrame, score_col: str, k: int) -> DataFrame:
    """Keep each query's top ``k`` rows by ``score_col`` descending
    (NULL last), ties to the lower ``neighbor_id``, numbered 1..k in
    ``rank`` — a total order, so the result is deterministic."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def exact_topk(
    pairs: DataFrame, k: int, round_dp: int = 6, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The exact re-rank every vector top-k path ends in: score each
    candidate pair of ``pairs`` (``query_id, neighbor_id, q_vec, q_norm,
    n_vec, n_norm``, see :func:`pair_side`) by cosine rounded at
    ``round_dp`` and keep :func:`topk_per_query`'s top ``k``. Output:
    (query_id, neighbor_id, *carry, cosine, rank).

    Degenerate inputs: a zero-norm or NULL query vector fails the
    query with an assert naming ``norm > 0`` (its every cosine would
    be undefined); a zero-norm neighbor gets a NULL cosine and ranks
    after every scored neighbor of its query.
    """
    cosine = F.when(
        F.assert_true(
            F.col("q_norm") > 0,
            F.lit("exact_topk: query vectors must be non-NULL with norm > 0"),
        ).isNull(),
        F.round(
            dot(F.col("q_vec"), F.col("n_vec"))
            / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
            round_dp,
        ),
    )
    scored = pairs.select(
        "query_id", "neighbor_id", *carry, cosine.alias("cosine")
    )
    return topk_per_query(scored, "cosine", k).select(
        "query_id", "neighbor_id", *carry, "cosine", "rank"
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query row over the corpus.

    Output: (query_id, neighbor_id, cosine, rank); self-matches
    excluded; ties broken by neighbor id so the result is total-ordered.
    Zero-norm vectors follow :func:`exact_topk`.
    """
    q = pair_side(queries, "q", id_col, vec_col)
    # spread the probe side: a small corpus parquet is one input
    # split, so the |Q|×|C| dot-product sweep — the CPU floor of exact
    # search — would run on a single core. Stats-gated no-op at real
    # scale.
    c = pair_side(spread(corpus.select(id_col, vec_col)), "n", id_col, vec_col)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return exact_topk(pairs, k, round_dp)


def _planes(dim: int, n_planes: int, n_tables: int):
    """Deterministic pseudo-random hyperplanes, no RNG state.

    Components come from an integer hash (splitmix64 finalizer) of
    (table, plane, dim) scaled to [-1, 1] — bit-identical on every
    executor, every run, every numpy version.
    """
    import numpy as np

    idx = np.arange(n_tables * n_planes * dim, dtype=np.uint64)
    z = idx + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    vals = z.astype(np.float64) / float(2**63) - 1.0  # ~uniform [-1, 1)
    return vals.reshape(n_tables, n_planes, dim)


def hyperplane_signatures(
    dim: int = 64, n_planes: int = 8, n_tables: int = 4
):
    """Arrow-batched pandas UDF: embedding → array of n_tables bucket ids.

    One numpy matmul per batch computes every (table, plane) projection
    at once — the vectorized replacement for ~n_tables·n_planes·dim
    scalar expressions per row, which codegen chokes on. This is the
    sanctioned UDF case: built-ins can't express a matrix multiply.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _planes(dim, n_planes, n_tables)  # (T, P, D)
    flat = planes.reshape(n_tables * n_planes, dim).T  # (D, T*P)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # (P,)

    def sig(emb):
        mat = np.stack(emb.to_numpy())  # (N, D) float32
        proj = mat.astype(np.float64) @ flat  # (N, T*P)
        bits = (proj >= 0).reshape(len(mat), n_tables, n_planes)
        buckets = (bits * weights).sum(axis=2)  # (N, T)
        return pd.Series(list(buckets))

    # registered without annotations: `from __future__ import annotations`
    # would stringify them and pandas_udf can't resolve local names.
    return pandas_udf(sig, "array<long>")


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids (by cosine).

    The centroid frame is bounded by n_cells at every call site, so it
    is collected and entered as ONE nested-array literal; assignment is
    then a per-row codegen argmin — zero shuffle, zero join. The
    similarity is the sequential-fold dot ``/ nullif(nrm * c_norm, 0)``
    and the struct sort on (unscored, −sim, cell) ranks by descending
    similarity, ties to the lower cell. Output: (id, cell, cell_rank,
    vec, nrm).

    Degenerate inputs: an empty centroid frame, or a non-finite
    centroid component (it has no SQL literal form), raises
    ValueError. A NaN vector component makes that row's similarities
    NaN, which sort after every number — its cells come out in cell
    order. A zero-norm vector or centroid has no similarity, in either
    ANSI mode: that pair ranks after every scored cell, so a zero-norm
    centroid is probed last and a zero-norm vector takes its cells in
    cell order. The re-rank then applies ``exact_topk``'s contract: a
    zero-norm neighbor ranks last with a NULL cosine, and a zero-norm
    query fails with an assert naming ``norm > 0``.
    """
    from ..functions.determinism import sql_array

    rows = sorted(
        centroids.select("cell", "c_vec", "c_norm").collect(),
        key=lambda r: int(r["cell"]),
    )
    if not rows:
        raise ValueError("ivf_assign: empty centroid frame")
    cb = sql_array([r["c_vec"] for r in rows])
    cn = sql_array([r["c_norm"] for r in rows])
    ca = sql_array([int(r["cell"]) for r in rows])
    k = len(rows)
    dotq = (
        "aggregate(zip_with(vec, cw, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    den = f"nullif(nrm * element_at({cn}, i), 0.0D)"
    top = (
        f"slice(array_sort(zip_with({cb}, sequence(1, {k}), "
        f"(cw, i) -> named_struct('unscored', isnull({den}), "
        f"'ns', -(({dotq}) / {den}), "
        f"'cell', element_at({ca}, i)))), 1, {min(nprobe, k)})"
    )
    v = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"),
        F.col("__vec").alias("vec"),
        F.col("__norm").alias("nrm"),
    )
    return v.select(
        "id",
        F.posexplode(F.expr(top)).alias("__p", "__t"),
        "vec",
        "nrm",
    ).select(
        "id",
        F.col("__t.cell").alias("cell"),
        (F.col("__p") + 1).alias("cell_rank"),
        "vec",
        "nrm",
    )


def _refine_centroids(
    cents: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int,
    train_frac: float,
) -> DataFrame:
    """Lloyd iterations on the coarse quantizer, Spark-native.

    Each iteration: assign training vectors to their nearest cell
    (broadcast centroids, one scan), then recompute each cell's mean —
    posexplode to (cell, pos, val), avg per slot with DECIMAL
    accumulation so the reduction is exact and partitioning-invariant,
    reassemble the array ordered by pos. Cost per iteration is one
    shuffle of dim × |train| slot rows; at 100 TB you train on a
    sample (`train_frac`), selected by id hash — deterministic under
    any partitioning, unlike DataFrame.sample whose seed is
    per-partition. Empty cells drop out (harmless: they held no
    training mass).
    """
    train = corpus
    if train_frac < 1.0:
        pct = int(train_frac * 10_000)
        train = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit("ivf-train")), 10_000) < pct
        )
    for _ in range(iters):
        assigned = ivf_assign(train, cents, id_col, vec_col, nprobe=1)
        new = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("decimal(28,12)")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cell",
                F.transform("pm", lambda s: s["m"].cast("double")).alias(
                    "c_vec"
                ),
            )
            .withColumn("c_norm", norm(F.col("c_vec")))
        )
        # LAZY: the next consumer — the following iteration's
        # centroid collect, or the caller's own cents.collect() — is
        # the materializing action; an eager checkpoint here would add
        # one count job per iteration for an n_cells-row frame.
        cents = new.localCheckpoint(eager=False)
    return cents


def ivf_build_index(
    corpus: DataFrame,
    n_cells: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
    train_frac: float = 1.0,
    n_rows: int | None = None,
    assignments: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Build the IVF index: (centroids, corpus cell assignments).

    The EXPENSIVE phase — seeding + Lloyd refinement + a full corpus
    assignment scan. Both frames are plain DataFrames; persist them
    with ``save_ivf_index`` so query batches reuse the index instead
    of rebuilding (the operational shape at scale: build nightly,
    query all day). Callers that already counted the corpus (every
    `checked_base` wrapper has n in hand) pass ``n_rows`` to skip the
    redundant count job.
    """
    n = corpus.count() if n_rows is None else n_rows
    stride = max(n // n_cells, 1)
    cent_w = Window.orderBy(F.col("__cid"))
    cents = (
        with_norm(corpus.filter(F.col(id_col) % stride == 0), vec_col)
        .select(
            F.col(id_col).alias("__cid"),
            F.col("__vec").alias("c_vec"),
            F.col("__norm").alias("c_norm"),
        )
        .withColumn("cell", F.row_number().over(cent_w) - 1)
        .filter(F.col("cell") < n_cells)
        .select("cell", "c_vec", "c_norm")
    )
    # n_cells rows: the single-partition window and the checkpoint are
    # both O(n_cells), independent of corpus size. LAZY: the first
    # consumer (the refine loop's centroid collect, or the caller's)
    # materializes it — eager would add a count job.
    cents = cents.localCheckpoint(eager=False)
    if refine_iters > 0:
        cents = _refine_centroids(
            cents, corpus, id_col, vec_col, refine_iters, train_frac
        )
    if not assignments:
        # IVF-PQ/OPQ builds re-derive their own residual-space codes
        # and never read the raw assignment frame — skip constructing
        # it (the assign expression alone is an n_cells·d-literal
        # parse, paid at construction even when the frame is unused).
        return cents, None
    corpus_cells = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col("id").alias("neighbor_id"),
        "cell",
        F.col("vec").alias("n_vec"),
        F.col("nrm").alias("n_norm"),
    )
    return cents, corpus_cells


def save_ivf_index(cents: DataFrame, corpus_cells: DataFrame, path: str) -> None:
    """Persist an IVF index (centroids + assignments) as parquet."""
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    corpus_cells.write.mode("overwrite").parquet(f"{path}/assignments")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Reload a persisted IVF index for querying (no rebuild)."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/assignments"),
    )


def ivf_topk_with_index(
    queries: DataFrame,
    cents: DataFrame,
    corpus_cells: DataFrame,
    k: int = 10,
    nprobe: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Top-k against a prebuilt (possibly reloaded) IVF index."""
    query_cells = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col("id").alias("query_id"),
        "cell",
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_norm"),
    )
    pairs = (
        query_cells.join(corpus_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return exact_topk(pairs, k, round_dp)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 32,
    nprobe: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    refine_iters: int = 1,
    train_frac: float = 1.0,
) -> DataFrame:
    """Approximate top-k via IVF (inverted file) cells.

    Default dial (32 cells, probe 16, 1 Lloyd iteration) scans ~50%
    of the corpus and holds recall ≥ 0.8 even on near-orthogonal
    synthetic embeddings — the adversarial case for any space
    partitioner (pinned at sf0.1 in tests/test_ann_recall_sf01.py).
    Clustered real-world corpora reach the same recall at much lower
    nprobe/n_cells; tune the dial per corpus.

    Coarse quantizer: every (corpus_size/n_cells)-th corpus vector by
    id seeds a centroid (deterministic, no RNG), then `refine_iters`
    Lloyd iterations fit the cells to the data (see _refine_centroids;
    0 = raw seeds). Corpus rows index into their 1 nearest cell;
    queries probe their `nprobe` nearest cells and score only those
    cells' members. Cost per query ≈ nprobe/n_cells of the corpus —
    the classic ANN recall/cost dial, complementary to the
    hyperplane-LSH path.

    Cell ids are row_number() over the centroid rows' OWN ids — a pure
    function of the data, identical however the corpus is partitioned
    and however many times the plan is evaluated. (The tempting
    monotonically_increasing_id() is partitioning-dependent: evaluated
    independently on the corpus and query branches it can label the
    same centroid differently and silently destroy recall.) The tiny
    centroid frame is additionally localCheckpoint-ed so both branches
    read one materialization instead of re-deriving it.
    """
    cents, corpus_cells = ivf_build_index(
        corpus,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        refine_iters=refine_iters,
        train_frac=train_frac,
    )
    return ivf_topk_with_index(
        queries,
        cents,
        corpus_cells,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=round_dp,
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    round_dp: int = 6,
) -> DataFrame:
    """Approximate top-k cosine neighbors via multi-table hyperplane LSH.

    Candidates = corpus rows sharing a bucket with the query in ANY of
    n_tables independent tables; exact cosine is computed only on
    candidates. Recall/cost trade-off is (n_planes, n_tables): for a
    neighbor at angle θ, one table matches with (1 - θ/π)^n_planes, so
    weakly-correlated corpora (θ→90°) want few planes and many tables;
    bucket occupancy n/2^n_planes is what bounds candidate cost at scale.
    """
    sig_udf = hyperplane_signatures(dim=dim, n_planes=n_planes, n_tables=n_tables)

    def banded(df: DataFrame, side: str) -> DataFrame:
        # the UDF reads the raw vector column: its input type is fixed
        bands = F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "bucket")
        return pair_side(df, side, id_col, vec_col, bands)

    pairs = (
        banded(queries, "q")
        .join(banded(corpus, "n"), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "q_vec", "q_norm", "neighbor_id", "n_vec", "n_norm"
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return exact_topk(pairs, k, round_dp)


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    method: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **params,
) -> DataFrame:
    """Default approximate-nearest-neighbor entry point.

    IVF is the default: on realistic high-dimensional corpora (near-
    orthogonal vectors, the hard case) its recall at comparable cost
    beats hyperplane LSH (~0.75 vs ~0.4 at the registered settings),
    because cells partition by actual data geometry while random
    hyperplanes cut near-orthogonal neighborhoods almost blindly.
    `method="lsh"` keeps the hyperplane path for corpora with strong
    directional clustering, `method="exact"` is the brute-force ground
    truth (small query sets only).
    """
    if method == "ivf":
        return ivf_ann_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col, **params
        )
    if method == "lsh":
        return lsh_ann_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col, **params
        )
    if method == "exact":
        return cosine_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col, **params
        )
    raise ValueError(f"unknown ANN method {method!r}; use ivf|lsh|exact")


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection: distance-preserving dim
# reduction (Johnson & Lindenstrauss 1984; dense Gaussian-free variant
# per Achlioptas 2003 — any zero-mean bounded i.i.d. matrix works).
# Projecting D→k multiplies every downstream distance computation's
# cost by k/D; with k = O(ln n / eps²) pairwise distances survive
# within (1±eps). The scale use: project once (one narrow map stage,
# no shuffle), then run the existing exact/IVF/LSH machinery on the
# short vectors.
# ---------------------------------------------------------------------------


def rp_matrix(dim: int, out_dim: int):
    """Deterministic (out_dim, dim) projection matrix.

    Entries are _planes() splitmix64 components (uniform [-1,1),
    variance 1/3) — same no-RNG-state property: bit-identical on every
    executor/run. Scaled by sqrt(3/out_dim) so each entry has variance
    1/out_dim, which is what makes the projection norm-preserving in
    expectation (E[‖Mx‖²] = ‖x‖²)."""
    import numpy as np

    return _planes(dim, out_dim, 1)[0] * np.sqrt(3.0 / float(out_dim))


def rp_project(
    df: DataFrame,
    dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Add `out_col`: the vector projected to out_dim dims (array<double>).

    Arrow-batched pandas UDF — one numpy matmul per batch (the
    hyperplane_signatures precedent: built-ins can't express a matrix
    multiply; per-component aggregate() expressions would be
    out_dim × dim scalar ops per row and blow past codegen limits).
    Narrow map stage: no shuffle, composes with any downstream ANN path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    flat = rp_matrix(dim, out_dim).T  # (D, K)

    def proj(emb):
        mat = np.stack(emb.to_numpy()).astype(np.float64)  # (N, D)
        return pd.Series(list(mat @ flat))

    udf = pandas_udf(proj, "array<double>")
    return df.withColumn(out_col, udf(F.col(vec_col)))


def rp_project_sql(
    dim: int = 64,
    out_dim: int = 16,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> list[str]:
    """DuckDB SQL twins: one expression per projected component.

    Expression j is the literal dot product Σ_i vec[i+1]·M[j][i] with
    the identical matrix constants (repr round-trips doubles exactly).
    The SQL sum folds left-to-right while numpy's matmul sums
    pairwise/SIMD — both are within ~1e-13 of the true value, so
    rounding BOTH sides at `round_to` (≥1e-6 grid) makes them equal.
    Used by the q184 oracle to value-check the pandas-UDF matmul.
    """
    m = rp_matrix(dim, out_dim)
    exprs = []
    for j in range(out_dim):
        # explicit ::DOUBLE on both operands: the float4 column and the
        # decimal-parsed literal would otherwise drag the whole fold to
        # float32 precision and the ROUND would land off the 1e-6 grid.
        dot_terms = " + ".join(
            f"({vec_col}[{i + 1}]::DOUBLE * {m[j][i]!r}::DOUBLE)"
            for i in range(dim)
        )
        exprs.append(f"ROUND({dot_terms}, {round_to})")
    return exprs


MMR_SCHEMA = (
    "query_id long, neighbor_id long, mmr_rank int, relevance double"
)


def mmr_diverse_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 8,
    n_candidates: int = 20,
    w_rel: int = 7,
    w_div: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998, public literature) — the standard diversity re-ranker next
    to q252's RRF fusion: round 1 picks the most relevant candidate;
    every later round picks argmax of w_rel·relevance − w_div·max-sim-
    to-already-selected, so near-duplicates of an already-picked
    result are pushed down in favor of coverage.

    100-TB shape: the heavy distributed stage is candidate generation
    (the existing exact/ANN top-k machinery — swap in ann_topk for
    billion-row corpora); MMR itself then touches only |Q|·n_candidates
    rows. The greedy loop is inherently sequential WITHIN a query but
    independent ACROSS queries, so it runs as one grouped applyInPandas
    over query_id (the q69 sequence-packing precedent): state never
    leaves the executor, no per-round driver coordination, no shuffle
    beyond the candidate join.

    Cross-engine determinism: relevance is the 6-dp rounded cosine;
    pairwise candidate sims are rounded HALF_UP at 6 dp the moment
    they are computed (sequential left-fold dot, the F.aggregate
    order); MMR scores are EXACT integers in decimal micro-units
    (w_rel·rel − w_div·maxsim over 6-dp decimals), ties break on the
    lower candidate id — so the full selection trajectory replays in
    unrolled SQL (q263's oracle).
    """
    from decimal import ROUND_HALF_UP, Decimal

    cands = cosine_topk(
        queries, corpus, k=n_candidates, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    vecs = pair_side(corpus, "n", id_col, vec_col)
    # candidates are |Q|·n_candidates rows — broadcast them into ONE
    # corpus scan to fetch the candidate vectors. Fail loud BEFORE the
    # grouped map: a zero-norm candidate (or the NULL relevance a
    # zero-norm query produces) would otherwise surface as an opaque
    # ZeroDivisionError inside the pandas worker — the _guarded_q_norm
    # discipline from the PQ query paths applies here too.
    guard = F.when(
        F.assert_true(
            F.col("rel").isNotNull() & (F.col("n_norm") > 0),
            F.lit(
                "mmr_diverse_topk: zero-norm or NULL-relevance "
                "candidate — queries and corpus vectors must be "
                "non-NULL with norm > 0"
            ),
        ).isNull(),
        F.col("rel"),
    ).alias("rel")
    enriched = vecs.join(F.broadcast(cands), "neighbor_id").select(
        "neighbor_id", "query_id", guard, "n_vec", "n_norm"
    )

    q6 = Decimal("0.000001")

    def _mmr(pdf):
        import pandas as pd

        out_q, out_n, out_r, out_rel = [], [], [], []
        rows = sorted(
            zip(pdf["neighbor_id"], pdf["rel"], pdf["n_vec"], pdf["n_norm"]),
            key=lambda t: int(t[0]),
        )
        remaining = {
            int(nid): (Decimal(repr(float(rel))), list(vec), float(nrm), float(rel))
            for nid, rel, vec, nrm in rows
        }
        qid = int(pdf["query_id"].iloc[0])
        maxsim: dict[int, Decimal] = {}
        for rank in range(1, k + 1):
            if not remaining:
                break
            best_id, best_score = None, None
            for nid, (rel_d, _, _, _) in remaining.items():
                score = (
                    rel_d
                    if rank == 1
                    else w_rel * rel_d - w_div * maxsim[nid]
                )
                if best_id is None or score > best_score or (
                    score == best_score and nid < best_id
                ):
                    best_id, best_score = nid, score
            _, pvec, pnorm, prel = remaining.pop(best_id)
            out_q.append(qid)
            out_n.append(best_id)
            out_r.append(rank)
            out_rel.append(prel)
            for nid, (_, vec, nrm, _) in remaining.items():
                # sequential left-fold dot: the F.aggregate order,
                # rounded HALF_UP at 6 dp the moment it exists (the
                # repo-wide double discipline)
                d = 0.0
                for x, y in zip(vec, pvec):
                    d += x * y
                s = Decimal(repr(d / (nrm * pnorm))).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
                if nid not in maxsim or s > maxsim[nid]:
                    maxsim[nid] = s
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
                "mmr_rank": pd.Series(out_r, dtype="int32"),
                "relevance": pd.Series(out_rel, dtype="float64"),
            }
        )

    return enriched.groupBy("query_id").applyInPandas(_mmr, MMR_SCHEMA)
