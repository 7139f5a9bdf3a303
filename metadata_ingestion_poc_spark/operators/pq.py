"""Product-quantization ANN over an embedding column.

The missing 100-TB similarity-search technique next to IVF/LSH
(operators/similarity.py): compress each d-dim vector into m small
integer codes (one per contiguous subspace), score queries against the
codes through a per-query lookup table (asymmetric distance
computation, ADC), then re-rank a small candidate set exactly.
Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) — public literature; built Spark-first here.
The composed IVF-PQ path is the classical IVFADC form from the same
paper: PQ codebooks are trained on RESIDUALS (vector minus its coarse
cell centroid), which concentrates the quantizer's budget on the
within-cell geometry and measurably lifts recall over quantizing raw
vectors (pinned at sf0.1 in tests/test_ann_recall_sf01.py).

The 100-TB shape, stage by stage:

- **Training** is Lloyd's per subspace — but run JOINTLY: the m
  subspace problems are independent yet share every scan, so one
  iteration is ONE pass over the (checkpointed, spread) projection
  computing all m argmins in codegen, one explode to
  (subspace, code, slice) rows, and ONE m·ksub-group exchange behind
  map-side combine (the kmeans_lloyd update discipline — the exchange
  carries m·ksub·(dsub+1) values per input partition, kilobytes at any
  scale). Per round the bounded m·ksub·(dsub+1) state is collected and
  re-literalized, so plans stay flat with no lineage. The trainer is
  `clustering.lloyd_train`, of which k-means is the m = 1 case.
- **Encoding** is pure codegen, zero shuffle: the m·ksub codewords are
  baked into ONE array-literal argmin expression per subspace — the
  kmeans assignment property, m times over slices. Codes are
  `array<int>`, m bytes-ish per vector: the 64-dim float corpus
  compresses ~32×, which is the point — the ADC scan reads codes, not
  vectors. Every encode path validates its input through the
  `execution.checked_base` discipline first: a ragged, NULL, or
  NULL-element vector would zip_with-pad with NULL and emit
  arbitrary codes silently — fail loud instead.
- **Query (ADC)**: per query, a lookup table of partial dot products
  lut[sub][code] = <q_sub, codeword> is computed ONCE from the literal
  codebooks (m·ksub·dsub work per QUERY, not per corpus row) and
  broadcast with the query; each corpus row is then scored with m
  element_at lookups + one fold — cheaper than a d-term dot product by
  d/m. Approximate cosine = (qc + Σ lut) / (‖q‖ · ‖x̂‖): for plain PQ
  qc = 0 and x̂ is the codeword reconstruction; for IVF-PQ
  qc = <q, c_cell> (the coarse-centroid term of the residual
  decomposition x̂ = c_cell + r̂) and ‖x̂‖ is the `rn2` column the
  coding scan precomputed into the index — a pure function of
  (cell, codes), stored once so query plans never carry the
  n_cells·m·ksub norm table as literal text.
- **Re-rank**: the top `rerank` candidates per query (window over the
  scored codes) are broadcast back against the corpus for exact
  cosine — candidates are |Q|·rerank rows, so the join is a broadcast
  hash join with ONE corpus scan. Recall is then P(true top-k ⊂ ADC
  top-rerank), the standard PQ operating point; the floors are pinned
  at sf0.1 in tests/test_ann_recall_sf01.py, including the dominance
  ordering between the PQ dials and IVF/IVF-PQ.

Determinism: seeds come from the same reduced multiplicative id-hash
as kmeans (overflow-safe form); update sums use exact DECIMAL(28,6)
accumulation with 6-dp driver-side means, so codebooks/codes are
bit-identical under any partitioning; ADC and exact scores are
per-row expressions; every ranking breaks ties on the neighbor id.
No RNG state anywhere. Residuals are per-row codegen against double
literals, so the IVF-PQ trajectory is partitioning-invariant too.

Reference parity note: the reference repo (metadata_ingestion, 249
LoC) has no similarity-search surface; this operator belongs to the
[EXT] LLM-data-pipeline family the build brief adds on top.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..execution import checked_base
from ..functions.determinism import sql_array
from .clustering import (
    Codebooks,
    assign_expr,
    lloyd_train,
    slice_expr,
    subspace_slices,
)
from .opq import (
    Rotation,
    load_opq_rotation,
    opq_train_rotation,
    rotate_vectors,
    rotation_expr,
    save_opq_rotation,
)
from .similarity import exact_topk, pair_side, topk_per_query, with_norm

RawCells = dict[int, list[float]]  # cell -> RAW (unnormalized) centroid


def _codes_col(books: Codebooks) -> Column:
    """``codes`` array<int>: each row's nearest codeword per subspace,
    over the ``__s1..__sm`` columns of `subspace_slices`."""
    codes = ", ".join(
        f"{assign_expr(f'__s{sub}', books[sub])}.cid"
        for sub in range(1, len(books) + 1)
    )
    return F.expr(f"array({codes})").cast("array<int>").alias("codes")


def _guarded_q_norm(vec_col: str, dims: int, who: str) -> Column:
    """Query-frame fail-loud guard, mirroring the `checked_base`
    discipline without a separate validation job (query sets are
    per-row-cheap to check inline): a NULL / ragged / wrong-dims /
    NULL-element / zero-norm query vector trips `assert_true` the
    moment the ADC stage evaluates, instead of silently NULL-ing its
    lut (zip_with padding) or its cosine (zero division) and ranking
    every neighbor of that query arbitrarily. NULL vec → size NULL,
    NULL element → __norm NULL: both make the condition non-true."""
    cond = (F.size(F.col(vec_col)) == dims) & (F.col("__norm") > 0)
    return F.when(
        F.assert_true(
            cond,
            F.lit(
                f"{who}: query vectors must be non-NULL, NULL-free, "
                f"exactly {dims}-dim, with norm > 0"
            ),
        ).isNull(),
        F.col("__norm"),
    )


def _train_books(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    m: int,
    ksub: int,
    iterations: int,
    n: int,
    who: str = "pq_train",
) -> Codebooks:
    """`lloyd_train` over an ALREADY-validated base frame of ``n``
    rows (the `checked_base` output), which must hold at least ksub
    rows: unlike k-means, a codebook may not start short."""
    if n < ksub:
        raise ValueError(f"{who}: {n} rows < ksub={ksub}")
    return lloyd_train(base, id_col, vec_col, dims, m, ksub, iterations)


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    cache: bool = True,
) -> Codebooks:
    """Train m per-subspace codebooks of ksub codewords each.

    Jointly-run Lloyd's: every iteration is one scan + one
    m·ksub-group exchange + one bounded collect (m·ksub rows), not m
    separate k-means jobs. Seeds are the ksub lowest-id-hash vectors,
    sliced — the same spread-seed rule as kmeans_lloyd, shared across
    subspaces (each subspace immediately re-fits its own geometry).
    """
    if dims % m:
        raise ValueError(f"pq_train: dims={dims} not divisible by m={m}")
    base, _, n = checked_base(df, id_col, vec_col, cache, "pq_train",
                               dims=dims)
    return _train_books(base, id_col, vec_col, dims, m, ksub, iterations, n)


def _encode_on_base(
    base: DataFrame,
    codebooks: Codebooks,
    id_col: str,
    vec_col: str,
    dims: int,
) -> DataFrame:
    """Coding scan over an already-validated base (see pq_encode)."""
    sliced = subspace_slices(
        base, vec_col, dims, len(codebooks), F.col(id_col).alias("id")
    )
    return sliced.select("id", _codes_col(codebooks))


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    cache: bool = True,
) -> DataFrame:
    """(id, codes array<int>): each vector's nearest codeword per
    subspace. Pure codegen against array literals — zero shuffle, no
    join (the kmeans assignment property, m times over slices).
    Routed through `checked_base(dims=...)` first: a ragged, NULL-
    element, or wrong-dims frame would zip_with-pad with NULL and
    silently emit arbitrary codes — the validation aggregate fails
    loud instead (the same discipline as pq_train / the clustering
    operators)."""
    base, _, _ = checked_base(df, id_col, vec_col, cache, "pq_encode",
                               dims=dims)
    return _encode_on_base(base, codebooks, id_col, vec_col, dims)


def _norm_table_sql(codebooks: Codebooks) -> str:
    """Literal array: nsq[sub][cid] = ‖codeword‖² (reconstruction
    norm contributions, queried with m element_at lookups per row).
    Positional, gap-filled: codes never reference a dropped cid."""
    return sql_array([
        [
            sum(v * v for v in book[cid]) if cid in book else 0.0
            for cid in range(1, max(book) + 1)
        ]
        for _, book in sorted(codebooks.items())
    ])


def _lut_expr(vec_col: str, codebooks: Codebooks, dims: int) -> str:
    """Per-query ADC lookup table: lut[sub][cid] = <q_sub, codeword>.
    m·ksub·dsub work per QUERY row, evaluated once before broadcast.
    Codebooks enter as nested literals with the dot product written
    once per subspace (see clustering.d2_expr on why the unrolled
    per-codeword form is a Catalyst planning trap), gap-filled with
    zero vectors where a cid lost all members so element_at stays
    POSITIONAL — codes never reference a gap."""
    m = len(codebooks)
    dsub = dims // m
    subs = []
    for sub in range(1, m + 1):
        q = slice_expr(vec_col, sub, dsub)
        book = codebooks[sub]
        cb = sql_array([
            book.get(cid, [0.0] * dsub) for cid in range(1, max(book) + 1)
        ])
        subs.append(
            f"transform({cb}, cw -> "
            f"aggregate(zip_with({q}, cw, "
            f"(x, y) -> cast(x as double) * y), 0.0D, (a, v) -> a + v))"
        )
    return f"array({', '.join(subs)})"


def _lut_input(
    queries: DataFrame, vec_col: str, rotation: Rotation | None
) -> tuple[DataFrame, str]:
    """``with_norm(queries)`` and the column the ADC lookup table
    reads: the query vector itself, or under a rotation the rotated
    query projected once as a named column (the CollapseProject
    multiply-reference rule)."""
    q = with_norm(queries, vec_col)
    if rotation is None:
        return q, vec_col
    rq = F.expr(rotation_expr(vec_col, rotation))
    return q.withColumn("__rq", rq), "__rq"


def _rotated(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    m: int,
    n: int,
    opq: bool,
) -> tuple[Rotation | None, DataFrame]:
    """(rotation, frame the codebooks train and code on). Without
    ``opq`` that is ``frame`` itself; with it, the rotation trained on
    ``frame`` and a lazily checkpointed rotated copy — the covariance
    pass reads ``frame`` once, then training iterations and the coding
    scan read the copy without re-paying the matvec."""
    if not opq:
        return None, frame
    rotation = opq_train_rotation(frame, id_col, vec_col, dims, m,
                                  n_rows=n)
    rot = rotate_vectors(frame, rotation, vec_col)
    return rotation, rot.localCheckpoint(eager=False)


def pq_topk_with_index(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: Codebooks,
    corpus: DataFrame,
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    round_dp: int = 6,
    rotation: Rotation | None = None,
) -> DataFrame:
    """Top-k cosine via ADC over prebuilt codes + exact re-rank.

    Scan cost per corpus row: m element_at lookups + a fold (the
    compressed-domain scan); only |Q|·rerank candidate rows ever touch
    a real vector again (broadcast join, one corpus scan). Pass the
    build's ``rotation`` for an OPQ index: the lookup table then comes
    from the rotated query, the exact re-rank stays original-space."""
    q, lut_in = _lut_input(queries, vec_col, rotation)
    q = q.select(
        F.col(id_col).alias("query_id"),
        _guarded_q_norm(vec_col, dims, "pq_topk_with_index").alias(
            "q_norm"
        ),
        F.expr(_lut_expr(lut_in, codebooks, dims)).alias("lut"),
        # plain PQ reconstructs x̂ from the codewords alone: no coarse
        # term (qc = 0) — the one-cell degenerate case of the shared
        # IVFADC scorer. ‖x̂‖ comes from the small m·ksub norm-table
        # literal here; the IVF-PQ path precomputes it per row at
        # CODING time instead (its table is n_cells× bigger).
        F.lit(0.0).alias("qc"),
    )
    m = len(codebooks)
    rnorm = (
        "sqrt(aggregate(sequence(1, {m}), 0.0D, (a, s) -> "
        "a + element_at(element_at({nsq}, s), element_at(codes, s))))"
    ).format(m=m, nsq=_norm_table_sql(codebooks))
    joined = codes.crossJoin(F.broadcast(q))
    return _adc_rerank(
        joined, codebooks, queries, corpus,
        k=k, rerank=rerank, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp,
        rnorm_sql=rnorm,
    )


def _adc_rerank(
    joined: DataFrame,
    codebooks: Codebooks,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
    rnorm_sql: str,
) -> DataFrame:
    """Shared tail of the PQ query paths (plain PQ and IVF-PQ):
    ADC-score the (candidate row ⋈ query) frame, keep the top
    ``rerank`` per query, then exactly re-rank those candidates
    against the raw corpus. ``joined`` must carry
    (query_id, q_norm, lut, qc, id, codes) plus whatever columns
    ``rnorm_sql`` — the caller's SQL expression for the reconstruction
    norm ‖x̂‖ — reads: plain PQ folds the small m·ksub norm-table
    literal over `codes`; IVF-PQ reads the `rn2` column its coding
    scan precomputed (sqrt(rn2)). `qc` is the coarse-centroid dot term
    (0 for plain PQ). The candidate cut and the exact re-rank are
    `similarity.topk_per_query` and `similarity.exact_topk`, shared
    with every other vector top-k path, so no two paths can drift
    apart in tie order, rounding or zero-norm handling."""
    m = len(codebooks)
    # approx dot = qc + Σ_sub lut[sub][code_sub]; aggregate over the
    # 1..m index sequence keeps it codegen.
    adc = (
        "qc + aggregate(sequence(1, {m}), 0.0D, (a, s) -> "
        "a + element_at(element_at(lut, s), element_at(codes, s)))"
    ).format(m=m)
    scored = (
        joined.filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            # nullif: an all-zero reconstruction (‖x̂‖ = 0 is possible
            # for degenerate codebooks even after the query-norm
            # guard) yields NULL instead of an ANSI divide error;
            # NULLs sort last under desc, i.e. such rows lose the
            # candidate race rather than crashing or winning.
            (
                F.expr(f"({adc})")
                / F.expr(f"nullif(q_norm * ({rnorm_sql}), 0.0D)")
            ).alias("adc_cosine"),
        )
    )
    cands = topk_per_query(scored, "adc_cosine", rerank).select(
        "query_id", "neighbor_id"
    )
    # exact re-rank: |Q|·rerank candidate rows, broadcast against ONE
    # corpus scan; re-join the (broadcast-small) query vectors too.
    qv = pair_side(queries, "q", id_col, vec_col)
    pairs = (
        pair_side(corpus, "n", id_col, vec_col)
        .join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
    )
    return exact_topk(pairs, k, round_dp)


def _pq_build_on_base(
    corpus: DataFrame,
    m: int,
    ksub: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    dims: int,
    opq: bool,
    who: str,
) -> tuple[DataFrame, Rotation | None, Codebooks, DataFrame]:
    """:func:`pq_build` plus the validated base it ran on."""
    if dims % m:
        raise ValueError(f"{who}: dims={dims} not divisible by m={m}")
    base, _, n = checked_base(corpus, id_col, vec_col, True, who,
                               dims=dims)
    rotation, rot = _rotated(base, id_col, vec_col, dims, m, n, opq)
    books = _train_books(rot, id_col, vec_col, dims, m, ksub,
                         iterations, n, who=who)
    codes = _encode_on_base(rot, books, id_col, vec_col, dims)
    return base, rotation, books, codes


def pq_build(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    opq: bool = False,
) -> tuple[Rotation | None, Codebooks, DataFrame]:
    """Build a PQ index: (rotation, codebooks, codes). Rotation,
    codebooks and codes all come off ONE validated/checkpointed
    projection (the public pq_train + pq_encode pair each validates
    its own input; composing them would pay the checkpoint twice).
    ``opq=True`` trains an OPQ rotation (operators/opq.py) and
    quantizes in the rotated basis; otherwise the rotation is None.
    Persist with ``save_pq_index``, query with ``pq_topk_with_index``
    (the build-nightly / query-all-day split)."""
    _, rotation, books, codes = _pq_build_on_base(
        corpus, m, ksub, iterations, id_col, vec_col, dims, opq,
        "pq_build",
    )
    return rotation, books, codes


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    rerank: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    round_dp: int = 6,
    opq: bool = False,
) -> DataFrame:
    """Build + ADC + re-rank in one call (the q250 shape; q289 with
    ``opq=True``). The exact re-rank reads the build's checkpointed
    base instead of re-scanning the corpus."""
    base, rotation, books, codes = _pq_build_on_base(
        corpus, m, ksub, iterations, id_col, vec_col, dims, opq,
        "pq_ann_topk",
    )
    return pq_topk_with_index(
        queries, codes, books, base,
        k=k, rerank=rerank, id_col=id_col, vec_col=vec_col,
        dims=dims, round_dp=round_dp, rotation=rotation,
    )


def _write_codebooks(spark, codebooks: Codebooks, path: str) -> None:
    """The ONE codebook wire format (shared by the PQ and IVF-PQ
    indexes — a format change here changes both, never one)."""
    rows = [
        (sub, cid, book[cid])
        for sub, book in sorted(codebooks.items())
        for cid in sorted(book)
    ]
    spark.createDataFrame(
        rows, "sub int, cid int, codeword array<double>"
    ).write.mode("overwrite").parquet(path)


def _read_codebooks(spark, path: str) -> Codebooks:
    books: Codebooks = {}
    for r in spark.read.parquet(path).collect():
        books.setdefault(r["sub"], {})[r["cid"]] = [
            float(x) for x in r["codeword"]
        ]
    return books


def save_pq_index(
    spark,
    codebooks: Codebooks,
    codes: DataFrame,
    path: str,
    rotation: Rotation | None = None,
) -> None:
    """Persist codebooks + codes + the rotation (zero rows for none,
    so a re-save never keeps an earlier one) as parquet (build
    nightly, query all day — the save_ivf_index operational shape)."""
    save_opq_rotation(spark, rotation or [], f"{path}/rotation")
    _write_codebooks(spark, codebooks, f"{path}/codebooks")
    codes.write.mode("overwrite").parquet(f"{path}/codes")


def load_pq_index(
    spark, path: str
) -> tuple[Rotation | None, Codebooks, DataFrame]:
    """Reload a persisted PQ index in pq_build's shape; reload ≡
    rebuild is pinned in tests/test_opq.py."""
    return (
        load_opq_rotation(spark, f"{path}/rotation"),
        _read_codebooks(spark, f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
    )


def pq_reconstruction_stats(
    df: DataFrame,
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    cache: bool = True,
) -> DataFrame:
    """Per-(subspace, code) assignment census: member count + exact-
    decimal sum of squared quantization error. The training-quality
    audit a PQ deployment runs before trusting an index — and, with
    codes from :func:`pq_train`, the frame q251's DuckDB oracle
    replays end-to-end, which is what makes the joint-Lloyd trainer
    oracle-provable rather than rows-only. ONE scan (all m argmin
    structs in codegen), one explode, one m·ksub-group exchange —
    validated through `checked_base(dims=...)` like every encode
    path (a poisoned frame must fail loud, not skew the census)."""
    base, _, _ = checked_base(df, id_col, vec_col, cache,
                               "pq_reconstruction_stats", dims=dims)
    return _census_on_base(base, codebooks, vec_col, dims)


def _census_on_base(
    base: DataFrame, codebooks: Codebooks, vec_col: str, dims: int
) -> DataFrame:
    """Census scan over an already-validated base (see
    pq_reconstruction_stats)."""
    m = len(codebooks)
    sliced = subspace_slices(base, vec_col, dims, m)
    entries = ", ".join(
        f"named_struct('sub', {sub}, 'a', {assign_expr(f'__s{sub}', codebooks[sub])})"
        for sub in range(1, m + 1)
    )
    return (
        sliced.select(
            F.explode_outer(F.expr(f"array({entries})")).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .select(
            F.col("e.sub").alias("sub"),
            F.col("e.a.cid").alias("code"),
            F.col("e.a.d2").alias("d2"),
        )
        .groupBy("sub", "code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.sum("d2").cast("double"), 6).alias("sum_d2"),
        )
        .orderBy("sub", "code")
    )


def pq_train_with_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    cache: bool = True,
) -> tuple[Codebooks, DataFrame]:
    """Train codebooks AND return the post-training census off ONE
    validated/checkpointed projection — the q251 shape. Composing the
    public pq_train + pq_reconstruction_stats pays checked_base
    (checkpoint + validation aggregate) twice for the identical frame;
    this is the shared-base path, like pq_ann_topk for train+encode."""
    if dims % m:
        raise ValueError(
            f"pq_train_with_stats: dims={dims} not divisible by m={m}"
        )
    base, _, n = checked_base(df, id_col, vec_col, cache,
                               "pq_train_with_stats", dims=dims)
    books = _train_books(base, id_col, vec_col, dims, m, ksub,
                         iterations, n, who="pq_train_with_stats")
    return books, _census_on_base(base, books, vec_col, dims)


def _prepared_cells(
    cents_raw: Mapping[int, Sequence[float]]
) -> tuple[list[int], dict[int, list[float]], str, str]:
    """Derive everything the literal plans need from the RAW coarse
    centroids: (sorted cell ids, normalized centroids for cosine
    ranking, raw-centroid nested literal, raw-norm literal) — all in
    the same sorted-cell order, so the struct `pos` emitted by
    `_cell_topn_expr` indexes every table consistently. Zero-norm
    cells were dropped at build time, so the normalization is safe."""
    cells = sorted(cents_raw)
    norms = {
        c: math.sqrt(sum(float(x) * float(x) for x in cents_raw[c]))
        for c in cells
    }
    cents_norm = {
        c: [float(x) / norms[c] for x in cents_raw[c]] for c in cells
    }
    craw = sql_array([cents_raw[c] for c in cells])
    cnorm = sql_array([norms[c] for c in cells])
    return cells, cents_norm, craw, cnorm


def _cell_topn_expr(
    vec_col: str, cents_norm: Mapping[int, Sequence[float]], nprobe: int
) -> str:
    """Top-`nprobe` coarse cells by cosine, as a sliced sorted array of
    (negdot, cell, pos) structs — the centroids enter as ONE
    nested-array literal of PRE-NORMALIZED vectors (so ranking by raw
    dot equals ranking by cosine; the row's own norm is a per-row
    constant), and the dot product is written once inside the lambda.
    `pos` is the 1-based index into the sorted-cell literal tables
    (cell ids can be non-contiguous after empty-cell drops). Zero
    shuffle, no join: the kmeans literal-assignment property applied
    to the IVF coarse quantizer."""
    cells = sorted(cents_norm)
    cb = sql_array([cents_norm[c] for c in cells])
    cell_arr = sql_array(cells)
    dotq = (
        f"aggregate(zip_with({vec_col}, cw, "
        f"(x, y) -> cast(x as double) * y), 0.0D, (a, v) -> a + v)"
    )
    return (
        f"slice(array_sort(zip_with({cb}, sequence(1, {len(cells)}), "
        f"(cw, i) -> named_struct('nd', -({dotq}), "
        f"'cell', element_at({cell_arr}, i), 'pos', i))), 1, {nprobe})"
    )


def _ivfpq_norm3_sql(
    cents_raw: Mapping[int, Sequence[float]],
    books: Codebooks,
    dims: int,
) -> str:
    """IVFADC reconstruction-norm table as ONE nested literal:
    rn[pos][sub][code] = ‖(c_cell)_sub + codeword(sub, code)‖², the
    per-subspace squared norm of the residual reconstruction
    x̂ = c_cell + r̂. n_cells·m·ksub doubles computed driver-side from
    already-collected state — a fully-literal CreateArray constant-
    folds to a single array literal, so plan cost is parse-once.
    Gap codes (codewords that lost all members) pad with ‖c_sub‖²
    (codeword = 0) to stay positional; codes never reference them."""
    m = len(books)
    dsub = dims // m
    per_cell = []
    for cell in sorted(cents_raw):
        c = [float(x) for x in cents_raw[cell]]
        subs = []
        for sub in range(1, m + 1):
            sl = c[(sub - 1) * dsub:(sub - 1) * dsub + dsub]
            book = books[sub]
            subs.append([
                sum((x + w) * (x + w) for x, w in zip(sl, book[cid]))
                if cid in book else sum(x * x for x in sl)
                for cid in range(1, max(book) + 1)
            ])
        per_cell.append(subs)
    return sql_array(per_cell)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 32,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 1,
    rerank: int = 150,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    round_dp: int = 6,
    opq: bool = False,
) -> DataFrame:
    """IVF-PQ: the composed production ANN architecture (the IVFADC
    form of Jégou et al., public literature) — coarse inverted-file
    cells restrict WHICH rows are scored, RESIDUAL-trained PQ codes
    make scoring each of them cheap, and a small exact re-rank
    restores precision.

    100-TB shape: the coarse quantizer is trained by the existing
    ivf_build_index Lloyd refinement, then its n_cells centroids are
    collected (bounded) into literals, so the corpus-side build is ONE
    zero-shuffle codegen scan emitting (id, cell, residual) — no
    window, no join (plain IVF pays a per-row rank window for the same
    assignment). PQ codebooks are trained ON the residuals (vector
    minus its cell centroid — the codebooks spend their whole budget
    on within-cell geometry, the measured recall lever vs quantizing
    raw vectors), and the codes come off the same checkpointed
    residual scan. Queries explode to nprobe (query, cell) rows and
    broadcast-join the coded corpus on cell: each probed row costs m
    lookups + a fold instead of a d-term dot product, with the coarse
    term <q, c_cell> and the reconstruction norm restored from
    bounded literal tables, so the scan floor is nprobe/n_cells of
    the corpus in the COMPRESSED domain. Exact re-rank = |Q|·rerank
    rows broadcast against one corpus scan (the pq_topk_with_index
    tail). ``opq=True`` adds an OPQ rotation of the residuals (the
    q290 shape, see ivfpq_build)."""
    cents_raw, rotation, books, coded = ivfpq_build(
        corpus,
        n_cells=n_cells,
        m=m,
        ksub=ksub,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
        dims=dims,
        opq=opq,
    )
    return ivfpq_topk_with_index(
        queries, cents_raw, books, coded, corpus,
        k=k, nprobe=nprobe, rerank=rerank,
        id_col=id_col, vec_col=vec_col, dims=dims, round_dp=round_dp,
        rotation=rotation,
    )


def ivfpq_build(
    corpus: DataFrame,
    n_cells: int = 32,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    opq: bool = False,
) -> tuple[RawCells, Rotation | None, Codebooks, DataFrame]:
    """The EXPENSIVE phase of IVF-PQ: coarse quantizer training, ONE
    zero-shuffle codegen scan producing the checkpointed
    (id, cell, residual) frame, residual PQ codebook training over it,
    and the coded corpus (id, cell, codes) off the same frame.
    Returns (RAW centroids, rotation, codebooks, coded corpus); persist
    with ``save_ivfpq_index`` so query batches reuse the index (the
    build-nightly / query-all-day shape).

    ``opq=True`` trains an OPQ rotation on the RESIDUALS — what the
    codebooks actually quantize (rotating raw vectors would optimize
    the wrong covariance: the coarse quantizer has already absorbed
    the between-cell structure) — with one bounded covariance pass;
    the matvec fuses into the residual projection, so coding stays ONE
    zero-shuffle scan. Without it the rotation is None.

    The input is validated/checkpointed once via `checked_base`
    (fail-loud on ragged/NULL/wrong-dims vectors — a poisoned vector
    would otherwise encode silently) and that base feeds BOTH the
    coarse Lloyd refinement and the residual scan. The residual frame
    is lazily checkpointed: Lloyd training iterations and the coding
    scan all read it, so the n·d subtraction + n_cells·d argmax per
    row is paid once, not per scan (same space class as the base
    projection checkpoint every trainer already keeps)."""
    if dims % m:
        raise ValueError(
            f"ivfpq_build: dims={dims} not divisible by m={m}"
        )
    from .similarity import ivf_build_index

    base, _, n = checked_base(corpus, id_col, vec_col, True,
                               "ivfpq_build", dims=dims)
    cents, _ = ivf_build_index(
        base, n_cells=n_cells, id_col=id_col, vec_col=vec_col, n_rows=n,
        assignments=False,
    )
    cents_raw: RawCells = {
        int(r["cell"]): [float(x) for x in r["c_vec"]]
        for r in cents.collect()
        if float(r["c_norm"]) > 0
    }
    resid = _residual_frame(base, cents_raw, id_col, vec_col)
    resid = resid.localCheckpoint(eager=False)
    rotation, rot = _rotated(resid, "id", "rvec", dims, m, n, opq)
    books = _train_books(rot, "id", "rvec", dims, m, ksub,
                         iterations, n, who="ivfpq_build")
    coded = _codes_from_resid(rot, books, dims, cents_raw, rotation)
    return cents_raw, rotation, books, coded


def _residual_frame(
    base: DataFrame,
    cents_raw: Mapping[int, Sequence[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, rvec): ONE scan of a validated base — coarse cell
    (literal argmax over normalized centroids) + residual vs the RAW
    centroid, all codegen, zero shuffle. The top-1 struct is projected
    once and referenced twice (cell, pos): a multiply-referenced alias
    stays single-eval."""
    _, cents_norm, craw, _ = _prepared_cells(cents_raw)
    top1 = f"element_at({_cell_topn_expr(vec_col, cents_norm, 1)}, 1)"
    return base.select(
        F.col(id_col).alias("id"),
        F.col(vec_col),
        F.expr(top1).alias("__a"),
    ).select(
        "id",
        F.col("__a.cell").alias("cell"),
        F.col("__a.pos").alias("pos"),
        F.expr(
            f"zip_with({vec_col}, element_at({craw}, __a.pos), "
            f"(x, c) -> cast(x as double) - c)"
        ).alias("rvec"),
    )


def _codes_from_resid(
    resid: DataFrame,
    books: Codebooks,
    dims: int,
    cents_raw: Mapping[int, Sequence[float]],
    rotation: Rotation | None,
) -> DataFrame:
    """(id, cell, codes, rn2) off a residual frame whose ``rvec`` is in
    the codebooks' basis (rotated when ``rotation`` is given) — pure
    codegen argmins against the codebook literals, zero shuffle. The
    ONE coding path: ivfpq_build and ivfpq_encode_with_index both call
    it, so their codes and norms cannot drift apart. `rn2` is the
    reconstruction norm² ‖c_cell + r̂‖², a pure function of
    (cell, codes), PRECOMPUTED here and stored in the index (8 bytes
    per row) so the ADC query scan reads a column instead of folding
    the n_cells·m·ksub norm-table literal — that table is plan text,
    and re-parsing ~16k double literals per query plan measurably
    costs driver time at m=16/ksub=32 (the q254 dial); amortizing it
    into the one-time coding scan is the FAISS store-the-norm shape."""
    m = len(books)
    sliced = subspace_slices(resid, "rvec", dims, m, "id", "cell", "pos")
    # the norm table wants the centroids in the codebooks' basis:
    # ‖c + Rᵀr̂‖ = ‖Rc + r̂‖
    norm_cents = cents_raw if rotation is None else {
        cell: [sum(r * x for r, x in zip(row, vec)) for row in rotation]
        for cell, vec in cents_raw.items()
    }
    norm3 = _ivfpq_norm3_sql(norm_cents, books, dims)
    rn2 = (
        "aggregate(sequence(1, {m}), 0.0D, (a, s) -> "
        "a + element_at(element_at(element_at({nsq}, pos), s), "
        "element_at(codes, s)))"
    ).format(m=m, nsq=norm3)
    return sliced.select("id", "cell", "pos", _codes_col(books)).select(
        "id", "cell", "codes", F.expr(rn2).alias("rn2")
    )


def ivfpq_encode_with_index(
    df: DataFrame,
    cents_raw: Mapping[int, Sequence[float]],
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    cache: bool = False,
    rotation: Rotation | None = None,
) -> DataFrame:
    """Code rows against an EXISTING index (no retraining): the
    incremental-ingest primitive — cell assignment, residual, and PQ
    codes are a pure per-row function of (centroids, rotation,
    codebooks), so new batches encode in ONE zero-shuffle codegen scan
    and the result is bit-identical to what ivfpq_build would have
    produced for the same rows (pinned in tests/test_similarity.py,
    plain and OPQ). Pass the build's ``rotation`` for an OPQ index:
    the residuals are then rotated into the codebooks' basis.
    Validation runs through `checked_base(dims=...)` like every encode
    path."""
    if dims % len(books):
        raise ValueError(
            f"ivfpq_encode_with_index: dims={dims} not divisible by "
            f"m={len(books)}"
        )
    base, _, _ = checked_base(df, id_col, vec_col, cache,
                               "ivfpq_encode_with_index", dims=dims)
    resid = _residual_frame(base, cents_raw, id_col, vec_col)
    if rotation is not None:
        resid = rotate_vectors(resid, rotation, "rvec")
    return _codes_from_resid(resid, books, dims, cents_raw, rotation)


def ivfpq_index_append(
    coded: DataFrame,
    new_rows: DataFrame,
    cents_raw: Mapping[int, Sequence[float]],
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    rotation: Rotation | None = None,
) -> DataFrame:
    """Append a batch to a built IVF-PQ index WITHOUT retraining —
    the build-nightly / append-hourly operational shape: quantizer
    quality drifts only as the data distribution drifts, so
    deployments append between (re)builds. Pass the build's
    ``rotation`` for an OPQ index. Returns the new coded corpus;
    persist with save_ivfpq_index. (The plain-PQ equivalent is just
    ``codes.union(pq_encode(new, books))`` — no cell axis.)"""
    return coded.unionByName(
        ivfpq_encode_with_index(
            new_rows, cents_raw, books, id_col, vec_col, dims,
            rotation=rotation,
        )
    )


def ivfpq_index_delete(
    coded: DataFrame, ids: DataFrame | Sequence[int]
) -> DataFrame:
    """Tombstone-delete rows from a coded corpus — the takedown /
    right-to-be-forgotten primitive: ANN indexes must drop documents
    without a rebuild. A bounded Python list filters inline (no
    shuffle); a DataFrame of ids anti-joins (broadcast when small).
    Codes of surviving rows are untouched, so delete-then-query needs
    no requantization."""
    if isinstance(ids, DataFrame):
        if len(ids.columns) != 1:
            raise ValueError(
                f"ivfpq_index_delete: takedown frame must have exactly "
                f"one id column, got {ids.columns} — select the id "
                f"column explicitly (a silent wrong-column anti-join "
                f"would no-op the delete)"
            )
        victims = ids.select(F.col(ids.columns[0]).alias("id"))
        return coded.join(F.broadcast(victims), "id", "left_anti")
    if len(ids) == 0:
        return coded
    return coded.filter(~F.col("id").isin(*[int(i) for i in ids]))


def save_ivfpq_index(
    spark,
    cents_raw: Mapping[int, Sequence[float]],
    codebooks: Codebooks,
    coded: DataFrame,
    path: str,
    rotation: Rotation | None = None,
) -> None:
    """Persist an IVF-PQ index (RAW coarse centroids + the rotation,
    zero rows for none + residual PQ codebooks + coded corpus) as
    parquet. Raw centroids are the wire format: normalized ranking
    vectors and norms are derived from them deterministically on
    load."""
    spark.createDataFrame(
        [(c, list(v)) for c, v in sorted(cents_raw.items())],
        "cell int, c_vec array<double>",
    ).write.mode("overwrite").parquet(f"{path}/cells")
    save_opq_rotation(spark, rotation or [], f"{path}/rotation")
    _write_codebooks(spark, codebooks, f"{path}/codebooks")
    coded.write.mode("overwrite").parquet(f"{path}/coded")


def load_ivfpq_index(
    spark, path: str
) -> tuple[RawCells, Rotation | None, Codebooks, DataFrame]:
    """Reload a persisted IVF-PQ index in ivfpq_build's shape; reload
    ≡ rebuild is pinned in tests/test_opq.py."""
    cents_raw = {
        int(r["cell"]): [float(x) for x in r["c_vec"]]
        for r in spark.read.parquet(f"{path}/cells").collect()
    }
    return (
        cents_raw,
        load_opq_rotation(spark, f"{path}/rotation"),
        _read_codebooks(spark, f"{path}/codebooks"),
        spark.read.parquet(f"{path}/coded"),
    )


def ivfpq_topk_with_index(
    queries: DataFrame,
    cents_raw: Mapping[int, Sequence[float]],
    books: Codebooks,
    coded: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 8,
    rerank: int = 150,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    round_dp: int = 6,
    rotation: Rotation | None = None,
) -> DataFrame:
    """Top-k against a prebuilt (possibly reloaded) IVF-PQ index.

    IVFADC scoring: codes quantize residuals, so the approximate dot
    decomposes as <q, x̂> = <q, c_cell> + Σ_sub lut[sub][code] with
    lut built from the residual codebooks, and ‖x̂‖ is the `rn2`
    column the coding scan precomputed (see _codes_from_resid).
    <q, c_cell> falls out of the probe ranking for free: the probe
    sorts by the normalized-centroid dot, so the raw dot is that
    value times the (literal) raw norm.

    With the build's ``rotation`` the probe and <q, c_cell> stay in
    the ORIGINAL space (the rotation never touches the coarse
    quantizer) while the lut comes from the rotated query against the
    rotated-residual codebooks; rn2 was coded with rotated centroids,
    so <q, x̂> = <q, c> + <Rq, r̂> holds up to the 6-dp rounding of R,
    which only perturbs candidate order (the re-rank is exact)."""
    _, cents_norm, _, cnorm = _prepared_cells(cents_raw)
    q, lut_in = _lut_input(queries, vec_col, rotation)
    q = q.select(
        F.col(id_col).alias("query_id"),
        _guarded_q_norm(vec_col, dims, "ivfpq_topk_with_index").alias(
            "q_norm"
        ),
        F.expr(_lut_expr(lut_in, books, dims)).alias("lut"),
        F.explode(
            F.expr(_cell_topn_expr(vec_col, cents_norm, nprobe))
        ).alias("p"),
    ).select(
        "query_id",
        "q_norm",
        "lut",
        F.col("p.cell").alias("cell"),
        # nd = -<q, c/‖c‖>  ⇒  <q, c_raw> = -nd · ‖c_raw‖
        (-F.col("p.nd") * F.expr(f"element_at({cnorm}, p.pos)")).alias(
            "qc"
        ),
    )
    # no dedup needed on the cell join: each corpus row lives in
    # exactly ONE cell, so a (query, row) pair matches at most one
    # probed cell — a dropDuplicates would be a pure extra shuffle
    joined = coded.join(F.broadcast(q), "cell")
    return _adc_rerank(
        joined, books, queries, corpus,
        k=k, rerank=rerank, id_col=id_col, vec_col=vec_col,
        round_dp=round_dp,
        rnorm_sql="sqrt(rn2)",
    )
