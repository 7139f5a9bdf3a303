"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The classic LLM-curation clustering primitive (topic bucketing,
SemDeDup-style cluster-then-collapse, mixture balancing). Built
Spark-first for the 100-TB shape:

- **Assignment is pure codegen, zero shuffle.** The k centroids are
  tiny by definition (k·d doubles), so each iteration bakes them into
  the plan as SQL array literals — one ``array(named_struct(d2, cid))``
  argmin expression per row, no join, no explode, no Python. (A
  centroid JOIN would broadcast anyway; the literal form also keeps
  every iteration's plan flat — see lineage note below.)
- **The update step is ONE narrow exchange per iteration**
  (`lloyd_train`, the joint trainer product quantization also runs;
  k-means is its one-subspace case). ``groupBy(cluster) . agg(d
  per-dim decimal sums + count)`` has k groups, so map-side partial
  aggregation reduces each of the N input partitions to ≤ k·(d+1)
  values before the shuffle; the exchange carries kilobytes at any
  data scale.
- **No lineage growth.** Each round collects the k·(d+1) update row
  (bounded by construction — k rows) and re-creates the next
  centroids as literals, so iteration t+1's plan reads the
  checkpointed input + literals; it never references iteration t's
  plan. This is strictly stronger than the per-round localCheckpoint
  discipline the iterative graph operators use (graph.py:234) —
  there is nothing to truncate.
- The projected (id, vector) input is localCheckpointed once so the
  T iterations scan a compact columnar copy instead of re-running the
  upstream plan T times. At cluster scale, callers with hot storage
  can pass ``cache=False`` and let the scans hit the source.

Cross-engine determinism (the DuckDB-oracle contract used by
q242/q247):

- Every per-dimension squared difference is rounded at 6 dp and
  summed in DECIMAL(28,6) — decimal addition is associative, so the
  distance is the identical exact value on any engine and any
  partitioning (functions/determinism.py discipline).
- Assignment ties (equal rounded distance) break on the lower
  cluster id via struct-ordered ``array_min``; seed selection orders
  by a deterministic integer hash with the id as tiebreak. Both are
  total orders, so the trajectory is engine-independent.
- New centroid coordinates are ``HALF_UP(round(sum/count, 6))``
  (Python ``round()`` is banker's — literal_row's audited rounding),
  matching SQL ``ROUND(CAST(SUM(decimal) AS DOUBLE)/COUNT, 6)``.
- A cluster that loses every member simply drops out (k shrinks);
  both engines' group-by semantics agree on this contract.

Reference parity: the reference engine (a 249-LoC ingestion POC) has
no clustering surface; this operator is part of the [EXT] analytics
surface SURVEY.md §2 scopes for training-data curation.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import checked_base, spread
from ..functions.determinism import DEC, half_up, sql_array

HASH_MULT = 2654435761  # Knuth multiplicative hash (public constant)
HASH_MOD = 2147483647

Codebooks = dict[int, dict[int, list[float]]]  # sub -> cid -> codeword


def d2_expr(vec_expr: str, cw: str) -> str:
    """Exact-decimal squared distance between two array expressions
    (``cw`` is usually the lambda variable over a codeword literal):
    each term rounded at 6 dp, decimal-summed in array order
    (associative, so order is irrelevant to the value).

    Written ONCE inside a lambda over ONE nested-array literal: the
    per-centroid-unrolled form (k separate aggregate expressions)
    builds thousands of Catalyst nodes at k=8·d=64 and pays seconds of
    analysis + codegen per Lloyd round; the lambda form is ~50 nodes
    for identical arithmetic."""
    return (
        f"aggregate(zip_with({vec_expr}, {cw}, "
        f"(x, y) -> round((cast(x as double) - y) * (cast(x as double) - y), 6)), "
        f"cast(0 as decimal(28,6)), "
        f"(acc, v) -> cast(acc + cast(v as decimal(28,6)) as decimal(28,6)))"
    )


def _struct_dists_expr(
    vec_col: str, centroids: Mapping[int, Sequence[float]]
) -> str:
    """Array of (d2, cid) structs over all centroids in ascending-cid
    order — the shared core of the argmin and nearest-two forms.
    ``vec_col`` should be a plain projected column (it is referenced
    once per centroid inside the lambda — the CollapseProject lesson),
    not an inline slice()."""
    cids = sorted(centroids)
    return (
        f"zip_with({sql_array([centroids[c] for c in cids])}, "
        f"sequence(1, {len(cids)}), "
        f"(cw, i) -> named_struct('d2', {d2_expr(vec_col, 'cw')}, "
        f"'cid', element_at({sql_array(cids)}, i)))"
    )


def assign_expr(
    vec_col: str, centroids: Mapping[int, Sequence[float]]
) -> str:
    """argmin_{cid} dist²(vec, centroid_cid) as a struct (d2, cid):
    struct comparison orders by d2 first, then cid — a total order,
    so ties break deterministically on the lower cluster id."""
    return f"array_min({_struct_dists_expr(vec_col, centroids)})"


def nearest_two_expr(
    vec_col: str, centroids: Mapping[int, Sequence[float]]
) -> str:
    """Sorted array of (d2, cid) structs over all centroids — element 1
    is the assigned centroid, element 2 the runner-up (silhouette's
    `b`). Same total order as the argmin: (exact decimal d2, cid)."""
    return f"array_sort({_struct_dists_expr(vec_col, centroids)})"


def slice_expr(vec_col: str, sub: int, dsub: int) -> str:
    """1-based contiguous slice of subspace `sub` (1..m)."""
    return f"slice({vec_col}, {(sub - 1) * dsub + 1}, {dsub})"


def subspace_slices(
    frame: DataFrame, vec_col: str, dims: int, m: int, *keep
) -> DataFrame:
    """``keep`` plus the m subspace slices of ``vec_col`` as columns
    ``__s1..__sm``. Projected ONCE as named columns: each is
    referenced once per codeword inside its argmin lambda, and a
    multiply-referenced alias stays single-eval (CollapseProject),
    where an inline slice() would re-copy per codeword."""
    dsub = dims // m
    return frame.select(
        *keep,
        *[
            F.expr(slice_expr(vec_col, sub, dsub)).alias(f"__s{sub}")
            for sub in range(1, m + 1)
        ],
    )


def seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> dict[int, list[float]]:
    """Deterministic spread seeds: the k rows with the smallest
    multiplicative-hash of the id (id as tiebreak), numbered 1..k in
    that order. Bounded collect: exactly k rows."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(
            # reduce the id FIRST so the product stays < MOD*MULT ≈
            # 5.7e18 < 2^63: a raw id above ~3.5e9 (routine at corpus
            # scale) would overflow the int64 multiply — silent wrap
            # in Spark, out-of-range error in the SQL twin. Equal to
            # (id*MULT) % MOD for every id by modular arithmetic.
            ((F.col(id_col) % F.lit(HASH_MOD)) * F.lit(HASH_MULT))
            % F.lit(HASH_MOD),
            F.col(id_col),
        )
        .limit(k)
        .collect()
    )
    return {
        i + 1: [float(x) for x in r[vec_col]] for i, r in enumerate(rows)
    }


def lloyd_train(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    m: int,
    k: int,
    iterations: int,
) -> Codebooks:
    """Lloyd's over the m contiguous subspaces of an already-validated
    base (the `checked_base` output), run JOINTLY: k-means is m = 1,
    product quantization m > 1. Returns sub -> cid -> 6-dp codeword.

    Seeds are the k lowest-id-hash vectors (`seed_centroids`), sliced
    — fewer than k rows seed fewer clusters. Each iteration is ONE
    scan computing all m argmins in codegen, one explode to
    (sub, code, slice) rows and ONE m·k-group exchange behind map-side
    combine (dsub decimal sums + a count per group — kilobytes at any
    scale), then a bounded m·k-row collect re-literalized as the next
    codewords ``HALF_UP(round(sum/count, 6))``, so plans stay flat with
    no lineage. A codeword that loses every member drops out."""
    dsub = dims // m
    seeds = seed_centroids(base, id_col, vec_col, k)
    books: Codebooks = {
        sub: {
            cid: vec[(sub - 1) * dsub:(sub - 1) * dsub + dsub]
            for cid, vec in seeds.items()
        }
        for sub in range(1, m + 1)
    }
    sliced = subspace_slices(base, vec_col, dims, m)
    for _ in range(iterations):
        entries = ", ".join(
            f"named_struct('sub', {sub}, "
            f"'code', {assign_expr(f'__s{sub}', books[sub])}.cid, "
            f"'sl', __s{sub})"
            for sub in range(1, m + 1)
        )
        upd = (
            sliced.select(
                F.explode_outer(F.expr(f"array({entries})")).alias("e")
            )
            .filter(F.col("e").isNotNull())
            .groupBy(
                F.col("e.sub").alias("sub"), F.col("e.code").alias("code")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        F.element_at(F.col("e.sl"), i)
                        .cast("double")
                        .cast(DEC)
                    ).alias(f"s{i}")
                    for i in range(1, dsub + 1)
                ],
            )
            .collect()
        )
        books = {sub: {} for sub in range(1, m + 1)}
        for r in upd:
            books[r["sub"]][r["code"]] = [
                half_up(float(r[f"s{i}"]) / r["n"], 6)
                for i in range(1, dsub + 1)
            ]
    return books


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    cache: bool = True,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Run ``iterations`` Lloyd update rounds from the deterministic
    seeds (`lloyd_train` with one subspace), then assign every row to
    its final centroid.

    Returns ``(assigned, centroids)`` where ``assigned`` is the input
    frame plus ``cluster_id`` (int) and ``d2`` (DECIMAL(28,6) exact
    squared distance to the assigned centroid), and ``centroids`` maps
    cluster id -> list of 6-dp double coordinates after the last
    update. Clusters that lose all members drop out of both.
    """
    base, dims, _ = checked_base(df, id_col, vec_col, cache, "kmeans_lloyd")
    centroids = lloyd_train(base, id_col, vec_col, dims, 1, k, iterations)[1]
    choice = assign_expr(vec_col, centroids)
    # spread the FINAL assignment scan too: it runs over the caller's
    # original frame (all columns), which for a small parquet is one
    # split — the k·d-literal distance expression is the CPU floor of
    # the whole operator and must use every core.
    assigned = spread(df).withColumn("__choice", F.expr(choice)).select(
        "*",
        F.col("__choice").getField("cid").alias("cluster_id"),
        F.col("__choice").getField("d2").alias("d2"),
    ).drop("__choice")
    return assigned, centroids


def kcenter_greedy(
    df: DataFrame, id_col: str, vec_col: str, k: int, cache: bool = True
) -> list[tuple[int, int, object]]:
    """Gonzalez farthest-point traversal: the k-center coreset /
    diversity-sampling primitive (pick the point farthest from every
    already-chosen center, k times). The selection order doubles as a
    coverage-radius curve — radius2[r] is the exact squared distance
    that made pick r the argmax, i.e. how badly covered the corpus
    still was before it.

    100-TB shape: round r is ONE scan computing min over r LITERAL
    seed distances (same codegen-only discipline as the k-means
    assignment — no join, no shuffle) followed by a top-1 reduction
    (per-partition max + k-way driver merge, never a sort). Plans are
    STATELESS — every round rebuilds from literals, so nothing
    accumulates: no checkpoints, no growing lineage, O(k²·d) work per
    row total (k is small by definition).

    Determinism: distances are the exact-decimal d2 of `d2_expr`;
    the argmax total order is (md2 DESC, id ASC); the first seed is
    the minimum id; already-chosen ids are excluded, so a duplicate
    VECTOR can still be picked (under a distinct id, with radius 0)
    but an id never repeats, and fewer than k rows truncates the
    traversal identically on both engines. Returns
    [(sel_rank, id, radius2)], radius2 None for the first seed
    (nothing to be far from yet). ``cache`` localCheckpoints the
    projected input once so the k rounds scan a compact copy instead
    of re-executing an expensive upstream plan per round.
    """
    base, _, _ = checked_base(df, id_col, vec_col, cache, "kcenter_greedy")
    first = base.orderBy(id_col).limit(1).collect()
    chosen: dict[int, list[float]] = {
        int(first[0][id_col]): [float(x) for x in first[0][vec_col]]
    }
    out: list[tuple[int, int, object]] = [(1, int(first[0][id_col]), None)]
    for r in range(2, k + 1):
        # min over the literal seeds in ONE nested-literal transform
        # (the d2_expr codegen-size rationale); decimal min is
        # order-independent, so this equals the unrolled least()
        md2 = (
            f"array_min(transform({sql_array(list(chosen.values()))}, "
            f"cw -> {d2_expr(vec_col, 'cw')}))"
        )
        top = (
            base.filter(~F.col(id_col).isin(*chosen.keys()))
            .withColumn("__md2", F.expr(md2))
            .orderBy(F.col("__md2").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not top:
            break  # fewer than k ROWS remain (ids never repeat)
        row = top[0]
        chosen[int(row[id_col])] = [float(x) for x in row[vec_col]]
        out.append((r, int(row[id_col]), row["__md2"]))
    return out
