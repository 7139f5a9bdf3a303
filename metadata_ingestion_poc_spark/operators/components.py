"""Connected components over an edge list (dedup clustering).

Near-duplicate detection produces PAIRS; deduplication needs CLUSTERS
(pick one canonical doc per component). Default algorithm is the
alternating large-star / small-star contraction of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC'14):

- large-star: every node points its strictly-larger neighbors at the
  minimum of its closed neighborhood;
- small-star: every node points its not-larger neighbors (and itself)
  at that minimum.

Each round is two groupBy-join passes; the edge set contracts toward
a star per component in O(log n) rounds — on a chain graph of length
L, min-label propagation needs ~L rounds, star contraction ~log L
(pinned by tests/test_components.py).

Spark-specific essentials for ANY iterative algorithm here:
- each round must cut lineage or the plan doubles per round and the
  driver dies planning round 15;
- `localCheckpoint` (default) stores blocks on executors — fast, but
  an executor loss kills the cached lineage mid-job. For long cluster
  runs pass ``reliable=True`` (uses `df.checkpoint()` to the
  fault-tolerant checkpoint dir, which ``setCheckpointDir`` sets).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import cut, cut_lazy, parallelism


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive fingerprint of an edge set (count, hash-sum)."""
    # decimal sum: a long sum of 64-bit hashes overflows under ANSI mode
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _shrinker(edges: DataFrame, n_edges: int):
    """Partition-count clamp for the iterative loop, sized from the
    MATERIALIZED edge count (free — the convergence checksum already
    paid for it).

    Contraction rounds are latency-bound, not throughput-bound: on a
    small or rapidly-contracting edge set, every round's groupBys
    schedule `shuffle.partitions` tasks to move a few kilobytes, and
    the per-round fixed cost dominates the whole computation (the
    convergence loop cannot pipeline across rounds — each needs its
    checksum action). Clamping to ~500k edges per partition turns
    those rounds into one-or-two-task stages. At real scale the clamp
    computes a partition count ≥ the cluster width and becomes the
    identity — the normal wide path is untouched.
    """
    p = max(1, -(-n_edges // 500_000))
    if p >= parallelism(edges.sparkSession):
        return lambda df: df
    return lambda df: df.coalesce(p)


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min of u's closed nbhd.

    Operates on the symmetric edge list; emits edges oriented from the
    larger endpoint to the neighborhood minimum.
    """
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("nmin"))
    return (
        sym.join(nbr_min, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("nmin")).alias("v"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v <= u plus u itself, m = nbhd min.

    Operates on edges oriented toward the larger endpoint (u >= v).
    """
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    nbr_min = oriented.groupBy("u").agg(F.min("v").alias("nmin"))
    with_min = oriented.join(nbr_min, "u")
    # every small neighbor points at the min, and u itself points at it
    out = with_min.select(F.col("v").alias("u"), F.col("nmin").alias("v")).unionByName(
        with_min.select(F.col("u"), F.col("nmin").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "star",
    reliable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Label each node with the MIN node id reachable from it.

    Returns (node, component). Only nodes present in the edge list are
    labeled (callers union in singletons if they want them).

    algorithm: "star" (large-star/small-star contraction, O(log n)
    rounds — default) or "propagation" (min-label propagation, rounds =
    diameter; kept for differential testing). reliable=True switches
    lineage cuts from localCheckpoint to fault-tolerant checkpoint()
    (requires a checkpoint dir). stats, if given, receives
    {"rounds": k} for observability and tests.
    """
    e0 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if algorithm == "star":
        labels = _cc_star(e0, max_iter, reliable, stats)
    elif algorithm == "propagation":
        labels = _cc_propagation(e0, max_iter, reliable, stats)
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    return labels


def _cc_star(
    e0: DataFrame, max_iter: int, reliable: bool, stats: dict | None
) -> DataFrame:
    # materialize once: the edge list may be an expensive upstream plan
    # (e.g. the n-gram Jaccard pipeline) that every round re-joins.
    edges = cut(e0, reliable)
    all_nodes = cut(
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct(),
        reliable,
    )

    prev = _edge_checksum(edges)
    shrink = _shrinker(edges, prev[0])
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # lazy cut + checksum = one driver action per round: the
        # fingerprint scan is what materializes the checkpoint blocks.
        edges = cut_lazy(shrink(_small_star(_large_star(edges))), reliable)
        rounds += 1
        cur = _edge_checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"connected_components(star) hit max_iter={max_iter} before the "
            "edge set reached a fixed point; labels may be wrong. "
            "Raise max_iter.",
            stacklevel=3,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged

    # converged edge set is a star per component: every non-root node
    # has exactly one out-edge to the component min.
    root_of = edges.groupBy("u").agg(F.min("v").alias("component"))
    return all_nodes.join(
        root_of, all_nodes.node == root_of.u, "left"
    ).select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def _cc_propagation(
    e0: DataFrame, max_iter: int, reliable: bool, stats: dict | None
) -> DataFrame:
    sym = cut(
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct(),
        reliable,
    )
    labels = cut(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        reliable,
    )
    def _label_sum(df: DataFrame):
        # decimal sum: a long sum of 64-bit node ids overflows under
        # ANSI mode (same reason _edge_checksum casts).
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).first()[0]

    prev_sum = _label_sum(labels)
    shrink = _shrinker(sym, sym.count())
    rounds = 0
    converged = False

    def _step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym.v == lbl.node)
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        return (
            lbl.join(neighbor_min, lbl.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
        )

    # TWO propagation steps per convergence probe (round 14): the loop
    # is latency-bound — each driver action costs a fixed scheduling /
    # AQE round-trip that dwarfs the per-round data work — and min-
    # label propagation is idempotent at its fixed point, so a step
    # applied after convergence is a no-op and the final labels are
    # identical; the probe cadence only trades (at most) one wasted
    # cheap step for half the driver round-trips. `rounds` still
    # counts steps actually applied — NOTE the 2-step cadence makes it
    # always even and it can overstate the true convergence round by
    # exactly one (the post-fixed-point no-op step is counted); it is
    # an observability upper bound, not the minimal round count.
    while rounds < max_iter:
        steps = min(2, max_iter - rounds)
        labels_next = labels
        for _ in range(steps):
            labels_next = _step(labels_next)
        labels = cut_lazy(shrink(labels_next), reliable)
        rounds += steps
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        warnings.warn(
            f"connected_components(propagation) hit max_iter={max_iter} "
            "before labels stabilized; labels may be wrong. Raise max_iter "
            "or use algorithm='star'.",
            stacklevel=3,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    return labels
