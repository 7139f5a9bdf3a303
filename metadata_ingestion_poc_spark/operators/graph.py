"""Breadth-first search over an edge list: minimum hop distance.

Companion to operators/components.py (connected components): where
components answers "which docs form one near-dup cluster", BFS answers
"how far is everything from a seed set" — contamination blast-radius
("every doc within 2 near-dup hops of a benchmark doc"), graph-radius
diagnostics, seed-expansion sampling.

Iterative-Spark essentials (same rules as components.py):

- the frontier/visited DataFrames must cut lineage every round or the
  plan doubles per round (``localCheckpoint`` default, ``reliable=True``
  for fault-tolerant ``checkpoint()`` on long cluster runs);
- one driver action per round (the frontier count doubles as both the
  convergence probe and the checkpoint materializer);
- the visited set joins as ``left_anti`` against the new frontier —
  a hash join on node id, never a collected-to-driver set.

Cost: Σ_rounds |frontier ⋈ edges| — each edge is traversed at most
twice overall (once per endpoint entering the frontier), so total work
is O(E + V) spread over ``diameter`` rounds, each a plain shuffle
join. On a 100 TB near-dup graph the edge list is the big side and is
partitioned by ``u`` once up front so every round's join reuses the
same shuffle layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import cut, cut_lazy
from ..functions.determinism import half_up

# decimal type for order-independent rank-contribution sums: values
# are < 1, so 10 integer digits is ample, and 18 fractional digits
# out-resolve the 12-dp rank rounding by a wide margin
_CONTRIB_DEC = "decimal(28,18)"


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    reliable: bool = False,
) -> DataFrame:
    """Minimum hop count from ``seeds`` for every node within
    ``max_hops``, over an UNDIRECTED edge list.

    edges: columns ``u``, ``v`` (each pair in either or both
    orientations — symmetrized internally). seeds: column ``node``.
    Returns (node, hops) with hops in [0, max_hops]; unreachable nodes
    are absent. Seed rows are deduplicated.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    # Symmetrize, dedup, and lay out by source endpoint in ONE
    # exchange: repartition("u") hash-clusters by u, which also
    # satisfies the (u, v) clustering the distinct aggregate needs —
    # Catalyst inserts no second shuffle — and every round's frontier
    # join then reuses this layout.
    sym = cut(
        edges.select("u", "v")
        .unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u")
        .distinct(),
        reliable,
    )

    visited = cut(
        seeds.select("node").distinct().withColumn("hops", F.lit(0)),
        reliable,
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = cut_lazy(
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(hop)),
            reliable,
        )
        if nxt.count() == 0:  # materializes the checkpoint too
            break
        # lazy: the next round's count (or the caller's first action)
        # materializes it — no dedicated job per round
        visited = cut_lazy(visited.unionByName(nxt), reliable)
        frontier = nxt.select("node")
    return visited


def pagerank(
    edges: DataFrame,
    iterations: int = 4,
    damping: float = 0.85,
    reliable: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED edge list.

    edges: columns ``u``, ``v`` (symmetrized + deduped internally, so
    every node has degree >= 1 and there are no dangling nodes).
    Returns (node, rank) after `iterations` power-iteration rounds:

        rank'(v) = (1-damping)/N + damping * sum_{u~v} rank(u)/deg(u)

    Cross-engine-deterministic by the repo's decimal-sum discipline:
    per-edge contributions are doubles cast to DECIMAL(28,18) so the
    per-node sum is exact and order/partitioning-independent, and the
    rank is rounded to 12 dp each round — a SQL engine replaying the
    same float expression tree reproduces every iteration bit-for-bit
    (q168's DuckDB oracle unrolls the rounds and does exactly that).

    Scale shape: each round is one join of the edge list (laid out by
    ``u`` once up front, reused every round) with the N-row rank
    table plus one groupBy — O(E) per round, lineage cut per round,
    no driver data beyond the single node count N.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    sym = cut(
        edges.select("u", "v")
        .unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u")
        .distinct(),
        reliable,
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    n = deg.count()  # one driver scalar — the only collected value
    if n == 0:
        return sym.select(
            F.col("u").alias("node"), F.lit(0.0).alias("rank")
        )
    # both constants follow IEEE double arithmetic an oracle can
    # replay exactly: (1.0 - damping) and /n in double
    teleport = (1.0 - damping) / n
    ranks = deg.select(
        F.col("u").alias("node"),
        F.round(F.lit(1.0) / F.lit(float(n)), 12).alias("rank"),
    )
    for _ in range(iterations):
        contrib = (
            sym.join(ranks, sym["u"] == ranks["node"])
            .join(deg, "u")
            .select(
                F.col("v").alias("node"),
                (F.col("rank") / F.col("d")).alias("c"),
            )
        )
        ranks = cut(
            contrib.groupBy("node")
            .agg(F.sum(F.col("c").cast(_CONTRIB_DEC)).alias("s"))
            .select(
                "node",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping) * F.col("s").cast("double"),
                    12,
                ).alias("rank"),
            ),
            reliable,
        )
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an UNDIRECTED edge list (columns
    ``u``, ``v``; orientation/duplicates/self-loops normalized away).

    The compact-forward / degree-ordered algorithm: orient every edge
    from its lower-(degree, id) endpoint to the higher one, then count
    wedges (a→b, a→c) that close with an oriented edge b→c. Ordering
    by degree bounds every vertex's out-degree by O(sqrt(E)), so wedge
    generation — the join that explodes on skewed graphs if oriented
    naively — does O(E^1.5) total work even when one hub touches
    everything (the reason plain u<v orientation is not enough at
    100 TB: a hub with degree d contributes d² wedges unless the
    ordering pushes its edges inward). Two shuffles: wedge build,
    close check.

    Returns a single row (triangles: long).
    """
    e = (
        edges.select("u", "v")
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    # Lineage cut: `e` feeds sym (twice), deg, ranked, and — through
    # `fwd` below — the wedge build and both closure semi-joins. The
    # canonicalized subtrees differ enough that AQE exchange reuse
    # never fires, so without a cut the (possibly expensive) edge
    # derivation re-executes ~16× (q174 showed 177 Exchanges / 16
    # SortMergeJoins). Edges are the collapsed distinct pair set —
    # materialize once.
    e = e.localCheckpoint(eager=False)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # orient low → high in (degree, id) order
    ranked = (
        sym.join(deg.withColumnRenamed("a", "u_"), F.col("a") == F.col("u_"))
        .drop("u_")
        .withColumnRenamed("d", "da")
        .join(
            deg.selectExpr("a as v_", "d as db"), F.col("b") == F.col("v_")
        )
        .drop("v_")
    )
    fwd = ranked.filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    # Same cut for the oriented list: it feeds both wedge arms and
    # both closure semi-joins (4 consumers).
    fwd = fwd.localCheckpoint(eager=False)
    w1 = fwd.select(F.col("src"), F.col("dst").alias("x"))
    w2 = fwd.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        fwd.selectExpr("src as x", "dst as y"), ["x", "y"], "left_semi"
    ).unionByName(
        wedges.join(
            fwd.selectExpr("src as y", "dst as x"), ["x", "y"], "left_semi"
        )
    )
    return closed.agg(F.count(F.lit(1)).cast("long").alias("triangles"))


def kcore(
    edges: DataFrame, k: int, rounds: int, reliable: bool = False
) -> DataFrame:
    """R-round k-core peeling over an UNDIRECTED edge list (columns
    ``u``, ``v``; orientation/duplicates/self-loops normalized away).

    Each round drops every vertex whose degree in the CURRENT
    subgraph is < k, then restricts the edge set to surviving
    endpoints. With `rounds` large enough this converges to the
    k-core (the maximal subgraph of minimum degree >= k); the
    FIXED-round form is the deliberate contract here — the identical
    deterministic computation is replayable in plain SQL by unrolling
    the rounds (the q168 pagerank discipline for iterative
    algorithms), and at 100 TB a bounded round count is the
    schedulable unit anyway (each round is one degree aggregation +
    two semi-joins; lineage is cut per round so plan size stays
    constant).

    Returns (node, deg) for surviving vertices with their degree in
    the surviving subgraph.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select("u", "v")
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    e = cut(e, reliable)
    for _ in range(rounds):
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        keep = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("a").alias("node"))
        )
        e = cut_lazy(
            e.join(
                keep.withColumnRenamed("node", "a"), "a", "left_semi"
            ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi"),
            reliable,
        )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


def densest_subgraph_peel(
    edges: DataFrame, rounds: int, reliable: bool = False
) -> list[tuple[int, int, int, float, float]]:
    """R-round parallel greedy peel toward the densest subgraph
    (Charikar 2000 greedy, parallel batch form — public literature):
    each round records the current subgraph's (nodes, edges, density,
    avg degree), then removes every vertex whose degree is <= the
    current AVERAGE degree and restricts the edge set to survivors.
    Density ρ = E/N typically climbs along the peel, but average-
    degree batch peeling does NOT guarantee monotonicity — only the
    BEST round carries Charikar's 2-approximation, so consumers must
    take the max-density trajectory row, never the last one. This is
    the "find the pathologically dense cluster" screen (spam rings,
    boilerplate hubs) that a fixed-k k-core can't express because the
    right k is data-dependent.

    Fixed-round contract (the kcore discipline): the identical
    deterministic computation replays in unrolled SQL; a round where
    no vertex survives truncates the trajectory on both engines.
    Scale: per round one degree rollup + the bounded 2-value stats
    collect + two semi-joins, lineage cut per round. The adaptive
    threshold (2.0·E)/N is the same IEEE double on any engine
    (exact integer inputs, one multiply, one divide).

    Returns [(round, n_nodes, n_edges, density6, avg_degree6)] with
    stats taken BEFORE each round's peel.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select("u", "v")
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    e = cut(e, reliable)
    out: list[tuple[int, int, int, float, float]] = []
    for r in range(1, rounds + 1):
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)  # reused: stats + keep
        )
        row = deg.agg(
            F.count(F.lit(1)).alias("n"), F.sum("d").alias("twoe")
        ).first()
        if row is None or not row["n"]:
            break  # a regular subgraph peeled everyone — truncate
        n, two_e = int(row["n"]), int(row["twoe"])
        n_edges = two_e // 2
        avg = (2.0 * n_edges) / n
        out.append(
            (
                r,
                n,
                n_edges,
                half_up(n_edges / n, 6),
                half_up(avg, 6),
            )
        )
        keep = deg.filter(F.col("d") > F.lit(avg)).select(
            F.col("a").alias("node")
        )
        e = cut_lazy(
            e.join(
                keep.withColumnRenamed("node", "a"), "a", "left_semi"
            ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi"),
            reliable,
        )
    return out
