"""2-D Pareto frontier (skyline) — the multi-objective selection
operator Spark has no native form of: keep every point not dominated
by another (b dominates a when b.x <= a.x, b.y <= a.y, and b is
strictly smaller in at least one coordinate; both axes minimized).

Distributed shape (the classic two-phase skyline):

1. **Local prune.** Points are hash-bucketed and each bucket runs the
   plane-sweep independently: sort by (x asc, y asc); a point survives
   iff its y is strictly below the running min of every EARLIER point.
   Dominance within a bucket implies global dominance, so this pass
   only removes true losers — and removes almost everything on real
   data (survivors per bucket ≈ the bucket's own frontier).
2. **Global sweep, without a 1-task sort.** Candidates are
   range-partitioned on (x, y); each partition needs the min-y of all
   PRECEDING partitions, which is a bounded per-partition aggregate
   (one row per partition) joined back broadcast — the offset-collect
   scan shared with the global row number
   (``indexing.range_partition_aggregate``). Then the per-partition
   sweep finishes locally in parallel.

The sweep rule is exact on DISTINCT points: a preceding point b (in
(x asc, y asc) order) has b.x < a.x, or b.x = a.x ∧ b.y < a.y; in both
cases min_preceding_y <= a.y ⇔ a is dominated. Duplicate coordinate
pairs are collapsed first (a duplicate neither dominates nor is
dominated by its twin — callers wanting multiplicity join back by
(x, y)).

Worst case (all points ON the frontier, e.g. a perfect diagonal)
nothing prunes and the frontier itself is O(n) — no algorithm beats
that; the two-phase layout still spreads the work evenly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .indexing import range_partition_aggregate


def skyline2d(
    df: DataFrame,
    xcol: str,
    ycol: str,
    buckets: int = 32,
    partitions: int = 16,
) -> DataFrame:
    """Distinct (xcol, ycol) points on the minimize/minimize Pareto
    frontier. Returns the two columns, one row per frontier point."""
    if buckets < 1 or partitions < 1:
        raise ValueError("buckets and partitions must be >= 1")
    pts = df.select(xcol, ycol).distinct()

    def sweep(frame: DataFrame, part_cols: list[str]) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(xcol).asc(), F.col(ycol).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pm = F.min(ycol).over(w)
        return (
            frame.withColumn("__pm", pm)
            .filter(F.col("__pm").isNull() | (F.col(ycol) < F.col("__pm")))
            .drop("__pm")
        )

    # pass 1: bucket-local prune (hash buckets -> even spread)
    local = sweep(
        pts.withColumn(
            "__b", F.pmod(F.xxhash64(F.col(xcol), F.col(ycol)), F.lit(buckets))
        ),
        ["__b"],
    ).drop("__b")

    # pass 2: global sweep over range partitions. Each partition's
    # sweep must also see min-y of all preceding partitions: one row
    # per partition (bounded), prefix-min'd on the driver, broadcast
    # back.
    ranged, mins = range_partition_aggregate(
        local, [xcol, ycol], F.min(ycol), partitions
    )
    prefix: dict[int, float] = {}
    best = None
    for pid in sorted(mins):
        prefix[pid] = best
        best = mins[pid] if best is None else min(best, mins[pid])
    pre = df.sparkSession.createDataFrame(
        list(prefix.items()),
        ranged.select(
            F.col("__pid"), F.col(ycol).alias("__pre")
        ).schema,
    )
    survivors = (
        ranged.join(F.broadcast(pre), "__pid", "left")
        .filter(F.col("__pre").isNull() | (F.col(ycol) < F.col("__pre")))
        .drop("__pre")
    )
    return sweep(survivors, ["__pid"]).drop("__pid")
