"""Contiguous global row numbering without a single-partition sort.

``row_number() OVER (ORDER BY ...)`` — no PARTITION BY — forces every
row through ONE task; at 100 TB that is the canonical scale cliff
(monotonically_increasing_id avoids it but is non-contiguous and
partitioning-dependent). The distributed equivalent:

1. range-repartition + sort within partitions on the order key —
   partitions now hold disjoint, internally-sorted key ranges;
2. one bounded driver collect of per-partition row counts (#partitions
   rows, never data);
3. global index = partition offset (exclusive prefix sum, broadcast)
   + intra-partition row_number (a window WITH partitioning, so it
   runs parallel).

Steps 1-2 are ``range_partition_aggregate``, the one scan shared by
every operator that collects per-partition state and joins a prefix of
it back: the row numbering and running sum here, the global
percentiles (``percentiles.exact_percentiles_continuous``) and the
skyline's global sweep (``skyline.skyline2d``).

The order key must be a TOTAL order (include a unique tiebreaker):
with ties, rows at a range boundary can land in either partition and
the numbering of tied rows would depend on sampling. With a total
order the result is exactly ``row_number() OVER (ORDER BY ...)``
regardless of where the sampled boundaries fall (q178's oracle checks
precisely that).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_partition_aggregate(
    df: DataFrame,
    order_cols: list[str | Column],
    agg: Column,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """The scan every offset-collect operator shares: `df`
    range-partitioned and sorted within partitions on `order_cols`
    (into `num_partitions` when given), tagged with its partition id
    `__pid` and lazily checkpointed, plus ``{pid: agg}`` over each
    non-empty partition from one bounded collect (one row per
    partition, never data).

    Partitions hold disjoint, internally sorted key ranges in pid
    order, so the caller folds the per-partition values into a prefix
    on the driver (row offsets, running-sum offsets, a running min) and
    joins it back broadcast on `__pid`.
    """
    if not order_cols:
        raise ValueError("need at least one order column")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    # Materialize BEFORE collecting: the collect and the caller's final
    # join are separate jobs, and without a lineage cut each
    # re-evaluates the range shuffle — where AQE may coalesce to a
    # DIFFERENT partition count the second time, so the join on __pid
    # silently drops whole partitions (observed at sf0.1: q180 lost
    # deciles 5-10). The checkpoint pins one partition layout for both
    # consumers and the sort runs once.
    ranged = parted.withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)
    # bounded: one row per partition (materializes the checkpoint)
    per_pid = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid").agg(agg.alias("t")).collect()
    }
    return ranged, per_pid


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out_col: str = "row_num",
    num_partitions: int | None = None,
) -> DataFrame:
    """`df` plus a contiguous 1-based `out_col` in `order_cols` order.

    order_cols must totally order the rows (add a unique id as the
    last key); ascending order only — wrap columns with F.desc-style
    expressions by pre-computing a negated sort column instead.
    """
    with_pid, counts = range_partition_aggregate(
        df, order_cols, F.count(F.lit(1)), num_partitions
    )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_df = F.broadcast(
        with_pid.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()],
            "__pid int, __offset long",
        )
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        with_pid.join(offset_df, "__pid")
        .withColumn(
            out_col, (F.col("__offset") + F.row_number().over(w)).cast("long")
        )
        .drop("__pid", "__offset")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """`df` plus the running sum of `value_col` in `order_cols` order —
    the distributed prefix sum. ``SUM(v) OVER (ORDER BY ...)`` with no
    PARTITION BY is the same one-task cliff as global row numbering;
    this uses the identical skeleton: range partition + in-partition
    sort, ONE bounded collect of per-partition TOTALS (not data),
    broadcast exclusive-prefix offsets, and a parallel intra-partition
    running sum.

    The totals come from range_partition_aggregate, whose checkpoint
    before the collect keeps both jobs on one partition layout (the
    AQE/sampling re-evaluation trap).

    For cross-engine-exact results pass a DECIMAL value column —
    decimal addition is associative, so partition totals + offsets
    reproduce the sequential sum bit-for-bit; double columns are
    subject to the usual float reassociation (offsets group additions
    differently than a sequential scan would).
    """
    with_pid, totals = range_partition_aggregate(
        df, order_cols, F.sum(value_col), num_partitions
    )
    value_type = dict(with_pid.dtypes)[value_col]
    offsets, acc = {}, None
    for pid in sorted(totals):
        offsets[pid] = acc  # None -> zero offset for the first partition
        t = totals[pid]
        if t is not None:  # all-NULL partition contributes nothing
            acc = t if acc is None else acc + t
    offset_df = F.broadcast(
        with_pid.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()],
            f"__pid int, __offset {value_type}",
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Sequential SUM(...) OVER semantics: the running sum is NULL only
    # while EVERY value seen so far is NULL. The in-partition window
    # sum is NULL whenever the local prefix is all-NULL — but earlier
    # partitions may still carry a non-null offset, so adding them
    # naively poisons the carried prefix with NULL. Emit NULL only
    # when BOTH the offset and the local window sum are NULL.
    local_sum = F.sum(value_col).over(w)
    return (
        with_pid.join(offset_df, "__pid")
        .withColumn(
            out_col,
            F.when(
                F.col("__offset").isNull() & local_sum.isNull(),
                F.lit(None).cast(value_type),
            ).otherwise(
                F.coalesce(F.col("__offset"), F.lit(0).cast(value_type))
                + F.coalesce(local_sum, F.lit(0).cast(value_type))
            ),
        )
        .drop("__pid", "__offset")
    )
