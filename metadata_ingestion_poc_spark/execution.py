"""How work is laid out and materialised on the cluster.

The one home for partition counts, lineage cuts, driver-side job
overlap and the checked base frame of the vector operators. Under
Spark Connect there is no SparkContext and no JVM handle; the
decisions that depend on that are made here and nowhere else.

A leaf module: it imports only pyspark and the standard library.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.utils
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parallelism(spark: SparkSession) -> int:
    """Partition count that puts work on every core:
    ``defaultParallelism``, or ``spark.sql.shuffle.partitions`` under
    Spark Connect (no SparkContext handle)."""
    if pyspark.sql.utils.is_remote():
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark.sparkContext.defaultParallelism


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Lay a small frame out over ``parallelism`` partitions.

    A small parquet file arrives as ONE input split, so CPU-heavy
    per-row work would run on a single core regardless of cluster
    size. With no ``cols`` a small frame is round-robin repartitioned;
    with ``cols`` it is hash-partitioned by them with the count pinned
    — AQE sizes post-shuffle partitions by BYTES, so without the pin a
    small-byte frame collapses onto one or two tasks and serializes
    any window/rollup keyed on ``cols``. Downstream operators keyed on
    ``cols`` (or a superset) reuse the layout with no second exchange.

    "Small" is the optimizer's size estimate below
    ``parallelism × spark.sql.files.maxPartitionBytes``: a larger frame
    already scans as at least that many splits, so it is returned
    as is (no ``cols``) or plainly keyed with AQE sizing (``cols``).
    A frame without stats (a Spark Connect frame) is treated as large.
    """
    target = parallelism(df.sparkSession)
    keys = [F.col(c) for c in cols]
    est = _estimate(df)
    if est is not None and est[0] < target * est[1]:
        return df.repartition(target, *keys)
    return df.repartition(*keys) if keys else df


def coalesce_to_size(df: DataFrame) -> DataFrame:
    """Coalesce a small frame to as many partitions as its bytes fill.

    The count is ``ceil(estimate / spark.sql.files.maxPartitionBytes)``,
    so writing the result leaves one file per split-sized slice, not
    one per core. It applies only below ``parallelism``: a frame of
    more bytes already scans as about that many splits. A frame
    without stats (a Spark Connect frame, or a streaming micro-batch
    whose source reports none) is returned as is.
    """
    est = _estimate(df)
    if est is None:
        return df
    size, split = est
    n = max(1, -(-size // split))
    return df.coalesce(n) if n < parallelism(df.sparkSession) else df


def _estimate(df: DataFrame) -> tuple[int, int] | None:
    """The optimizer's size estimate of ``df`` in bytes and
    ``spark.sql.files.maxPartitionBytes``, or None when the frame has
    no stats handle. Reads stats, not ``inputFiles()``, which would
    list every file of a large manifest on the driver."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        return int(size), conf.filesMaxPartitionBytes()
    except Exception:  # Spark Connect / non-JVM frame: no stats handle
        return None


def cut(df: DataFrame, reliable: bool) -> DataFrame:
    """Cut lineage: reliable HDFS-style checkpoint or executor-local."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def cut_lazy(df: DataFrame, reliable: bool) -> DataFrame:
    """Cut lineage without triggering a job.

    The caller's next action materializes the checkpoint, so per-round
    loops pay ONE driver action (the convergence probe) instead of two
    (eager checkpoint + probe). reliable=True stays eager: a lazy
    reliable checkpoint recomputes the RDD once for the job and once
    for the checkpoint write, which costs more than the extra action.
    """
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def run_concurrent(*thunks):
    """Run independent Spark work from driver threads so its jobs
    overlap (FIFO scheduling back-fills executor slots — guide §2.6).

    Returns the results in submission order; the first exception, in
    submission order, is raised once every thunk has finished. At most
    ``parallelism`` of the active session run at once. Worker threads
    inherit the caller's local properties, so its job tags and job
    group own every job they submit. Callers: the sketch operators'
    bounded collects and ``framework.run``'s ingestion lanes (whole
    source ingests, several actions each). Under Spark Connect, and
    for a single thunk, the thunks run sequentially on the calling
    thread — the overlap is a latency optimization, never a semantic
    one."""
    if len(thunks) < 2 or pyspark.sql.utils.is_remote():
        return [t() for t in thunks]

    workers = min(len(thunks), parallelism(SparkSession.active()))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(t)) for t in thunks]
        return [f.result() for f in futures]


def checked_base(
    df: DataFrame,
    id_col: str | None,
    vec_col: str,
    cache: bool,
    op: str,
    dims: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Projected (id, vector) frame + validated dimensionality + count.

    One aggregate over the (optionally checkpointed) projection
    replaces a separate probe + ragged-scan pair: a vector shorter
    than the rest (or NULL, or holding a NULL element) would
    zip_with-pad with NULL and silently poison its distances in BOTH
    the argmin and the farthest-point traversal — and silently drop
    out of mean/covariance sums — fail loud instead. ``id_col=None``
    projects only the vector (the PCA shape); ``dims`` asserts the
    uniform length matches the caller's declared dimensionality.

    The projection is ``spread`` first: a small embeddings parquet
    arrives as ONE input split, so without it the checkpoint pins a
    single partition and every distance / covariance scan of the
    iterative suite runs on one core regardless of cluster size. The
    stats gate makes it a no-op at real scale, and the decimal
    discipline is partitioning-invariant by construction."""
    base = spread(df.select(*([id_col] if id_col else []), vec_col))
    if cache:
        # LAZY: the validation aggregate immediately below is the
        # materializing action, so eager=True would just split one
        # job into two.
        base = base.localCheckpoint(eager=False)
    row = base.agg(
        F.min(F.size(vec_col)).alias("lo"),
        F.max(F.size(vec_col)).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(vec_col).isNull(), 1).otherwise(0)).alias(
            "nulls"
        ),
        # element-level probe: one NULL element nulls every zip_with
        # distance / product term for its row — distinct failure mode
        # from a NULL vector, checked separately (size(filter) on a
        # NULL array would itself be NULL, hence the guard).
        F.sum(
            F.when(F.col(vec_col).isNull(), 0).otherwise(
                F.size(F.filter(F.col(vec_col), lambda x: x.isNull()))
            )
        ).alias("null_elems"),
    ).first()
    if row is None or row["n"] == 0:
        raise ValueError(f"{op}: empty input")
    if row["nulls"]:
        raise ValueError(f"{op}: NULL {vec_col} values")
    if row["null_elems"]:
        raise ValueError(
            f"{op}: {row['null_elems']} NULL element(s) inside "
            f"{vec_col} vectors"
        )
    if row["lo"] != row["hi"]:
        raise ValueError(
            f"{op}: ragged {vec_col} — vector lengths span "
            f"[{row['lo']}, {row['hi']}]"
        )
    if dims is not None and row["hi"] != dims:
        raise ValueError(
            f"{op}: {vec_col} has {row['hi']} dims, caller declared "
            f"{dims}"
        )
    return base, row["hi"], row["n"]
