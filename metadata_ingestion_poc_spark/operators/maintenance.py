"""Table maintenance: small-file compaction + Z-order layout.

Streaming sinks and incremental folds leave many small files; scans
then pay per-file open cost and lose row-group pruning. ``compact``
rewrites a parquet dir into ~target-size files through
writer.rewrite_table, the crash-safe staging swap every writer uses
(every crash point leaves a complete table, and the rewrite records
the schema, so the next read of the table infers nothing).

``zorder_cols`` additionally lays rows out on a Z-curve (Morton
order) over the given columns: each column is linearly bucketed into
2^bits bins between its min and max (one distributed agg — no global
sort, no driver collect of data), the bucket bits are interleaved
JVM-side, and files are range-partitioned + sorted by the Z-value.
Multi-column predicates then touch few files, because a Z-interval
bounds every interleaved column at once — the standard file-skipping
layout (Delta OPTIMIZE ZORDER BY, without the Delta dependency).
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..writer import read_table, rewrite_table


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, Column]:
    """(df+stats, Z-value column) for Morton ordering over `cols`.

    Buckets each column linearly into 2^bits bins using its min/max
    (computed in ONE aggregate, broadcast back as a literal-free
    cross-join of a single row — no collect of data rows), then
    interleaves the bucket bits. NULLs map to bucket 0.

    Sibling of export.zorder_key: that one is the exact-integer
    2-column form with a SQL twin (portable, oracle-checkable keys);
    this one trades portability for generality (N columns, any
    numeric type, null handling) — the right default inside compact().
    """
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit a signed long")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
    stats = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(stats))

    nbins = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        bucket = F.least(
            F.lit(nbins),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - lo) / span * nbins
                ).cast("int"),
            ),
        )
        bucket = F.coalesce(bucket, F.lit(0))
        # interleave: bit k of this column lands at position
        # k*len(cols) + column_index
        for k in range(bits):
            z = z.bitwiseOR(
                (F.shiftright(bucket, k).bitwiseAND(F.lit(1)).cast("long"))
                * F.lit(1 << (k * len(cols) + cols.index(c))).cast("long")
            )
    return joined, z


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Rewrite the parquet dir at `path` into ~target-size files.

    Returns the number of output files. With ``zorder_cols``, rows are
    range-partitioned and sorted by their Z-value so each file covers a
    tight multi-column bounding box (file-skipping layout).
    """
    target = Path(path)
    df = read_table(spark, path)
    if df is None:
        raise FileNotFoundError(f"no table at {path}")
    total = sum(
        f.stat().st_size for f in target.rglob("*.parquet") if f.is_file()
    )
    n = max(1, math.ceil(total / target_file_bytes))

    if zorder_cols:
        joined, z = zorder_value(df, zorder_cols, bits=zorder_bits)
        out = (
            joined.withColumn("__z", z)
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *[c for c in joined.columns if c.startswith("__min_")
                           or c.startswith("__max_")])
        )
    else:
        out = df.repartition(n)

    rewrite_table(out, path)
    return len([f for f in target.glob("*.parquet") if f.is_file()])
