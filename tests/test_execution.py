"""Plan-level pins for ``execution.spread``, ``coalesce_to_size`` and
``parallelism``.

Every test here inspects a physical plan or a conf; none runs a job.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pyspark.sql.utils

from metadata_ingestion_poc_spark.execution import coalesce_to_size, parallelism, spread

MAX_BYTES = "spark.sql.files.maxPartitionBytes"


@contextmanager
def conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_frame_is_round_robin_spread(spark):
    p = parallelism(spark)
    assert f"Exchange RoundRobinPartitioning({p}), REPARTITION_BY_NUM" in (
        plan(spread(spark.range(100)))
    )


def test_small_frame_keyed_spread_pins_the_count(spark):
    p = parallelism(spark)
    df = spark.range(100).withColumnRenamed("id", "k")
    assert re.search(
        rf"Exchange hashpartitioning\(k#\d+L, {p}\), REPARTITION_BY_NUM",
        plan(spread(df, "k")),
    )


def test_frame_at_the_size_limit_is_left_alone(spark):
    """spark.range(n) is estimated at 8·n bytes, so with
    maxPartitionBytes = 8·n / parallelism the estimate sits exactly at
    the limit: no added exchange, and a keyed spread keeps AQE sizing."""
    n, p = 1000, parallelism(spark)
    with conf(spark, MAX_BYTES, str(8 * n // p)):
        df = spark.range(n)
        assert spread(df) is df
        assert "Exchange" not in plan(spread(df))
        keyed = plan(spread(df.withColumnRenamed("id", "k"), "k"))
        assert "REPARTITION_BY_COL" in keyed
        assert "REPARTITION_BY_NUM" not in keyed
    with conf(spark, MAX_BYTES, str(8 * n // p + 1)):
        assert "RoundRobinPartitioning" in plan(spread(spark.range(n)))


def test_max_partition_bytes_is_read_as_spark_parses_it(spark):
    """"8t" is 8 TiB: 10¹² rows (8·10¹² bytes) is small against
    parallelism × 8 TiB and gets spread."""
    with conf(spark, MAX_BYTES, "8t"):
        assert "RoundRobinPartitioning" in plan(spread(spark.range(10**12)))
    df = spark.range(10**12)
    assert spread(df) is df  # against the 128 MiB default it is large


def test_parallelism_under_spark_connect_is_shuffle_partitions(
    spark, monkeypatch
):
    shuffle = spark.sparkContext.defaultParallelism + 3
    with conf(spark, "spark.sql.shuffle.partitions", str(shuffle)):
        assert parallelism(spark) == spark.sparkContext.defaultParallelism
        monkeypatch.setattr(pyspark.sql.utils, "is_remote", lambda: True)
        assert parallelism(spark) == shuffle


def test_coalesce_to_size_reads_the_runtime_split_size(spark):
    """spark.range(n) is estimated at 8·n bytes: one split's worth at
    the default maxPartitionBytes, so it coalesces to one partition;
    with the setting lowered to 8·n / parallelism it fills a split per
    core and keeps its partitions."""
    n, p = 1000, parallelism(spark)
    assert "Coalesce 1" in plan(coalesce_to_size(spark.range(n, numPartitions=p)))
    with conf(spark, MAX_BYTES, str(8 * n // p)):
        df = spark.range(n, numPartitions=p)
        assert coalesce_to_size(df) is df
