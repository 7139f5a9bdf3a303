"""Table registry over the driver's synthetic parquet tables.

The reference resolves sources from YAML metadata into Spark reads
(``framework.py:22-25`` in /root/reference); this module is the same
idea specialized for the benchmark star schema: one parquet file per
table under ``{sf_dir}/``, loaded lazily and registered as temp views
so both the DataFrame and ``spark.sql`` surfaces see them.

Normalization is applied exactly once, here, so every downstream
operator sees clean types:

- ``events.ts`` arrives as int64 nanoseconds (Spark cannot read
  TIMESTAMP(NANOS) parquet; see session.py). We truncate to
  microseconds with integer division — matching DuckDB's own ns→µs
  truncation — and expose TIMESTAMP_NTZ.

Scale note: these are plain ``spark.read.parquet`` scans, so Catalyst
pushes filters and prunes columns into the parquet reader for free. At
100 TB the same code reads a partitioned directory tree instead of a
single file; nothing here materializes data on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions worth broadcasting in joins (fixed-size regardless of SF).
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalized."""
    if name == "events":
        # runtime-settable; the driver's session may not have it — without
        # it Spark refuses TIMESTAMP(NANOS) parquet columns outright.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 ns → µs-precision naive timestamp (truncating division,
        # same as DuckDB's implicit ns→µs cast).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
