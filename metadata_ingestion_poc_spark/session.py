"""SparkSession factory.

Mirrors the intent of the reference's session builder
(``run.py:31-54`` in /root/reference) — a single place that owns the
session configuration — but tuned for an analytics engine that must
scale: AQE on (runtime re-planning, skew-join handling), UTC session
time zone (deterministic timestamp semantics vs the DuckDB oracle),
Arrow enabled for the few pandas-UDF operators, and ns-parquet
timestamps read as longs (Spark cannot natively read
TIMESTAMP(NANOS) parquet columns; catalog.py normalizes them).

Delta Lake is optional: if delta-spark is importable we configure it
(the reference depends on it for its HUB zone), otherwise the writer
layer falls back to a pure-Spark merge (see writer.py).
"""

from __future__ import annotations

import os
import re

import pyspark
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CODE_CACHE_FLAG = "-XX:ReservedCodeCacheSize="
JAVA_OPTION_KEYS = (
    "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions",
)


def spark_defaults() -> dict[str, str]:
    """The properties spark-submit loads from ``spark-defaults.conf``
    (in ``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``); empty when
    there is no such file."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = [line.strip() for line in f]
    except OSError:
        return {}
    out = {}
    for line in lines:
        m = re.match(r"([^\s=:]+)\s*[\s=:]\s*(.*)", line)
        if m and line[0] not in "#!":
            out[m[1]] = m[2].strip()
    return out


def java_options(conf: dict[str, str], code_cache: str) -> dict[str, str]:
    """Driver and executor ``extraJavaOptions``: the user's own value
    (``conf``, else spark-defaults.conf) with the reserved code cache
    size appended, unless that value already sets one."""
    defaults = spark_defaults()
    out = {}
    for key in JAVA_OPTION_KEYS:
        user = conf.get(key, defaults.get(key, ""))
        if CODE_CACHE_FLAG not in user:
            user = f"{user} {CODE_CACHE_FLAG}{code_cache}".strip()
        out[key] = user
    return out


def get_spark(
    app_name: str = "metadata_ingestion_poc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In production this runs on a cluster (``master`` comes from the
    environment / spark-submit); locally we default to ``local[N]``.
    Shuffle partitions default to the core count — at 100 TB this is
    instead sized to ~128-256 MiB per post-shuffle partition, but AQE
    coalescing makes the initial number far less critical.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{DEFAULT_CPUS}]")
    shuffle = shuffle_partitions or DEFAULT_CPUS

    # Reserved JIT code cache: the driver and executor JVMs get at
    # least `code_cache` of it. A long-lived JVM running hundreds of
    # DISTINCT codegen-heavy plans (this engine's literal-table ANN
    # scans are the extreme case) saturates HotSpot's default 240 MB;
    # UseCodeCacheFlushing then silently thrashes the hottest compiled
    # methods and the most codegen-heavy queries degrade 50-90% (the
    # A/B is in OPTIMIZATION_r15.md). Executors get it too: a cluster
    # compiles the same classes in every executor. The flag is added
    # to the user's own JVM options, never in place of them, and a
    # user value that already sizes the cache wins. Only effective
    # when this process launches the JVM — a pre-existing gateway
    # (driver harness, test session reuse) keeps its own value, which
    # is exactly the non-invasive behavior the driver contract needs.
    conf = dict(extra_conf or {})
    conf.update(
        java_options(conf, os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m"))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata ships ns-precision parquet timestamps (events.ts);
        # read them as int64 nanos and normalize in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )

    try:  # Delta is optional in this environment (reference: run.py:38-47)
        from delta import configure_spark_with_delta_pip  # type: ignore

        builder = configure_spark_with_delta_pip(
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
    except ImportError:
        pass

    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
