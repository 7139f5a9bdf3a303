"""Pluggable source readers. Parity with the reference's reader registry
(readers/base_reader.py:4-55 in /root/reference): five reader kinds
behind a dict dispatch, each ``(spark, options) -> DataFrame``.

Readers pass options through to Spark verbatim (the reference's
contract), so schema inference flags, JDBC credentials, etc. are
metadata-driven. All readers return lazy DataFrames — nothing scans
until a sink action runs.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

ReaderFn = Callable[[SparkSession, dict], DataFrame]


def read_files(fmt: str, spark: SparkSession, options: dict) -> DataFrame:
    """Read a file-based Spark source ``fmt`` (any name
    ``spark.read.format`` accepts). ``path`` is the load path and
    ``schema`` an optional DDL schema (csv/json need one for PERMISSIVE
    corrupt-record capture: the corrupt column must be declared);
    ``hub_columns`` is HUB projection metadata, not a Spark option.
    Every other option passes through verbatim."""
    opts = dict(options)
    path = opts.pop("path")
    opts.pop("hub_columns", None)
    schema = opts.pop("schema", None)
    reader = spark.read.format(fmt).options(**opts)
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


def xml_reader(spark: SparkSession, options: dict) -> DataFrame:
    """XML via Spark 4's built-in xml source; ``rowTag`` selects the
    repeated record element (default "row")."""
    return read_files("xml", spark, {"rowTag": "row", **options})


def jdbc_reader(spark: SparkSession, options: dict) -> DataFrame:
    """Remote table scan. Requires url + dbtable (+ driver/user/password).

    At scale, pass partitionColumn/lowerBound/upperBound/numPartitions in
    options so the scan parallelizes instead of funneling through one task.
    """
    reader = spark.read.format("jdbc")
    for key in ("url", "dbtable", "driver", "user", "password",
                "partitionColumn", "lowerBound", "upperBound", "numPartitions",
                "fetchsize"):
        if key in options:
            reader = reader.option(key, options[key])
    return reader.load()


def olap_reader(spark: SparkSession, options: dict) -> DataFrame:
    """XMLA/MDX cube scan. No public pure-Python XMLA client is assumed
    available (the reference's is an ImportError stub too,
    base_reader.py:31-42); falls back to a pre-extracted CSV when
    ``fallback_csv_path`` is configured.
    """
    try:
        raise ImportError("XMLA client not available in this environment")
    except ImportError:
        fallback = options.get("fallback_csv_path")
        if not fallback:
            raise
        return spark.read.option("header", True).option(
            "inferSchema", True
        ).csv(fallback)


AVRO_FORMAT_CLASS = "org.apache.spark.sql.avro.AvroFileFormat"


def avro_format_name(spark: SparkSession) -> str:
    """Resolve the usable Avro format name for this deployment.

    Spark's Avro support is nominally the external spark-avro module;
    this distribution BUNDLES the classes but not the DataSourceRegister
    service alias, so format("avro") fails its ServiceLoader lookup
    while the implementation class loads fine. Prefer the short name
    (real clusters with spark-avro deployed), fall back to the full
    class name, and raise a clear capability error only when the
    classes are genuinely absent.
    """
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataSourceV2"
        )
        return "avro"  # service alias present (proper spark-avro jar)
    except Exception:
        pass
    try:
        spark._jvm.java.lang.Class.forName(AVRO_FORMAT_CLASS)
        return AVRO_FORMAT_CLASS
    except Exception:
        raise RuntimeError(
            "avro support requires the spark-avro classes on the "
            "classpath (external module since Spark 2.4) - see README "
            "'Avro status'"
        ) from None


def avro_reader(spark: SparkSession, options: dict) -> DataFrame:
    """Avro container files (see avro_format_name for the alias
    resolution this environment needs)."""
    return read_files(avro_format_name(spark), spark, options)


def snapshot_reader(spark: SparkSession, options: dict) -> DataFrame:
    """Versioned snapshot-table ingestion (snapshots.py format) via
    the format("snapshot") Python Data Source — `version` option
    time-travels; default latest."""
    from .snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    return read_files("snapshot", spark, options)


READERS: dict[str, ReaderFn] = {
    "csv": partial(read_files, "csv"),
    "json": partial(read_files, "json"),
    "parquet": partial(read_files, "parquet"),
    "orc": partial(read_files, "orc"),
    "xml": xml_reader,
    # one row per file: (path, modificationTime, length, content);
    # ``pathGlobFilter`` narrows by extension. The multimodal operators
    # consume ``content`` directly.
    "binary": partial(read_files, "binaryFile"),
    "avro": avro_reader,
    "snapshot": snapshot_reader,
    "jdbc": jdbc_reader,
    "olap": olap_reader,
}


def get_reader(kind: str) -> ReaderFn:
    try:
        return READERS[kind]
    except KeyError:
        raise ValueError(
            f"unknown reader type {kind!r}; registered: {sorted(READERS)}"
        ) from None
