"""Pipeline orchestration: the reference's run loop, Spark-first.

Parity with framework.py:13-39 in /root/reference —
read → audit columns → RAW append → to_hub → HUB upsert per enabled
source — with the reference's known wart fixed: it executed two
actions against an uncached plan, scanning every source twice (and
re-evaluating current_timestamp between zones). We cache between the
RAW and HUB writes and unpersist after.

Audit columns (framework.py:27-32 semantics):
- _source_id     constant per source
- _ingest_ts_utc current_timestamp() at plan execution
- ingest_date    ISO date STRING (driver-computed once per run — a
                 string, not DateType, matching the reference's RAW
                 partition layout), injectable for deterministic tests.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import Config
from .metadata import Source, SourceSystem, load_sources
from .sources import get_reader
from .transform import to_hub
from .writer import write_hub, write_raw


def add_audit_columns(
    df: DataFrame, source: Source, ingest_date: str | None = None
) -> DataFrame:
    ingest_date = ingest_date or dt.datetime.now(dt.timezone.utc).date().isoformat()
    return (
        df.withColumn("_source_id", F.lit(source.id))
        .withColumn("_ingest_ts_utc", F.current_timestamp())
        .withColumn("ingest_date", F.lit(ingest_date))
    )


CORRUPT_COL = "_corrupt_record"


def quarantine_malformed(
    df: DataFrame, source: Source, cfg: Config
) -> DataFrame:
    """Split off rows a PERMISSIVE read flagged as malformed.

    When the source schema captures parse failures in
    ``_corrupt_record`` (csv/json `columnNameOfCorruptRecord`), those
    rows are appended to the quarantine zone — partitioned like RAW,
    keeping the raw malformed payload for replay after a schema fix —
    and only clean rows continue to RAW/HUB. Without the column this
    is a no-op, preserving the reference's permissive behavior.
    """
    if CORRUPT_COL not in df.columns:
        return df
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    write_raw(
        bad,
        f"{cfg.quarantine_base}/{source.domain}/{source.entity}",
        source.raw_partitions,
    )
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def run_source(
    spark: SparkSession,
    source: Source,
    cfg: Config,
    ingest_date: str | None = None,
) -> dict[str, int]:
    """Ingest one source; returns observed metrics for the run.

    Metrics ride the RAW write through Spark's Observation API — an
    accumulator attached to the existing action, NOT an extra count()
    scan (at 100 TB a metrics-only second pass over the source is the
    observability anti-pattern). ``rows_ingested`` counts clean rows
    written; ``null_key_rows`` counts rows with any NULL hub primary
    key — the upsert-identity health signal a metadata-driven pipeline
    alerts on.
    """
    from pyspark.sql import Observation

    reader = get_reader(source.type)
    df = reader(spark, source.options)
    df = add_audit_columns(df, source, ingest_date)
    df = quarantine_malformed(df, source, cfg)

    obs = Observation(f"ingest_{source.id}")
    if source.hub_primary_keys:
        any_null = reduce(
            lambda a, b: a | b,
            [F.col(k).isNull() for k in source.hub_primary_keys],
        )
        null_key = F.count_if(any_null)
    else:
        null_key = F.lit(0)
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_ingested"),
        null_key.cast("long").alias("null_key_rows"),
    )

    # one physical scan feeds both zone writes
    df = df.cache()
    try:
        write_raw(
            df,
            f"{cfg.raw_base}/{source.domain}/{source.entity}",
            source.raw_partitions,
        )
        hub_df = to_hub(df, source)
        write_hub(
            spark,
            hub_df,
            f"{cfg.hub_base}/{source.domain}/{source.entity}",
            source.hub_primary_keys,
        )
    finally:
        df.unpersist()
    return {k: int(v) for k, v in obs.get.items()}


def run(
    spark: SparkSession,
    sources_yaml: str,
    env: str = "local",
    ingest_date: str | None = None,
    metrics_sink=None,
) -> list[str]:
    """Ingest every enabled source; returns the ids that ran.

    ``metrics_sink``: optional ``(source_id, metrics_dict) -> None``
    callback receiving each source's observed counters (see
    run_source) — the hook a production deployment points at its
    metrics system.
    """
    ss: SourceSystem = load_sources(sources_yaml)
    cfg = Config.from_defaults(ss.defaults, env=env)
    ran: list[str] = []
    for source in ss.sources:
        if not source.enabled:
            continue
        metrics = run_source(spark, source, cfg, ingest_date)
        if metrics_sink is not None:
            metrics_sink(source.id, metrics)
        ran.append(source.id)
    return ran
