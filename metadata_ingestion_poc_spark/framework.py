"""Pipeline orchestration: the reference's run loop, Spark-first.

Parity with framework.py:13-39 in /root/reference —
read → audit columns → quarantine → RAW append → to_hub → HUB upsert
per enabled source — with the reference's known wart fixed: it
executed two actions against an uncached plan, scanning every source
twice (and re-evaluating current_timestamp between zones). We cache
the audited frame once, so one scan feeds the quarantine, RAW and HUB
writes, and unpersist after.

Audit columns (framework.py:27-32 semantics):
- _source_id     constant per source
- _ingest_ts_utc current_timestamp() at plan execution
- ingest_date    ISO date STRING (driver-computed once per run — a
                 string, not DateType, matching the reference's RAW
                 partition layout), injectable for deterministic tests.

Lanes: ``run`` ingests independent sources concurrently. Two sources
share a lane when a path of one — its RAW, HUB or quarantine target,
or its input ``options.path`` — equals or is nested in a path of the
other; lanes merge transitively. A lane runs its sources in YAML
order, so every target has one writer at a time (the single-writer
contract of staging.py and the HUB merge), and a source that reads
another source's output runs after it. At most
``execution.parallelism(spark)`` lanes run at once, from driver
threads that inherit the caller's job tags and local properties;
under Spark Connect the lanes run one after another on the calling
thread.
"""

from __future__ import annotations

import datetime as dt
import os
import posixpath
import re
from functools import partial, reduce
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import Config
from .execution import run_concurrent
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
    Callers pass a cached frame, so the split does not parse the
    source a second time.
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

    Metrics ride the first write through Spark's Observation API — an
    accumulator attached to the existing action, NOT an extra count()
    scan (at 100 TB a metrics-only second pass over the source is the
    observability anti-pattern). ``rows_ingested`` counts clean rows
    written; ``null_key_rows`` counts clean rows with any NULL hub
    primary key — the upsert-identity health signal a metadata-driven
    pipeline alerts on.
    """
    df = add_audit_columns(
        get_reader(source.type)(spark, source.options), source, ingest_date
    )
    clean = F.lit(True)
    if CORRUPT_COL in df.columns:
        clean = F.col(CORRUPT_COL).isNull()
    any_null = reduce(
        lambda a, b: a | b,
        [F.col(k).isNull() for k in source.hub_primary_keys],
        F.lit(False),
    )
    obs = Observation(f"ingest_{source.id}")
    # The observation sits below the cache: it is evaluated exactly
    # once, by the write that materializes the cache, and one physical
    # scan feeds the quarantine, RAW and HUB writes.
    df = df.observe(
        obs,
        F.count_if(clean).alias("rows_ingested"),
        F.count_if(clean & any_null).alias("null_key_rows"),
    ).cache()
    try:
        rows = quarantine_malformed(df, source, cfg)
        write_raw(
            rows,
            f"{cfg.raw_base}/{source.domain}/{source.entity}",
            source.raw_partitions,
        )
        write_hub(
            spark,
            to_hub(rows, source),
            f"{cfg.hub_base}/{source.domain}/{source.entity}",
            source.hub_primary_keys,
        )
    finally:
        df.unpersist()
    return {k: int(v) for k, v in obs.get.items()}


_GLOB = re.compile(r"[*?\[{]")


def _path_parts(path: str) -> tuple[str, ...]:
    """Components of a path or URI, for the nesting test. Local paths
    are made absolute; a glob is cut at its first wildcard component,
    since it may match anything below that."""
    url = urlsplit(path)
    if url.scheme in ("", "file"):
        parts = os.path.abspath(url.path).split("/")
    else:
        parts = [f"{url.scheme}://{url.netloc}"]
        parts += posixpath.normpath(url.path or "/").split("/")
    kept = []
    for p in parts:
        if _GLOB.search(p):
            break
        if p:
            kept.append(p)
    return tuple(kept)


def _touched(source: Source, cfg: Config) -> list[tuple[str, ...]]:
    """Every path ``run_source`` reads or writes for ``source``."""
    rel = f"{source.domain}/{source.entity}"
    paths = [
        f"{base}/{rel}"
        for base in (cfg.raw_base, cfg.hub_base, cfg.quarantine_base)
    ]
    inputs = source.options.get("path")
    if inputs is not None:
        paths += [inputs] if isinstance(inputs, str) else list(inputs)
    return [_path_parts(str(p)) for p in paths]


def lanes(sources: list[Source], cfg: Config) -> list[list[int]]:
    """Indices of ``sources`` grouped into lanes (module docstring):
    union-find over pairs with a path equal to, or nested in, a path
    of the other. Lanes, and the sources within a lane, are in YAML
    order."""
    touched = [_touched(s, cfg) for s in sources]
    root = list(range(len(sources)))

    def find(i: int) -> int:
        while root[i] != i:
            i = root[i]
        return i

    for i in range(len(sources)):
        for j in range(i):
            if any(
                a[: len(b)] == b or b[: len(a)] == a
                for a in touched[i]
                for b in touched[j]
            ):
                root[find(i)] = find(j)
    grouped: dict[int, list[int]] = {}
    for i in range(len(sources)):
        grouped.setdefault(find(i), []).append(i)
    return list(grouped.values())


def run(
    spark: SparkSession,
    sources_yaml: str,
    env: str = "local",
    ingest_date: str | None = None,
    metrics_sink=None,
) -> list[str]:
    """Ingest every enabled source; returns the ids that ran, in YAML
    order.

    Independent sources run concurrently, one lane per set of sources
    that share a target or an input (module docstring). ``metrics_sink``:
    optional ``(source_id, metrics_dict) -> None`` callback receiving
    each source's observed counters (see run_source) — the hook a
    production deployment points at its metrics system. It is called
    on the calling thread, in YAML order, after every lane finished.

    Failure contract: a lane stops at its first failing source; the
    other lanes run to completion; ``metrics_sink`` receives every
    source that succeeded; then the failure that comes first in YAML
    order is re-raised, with the ids of any other failed sources in
    its notes.
    """
    ss: SourceSystem = load_sources(sources_yaml)
    cfg = Config.from_defaults(ss.defaults, env=env)
    enabled = [s for s in ss.sources if s.enabled]

    def ingest(lane: list[int]) -> dict:
        done = {}
        for i in lane:
            try:
                done[i] = run_source(spark, enabled[i], cfg, ingest_date)
            except Exception as e:  # re-raised once every lane is done
                done[i] = e
                break
        return done

    outcome = {}
    thunks = [partial(ingest, lane) for lane in lanes(enabled, cfg)]
    for done in run_concurrent(*thunks):
        outcome.update(done)

    ran: list[str] = []
    failed: list[tuple[str, Exception]] = []
    for i, source in enumerate(enabled):
        result = outcome.get(i)
        if isinstance(result, Exception):
            failed.append((source.id, result))
        elif result is not None:
            if metrics_sink is not None:
                metrics_sink(source.id, result)
            ran.append(source.id)
    if failed:
        first = failed[0][1]
        if len(failed) > 1:
            first.add_note(
                "sources that also failed: "
                + ", ".join(sid for sid, _ in failed[1:])
            )
        raise first
    return ran
