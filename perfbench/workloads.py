"""The workloads: what one timed pass does and what it records.

Every workload is one process running a closed loop with one client: the
next operation starts when the previous one has finished. An operation
is one registered query (build, plan, collect) or one ingestion batch
(``framework.run`` plus one HUB read). Work outside an operation's timed
window: generating inputs, reading Spark's status store, releasing
cached blocks, and checking outputs.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import datagen
from layers import WRITE_AMP_BATCHES, LayerTotals
from tracing import JobStats, Recorder, SparkStatus, job_owners

# -- workload definitions -----------------------------------------------------

# Multi-job operator queries: driver-side frame build and the eager jobs
# operators run dominate. One or more per family, few enough that a pass
# takes 15-35 s on 4 cores: ANN (IVF search, PQ training and search,
# quantization), near-dup and dedup (exact cosine, n-gram Jaccard, prefix
# filter, clusters, set cover), graph loops (k-core, label propagation,
# BFS) and sequence-pattern mining.
LLM_OPERATORS = (
    "q125",
    "q157",
    "q189",
    "q244",
    "q249",
    "q250",
    "q253",
    "q287",
    "q51",
    "q54",
    "q57",
    "q90",
)

# Rows-only queries: no oracle, so the check is the row count and schema
# their definition fixes: 20 query vectors with their top 10 neighbours.
ANN_COLUMNS = ["query_id", "rank", "neighbor_id", "cosine"]
ROWS_ONLY_EXPECT = {
    "q90_ivf_ann_topk": (200, ANN_COLUMNS),
    "q250_pq_ann_topk": (200, ANN_COLUMNS),
}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    why: str
    prefixes: tuple[str, ...]
    sf: float
    warm: tuple[str, ...]

    kind = "queries"

    def query_names(self, registry: dict) -> list[str]:
        return sorted(n for n in registry if n.split("_", 1)[0] in self.prefixes)


@dataclass(frozen=True)
class IngestSpec:
    name: str
    why: str
    batches: int
    orders_per_batch: int

    kind = "ingest"


WORKLOADS = {
    # Warm-up queries touch the same tables and operator paths as the timed
    # ones but are not in the timed set, so every timed query still compiles
    # its own generated code on first execution, as a new query would.
    "llm_operators": QuerySpec(
        "llm_operators",
        "multi-job operator queries (ANN, near-dup, graph loops): driver-side build and eager operator jobs dominate; ingestion untouched",
        prefixes=LLM_OPERATORS,
        sf=0.001,
        warm=("q55_cosine_topk", "q60_token_stats"),
    ),
    "ingest_incremental": IngestSpec(
        "ingest_incremental",
        "framework.run over seeded CSV/parquet/JSON batches with updates and malformed lines into a growing HUB; queries untouched",
        batches=WRITE_AMP_BATCHES,
        orders_per_batch=1000,
    ),
}


# -- run context ----------------------------------------------------------------


@dataclass
class OpRecord:
    name: str
    pass_no: int
    wall: float = 0.0
    ok: bool = True
    error: str = ""
    stats: JobStats = field(default_factory=JobStats)
    rows: int = 0


@dataclass
class Context:
    spark: object
    rec: Recorder
    status: SparkStatus
    work: str
    seed: int
    traced: bool
    ops: list[OpRecord] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    checks_run: int = 0
    totals: LayerTotals = field(default_factory=LayerTotals)
    first_op_at: float | None = None
    host_probe: list[float] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.checks_run += 1
        if not ok:
            self.failures.append(what)


def release(spark) -> None:
    """Drop cached frames and checkpointed blocks an operation left behind."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading that no
    engine change can move, printed beside the results to expose host drift."""
    t = time.perf_counter()
    acc = 0
    for i in range(100_000):
        acc += i * i
    return time.perf_counter() - t


def finish_op(ctx: Context, op_span, rec_op: OpRecord) -> None:
    """Read the operation's Spark metrics and fold its spans, after the fact."""
    ctx.host_probe.append(host_probe())
    st = ctx.status
    st.drain()
    rec_op.stats = st.stats(st.jobs_for_tag(ctx.rec.tag(op_span)))
    if ctx.traced:
        spans = [s for s in ctx.rec.spans if s.op == op_span.id]
        owners = job_owners(ctx.rec, st, spans)
        by_span: dict[int, list[int]] = {}
        for jid, sid in owners.items():
            by_span.setdefault(sid, []).append(jid)
        self_jobs = {sid: st.stats(jids) for sid, jids in by_span.items()}
        ctx.totals.add_op(op_span, spans, ctx.rec.children(), self_jobs)
    ctx.ops.append(rec_op)


# -- query workloads ----------------------------------------------------------------


class QueryRun:
    def __init__(self, spec: QuerySpec, ctx: Context, registry: dict, oracles: dict) -> None:
        self.spec, self.ctx = spec, ctx
        self.registry, self.oracles = registry, oracles
        self.names = spec.query_names(registry)
        self.data_dir = os.path.join(ctx.work, "data")
        self.results: dict[str, list] = {}

    def generate(self) -> None:
        datagen.write_star_schema(self.data_dir, self.ctx.seed, self.spec.sf)

    def warm(self) -> None:
        for name in self.spec.warm:
            self.registry[name](self.ctx.spark, self.data_dir).collect()
            release(self.ctx.spark)

    def run_pass(self, pass_no: int) -> float:
        ctx, rec, spark = self.ctx, self.ctx.rec, self.ctx.spark
        wall = 0.0
        for name in self.names:
            r = OpRecord(name, pass_no)
            fn = self.registry[name]
            with rec.op(name, "op") as op:
                if ctx.first_op_at is None:
                    ctx.first_op_at = time.time()
                t0 = time.perf_counter()
                try:
                    with rec.span("queries.build", "queries"):
                        df = fn(spark, self.data_dir)
                    with rec.span("plan", "plan"):
                        if ctx.traced:
                            df._jdf.queryExecution().executedPlan()
                    with rec.span("exec", "exec"):
                        rows = df.collect()
                except Exception as e:  # a failing query counts, the loop goes on
                    r.ok, r.error = False, f"{type(e).__name__}: {str(e)[:300]}"
                    rows, df = None, None
                r.wall = time.perf_counter() - t0
            wall += r.wall
            if rows is not None:
                r.rows = len(rows)
                if pass_no == 0:
                    self.results[name] = (list(df.columns), [tuple(x) for x in rows])
            finish_op(ctx, op, r)
            release(spark)
        return wall

    def check(self) -> None:
        ctx = self.ctx
        for r in ctx.ops:
            if not r.ok:
                ctx.failures.append(f"{r.name}: {r.error}")
        expected = checks.oracle_expectations(self.data_dir, self.names, self.oracles)
        for name in self.names:
            if name not in self.results:
                continue
            cols, rows = self.results[name]
            if name in expected:
                ok, why = checks.matches_oracle(cols, rows, expected[name])
            else:
                ok, why = checks.matches_rows_only(cols, rows, ROWS_ONLY_EXPECT.get(name))
            ctx.check(ok, f"{name}: {why}")


# -- ingestion workload ---------------------------------------------------------------


class IngestRun:
    def __init__(self, spec: IngestSpec, ctx: Context) -> None:
        self.spec, self.ctx = spec, ctx
        self.rows_ingested = 0
        self.ingest_s = 0.0
        self.source_bytes = 0
        self.write_amp: dict[int, list[float]] = {}
        self.space_amp: list[float] = []
        self.hub_files: list[int] = []
        self.quarantine_rows = 0

    def generate(self) -> None:
        pass  # batches are generated between operations, outside timing

    def _batches(self, tag: str, seed: int) -> datagen.IngestBatches:
        root = os.path.join(self.ctx.work, tag)
        shutil.rmtree(root, ignore_errors=True)
        return datagen.IngestBatches(root, seed, self.spec.orders_per_batch)

    def warm(self) -> None:
        # A throwaway ingest: the first batches in a JVM, and the first
        # HUB merge, run far slower than later ones (class loading, JIT),
        # and users pay that once.
        gen = self._batches("warm", self.ctx.seed + 7919)  # not the timed batches' seed
        for k in range(2):
            self._ingest(gen, gen.next_batch(k))
            self._read(gen)
        shutil.rmtree(gen.root, ignore_errors=True)

    def _ingest(self, gen, batch) -> int:
        from metadata_ingestion_poc_spark import framework

        observed: list[int] = []
        date = (dt.date(2026, 1, 1) + dt.timedelta(days=batch.index)).isoformat()
        framework.run(
            self.ctx.spark,
            batch.yaml_path,
            ingest_date=date,
            metrics_sink=lambda _sid, m: observed.append(m["rows_ingested"]),
        )
        return sum(observed)

    def _read(self, gen) -> tuple[int, int]:
        """One HUB read: count the rows of a sample of sent lineitem keys."""
        from pyspark.sql import functions as F

        from metadata_ingestion_poc_spark import writer

        sent = np.fromiter(gen.keys_sent["lineitem"], "int64")
        sample = np.random.default_rng(len(sent)).choice(sent, min(32, len(sent)), replace=False)
        ids = [int(x) for x in sample]
        hub = writer.read_hub(self.ctx.spark, gen.hub_path("lineitem"))
        n = (
            hub.filter(F.col("l_orderkey").isin(sorted({i // 8 for i in ids})))
            .filter((F.col("l_orderkey") * 8 + F.col("l_linenumber")).isin(ids))
            .count()
        )
        return n, len(ids)

    def run_pass(self, pass_no: int) -> float:
        ctx, rec = self.ctx, self.ctx.rec
        gen = self._batches(f"pass{pass_no}", ctx.seed * 1000 + pass_no)
        wall = 0.0
        for k in range(self.spec.batches):
            batch = gen.next_batch(k)
            r = OpRecord(f"batch{k:02d}", pass_no)
            with rec.op(r.name, "op") as op:
                if ctx.first_op_at is None:
                    ctx.first_op_at = time.time()
                t0 = time.perf_counter()
                try:
                    with rec.span("framework.run", "framework"):
                        rows = self._ingest(gen, batch)
                    t1 = time.perf_counter()
                    with rec.span("writer.read_hub", "writer"):
                        found, want = self._read(gen)
                    t2 = time.perf_counter()
                except Exception as e:  # a failing batch counts, the loop goes on
                    r.ok, r.error = False, f"{type(e).__name__}: {str(e)[:300]}"
                    t1 = t2 = time.perf_counter()
                    rows, found, want = 0, -1, 0
                r.wall = t2 - t0
            wall += r.wall
            self.rows_ingested += rows
            self.ingest_s += t1 - t0
            self.source_bytes += batch.source_bytes
            r.rows = rows
            finish_op(ctx, op, r)
            self.write_amp.setdefault(k, []).append(r.stats.values["output_bytes"] / batch.source_bytes)
            if r.ok:
                ctx.check(found == want, f"batch{k:02d}: keyed HUB read found {found} of {want} keys")
            release(ctx.spark)
        self._check_lake(gen)
        shutil.rmtree(gen.root, ignore_errors=True)
        return wall

    def _check_lake(self, gen: datagen.IngestBatches) -> None:
        from metadata_ingestion_poc_spark import writer

        ctx, spark = self.ctx, self.ctx.spark
        sizes = {zone: checks.dir_bytes(os.path.join(gen.lake, zone)) for zone in ("raw", "hub", "raw_quarantine")}
        sent_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(gen.root, "in"))
            for f in fs
            if not f.endswith(".yaml")
        )
        self.space_amp.append(sum(sizes.values()) / sent_bytes)
        self.hub_files.append(
            sum(checks.data_files(gen.hub_path(e)) for e in gen.ENTITIES)
        )
        for entity, keys in gen.HUB_KEYS.items():
            hub = writer.read_hub(spark, gen.hub_path(entity))
            n, distinct = hub.count(), hub.select(*keys).distinct().count()
            want = len(gen.keys_sent[entity])
            ctx.check(n == want, f"{entity}: HUB has {n} rows, {want} distinct keys were sent")
            ctx.check(distinct == n, f"{entity}: HUB has {n - distinct} duplicate keys")
            raw = spark.read.parquet(gen.raw_path(entity)).count()
            ctx.check(
                raw == gen.rows_sent[entity],
                f"{entity}: RAW has {raw} rows, {gen.rows_sent[entity]} clean rows were sent",
            )
        quarantined = spark.read.parquet(gen.quarantine_path).count()
        self.quarantine_rows = quarantined
        ctx.check(
            quarantined == gen.malformed_sent,
            f"quarantine has {quarantined} rows, {gen.malformed_sent} malformed lines were planted",
        )

    def check(self) -> None:
        for r in self.ctx.ops:
            if not r.ok:
                self.ctx.failures.append(f"{r.name}: {r.error}")
