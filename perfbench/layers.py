"""Which engine functions belong to which layer, and the per-layer metrics.

The layers are the engine's own modules:

==========  ============================================================
session     registry import, ``session.get_spark``, warm-up (set-up only)
catalog     ``catalog.load_table``
queries     the registered query function (driver-side frame build)
operators   every public function of ``operators/*.py``
plan        forcing ``queryExecution().executedPlan()``
exec        collecting the result
sources     the reader ``sources.get_reader`` hands to the framework
framework   ``framework.run`` / ``run_source``, audit columns, quarantine
writer      ``write_raw``, ``write_hub``, ``read_hub``
staging     ``staging.recover`` and ``staging.commit_swap``
==========  ============================================================

``install`` replaces module attributes with span-recording wrappers. It
must run before ``metadata_ingestion_poc_spark.queries`` is imported:
query modules bind ``load_table`` and operator functions at import time.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections import defaultdict

from tracing import JobStats, Recorder, Span, public_functions, self_seconds

LAYERS = (
    "catalog",
    "queries",
    "operators",
    "plan",
    "exec",
    "sources",
    "framework",
    "writer",
    "staging",
)

# Operator modules the llm_operators queries reach; each gets a self-time
# and a call-count metric. Modules outside this list still count in the
# `operators` totals.
OPERATOR_MODULES = (
    "clustering",
    "components",
    "coverage",
    "dedup",
    "graph",
    "pq",
    "similarity",
)

WRITE_AMP_BATCHES = 8


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run reports, with its unit."""
    names = [
        ("session.registry_import_s", "s"),
        ("session.get_spark_s", "s"),
        ("session.warm_s", "s"),
        ("catalog.load_table.calls", "count"),
        ("catalog.load_table.s", "s"),
        ("catalog.load_table.jobs", "count"),
        ("queries.build_s", "s"),
        ("queries.build_jobs", "count"),
        ("queries.build_stages", "count"),
        ("operators.self_s", "s"),
        ("operators.jobs", "count"),
    ]
    for m in OPERATOR_MODULES:
        names += [(f"operators.{m}.self_s", "s"), (f"operators.{m}.calls", "count")]
    names += [
        ("plan.s", "s"),
        ("exec.s", "s"),
        ("exec.jobs", "count"),
        ("exec.stages", "count"),
        ("exec.tasks", "count"),
        ("exec.executor_run_s", "s"),
        ("exec.executor_cpu_s", "s"),
        ("exec.input_bytes", "bytes"),
        ("exec.shuffle_write_bytes", "bytes"),
        ("exec.spill_bytes", "bytes"),
        ("sources.read_s", "s"),
        ("sources.read_jobs", "count"),
        ("framework.audit_s", "s"),
        ("framework.quarantine_s", "s"),
        ("framework.quarantine_rows", "count"),
        ("framework.read_amp", "ratio"),
        ("writer.raw_s", "s"),
        ("writer.raw_bytes", "bytes"),
        ("writer.hub_s", "s"),
        ("writer.hub_bytes_written", "bytes"),
        ("writer.hub_files", "count"),
    ]
    names += [(f"writer.write_amp.b{i:02d}", "ratio") for i in range(WRITE_AMP_BATCHES)]
    names += [
        ("writer.read_hub_s", "s"),
        ("writer.space_amp", "ratio"),
        ("staging.commit_swap_s", "s"),
        ("staging.recover_s", "s"),
    ]
    names += [(f"{layer}.self_total_s", "s") for layer in LAYERS]
    names += [
        ("trace.wall_s", "s"),
        ("trace.span_coverage", "ratio"),
        ("trace.spans", "count"),
    ]
    return names


def install(rec: Recorder, workload_kind: str) -> None:
    """Wrap the public functions of every layer the workload calls."""
    if workload_kind == "queries":
        from metadata_ingestion_poc_spark import catalog, operators

        catalog.load_table = rec.wrap(catalog.load_table, "catalog.load_table", "catalog")
        for info in pkgutil.iter_modules(operators.__path__):
            mod = importlib.import_module(f"{operators.__name__}.{info.name}")
            for name in public_functions(mod):
                setattr(mod, name, rec.wrap(getattr(mod, name), f"operators.{info.name}.{name}", "operators"))
        return

    from metadata_ingestion_poc_spark import framework, writer

    get_reader = framework.get_reader

    def traced_reader(kind: str):
        return rec.wrap(get_reader(kind), f"sources.{kind}", "sources")

    framework.get_reader = traced_reader
    framework.add_audit_columns = rec.wrap(framework.add_audit_columns, "framework.audit", "framework")
    framework.quarantine_malformed = rec.wrap(
        framework.quarantine_malformed, "framework.quarantine", "framework"
    )
    framework.run_source = rec.wrap(framework.run_source, "framework.run_source", "framework")
    framework.to_hub = rec.wrap(framework.to_hub, "framework.to_hub", "framework")
    framework.write_raw = rec.wrap(framework.write_raw, "writer.raw", "writer")
    framework.write_hub = rec.wrap(framework.write_hub, "writer.hub", "writer")
    writer.recover = rec.wrap(writer.recover, "staging.recover", "staging")
    writer.commit_swap = rec.wrap(writer.commit_swap, "staging.commit_swap", "staging")


class LayerTotals:
    """Accumulates per-layer numbers over the operations of a traced run."""

    def __init__(self) -> None:
        self.v: dict[str, float] = defaultdict(float)
        self.op_wall = 0.0
        self.op_uncovered = 0.0

    def add_op(self, op: Span, spans: list[Span], kids: dict, self_jobs: dict[int, JobStats]) -> None:
        """Fold one finished operation; ``self_jobs`` maps span id to the
        jobs whose innermost span it is."""
        v = self.v
        by_id = {s.id: s for s in spans}

        def inclusive(span: Span) -> JobStats:
            out = JobStats()
            todo = [span]
            while todo:
                s = todo.pop()
                if s.id in self_jobs:
                    out.add(self_jobs[s.id])
                todo.extend(kids[s.id])
            return out

        def reads_hub(span: Span) -> bool:
            """True inside the HUB merge or the post-batch HUB read."""
            p: int | None = span.id
            while p is not None and p in by_id:
                if by_id[p].name in ("writer.hub", "writer.read_hub"):
                    return True
                p = by_id[p].parent
            return False

        self.op_wall += op.end - op.start
        self.op_uncovered += self_seconds(op, kids)
        for s in spans:
            if s.id == op.id:
                continue
            dur, own_s = s.end - s.start, self_seconds(s, kids)
            v[f"{s.layer}.self_total_s"] += own_s
            v["trace.spans"] += 1
            name = s.name
            if name == "catalog.load_table":
                inc = inclusive(s)
                v["catalog.load_table.calls"] += 1
                v["catalog.load_table.s"] += dur
                v["catalog.load_table.jobs"] += inc.jobs
            elif name == "queries.build":
                inc = inclusive(s)
                v["queries.build_s"] += dur
                v["queries.build_jobs"] += inc.jobs
                v["queries.build_stages"] += inc.stages
            elif s.layer == "operators":
                own = self_jobs.get(s.id, JobStats())
                mod = name.split(".")[1]
                v["operators.self_s"] += own_s
                v["operators.jobs"] += own.jobs
                v[f"operators.{mod}.self_s"] += own_s
                v[f"operators.{mod}.calls"] += 1
            elif name == "plan":
                v["plan.s"] += dur
            elif name == "exec":
                inc = inclusive(s)
                v["exec.s"] += dur
                v["exec.jobs"] += inc.jobs
                v["exec.stages"] += inc.stages
                for k in ("tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    v[f"exec.{k}"] += inc.values[k]
            elif s.layer == "sources":
                v["sources.read_s"] += dur
                v["sources.read_jobs"] += inclusive(s).jobs
            elif name == "framework.audit":
                v["framework.audit_s"] += dur
            elif name == "framework.quarantine":
                v["framework.quarantine_s"] += dur
            elif name == "writer.raw":
                v["writer.raw_s"] += dur
                v["writer.raw_bytes"] += inclusive(s).values["output_bytes"]
            elif name == "writer.hub":
                inc = inclusive(s)
                v["writer.hub_s"] += dur
                v["writer.hub_bytes_written"] += inc.values["output_bytes"]
            elif name == "writer.read_hub":
                v["writer.read_hub_s"] += dur
            elif name == "staging.commit_swap":
                v["staging.commit_swap_s"] += dur
            elif name == "staging.recover":
                v["staging.recover_s"] += dur
            # bytes read from source files: every job of the batch except
            # those reading the HUB (its merge and the post-batch read)
            if s.layer in ("sources", "framework", "writer", "staging") and not reads_hub(s):
                v["_source_input_bytes"] += self_jobs.get(s.id, JobStats()).values["input_bytes"]

    def metrics(self) -> dict[str, float]:
        out = dict(self.v)
        out["trace.span_coverage"] = 1.0 - self.op_uncovered / self.op_wall if self.op_wall else 0.0
        return out
