"""Benchmark of the engine: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload llm_operators --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py for why each was chosen): ``llm_operators``
and ``ingest_incremental``. Inputs are generated from
``--seed`` into a work directory inside the checkout, which is removed at
exit. The run sets up (registry import, Spark session, input generation,
warm-up), then repeats whole timed passes until ``--seconds`` have
passed, then checks every output. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

where ``failed`` counts failed operations plus failed output checks
(``failed / attempted`` is the error rate); the exit code is 1 when any
check failed.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` layer spans are recorded and the metrics are the per-layer
ones (layers.py), and the spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time this process started, from /proc when available."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "metadata_ingestion_poc_spark"

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("cpu_s", "s"),
    ("rows_per_s", "rows/s"),
)


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return 0


def _prepare_environment(work: str) -> None:
    # Spark's scratch space, the JVM's and Python's temp files stay in the checkout.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str, spec=None) -> dict:
    """One benchmark run; ``spec`` overrides the named workload's definition."""
    from layers import install, per_layer_names
    from tracing import Recorder, SparkStatus
    from workloads import WORKLOADS, Context, IngestRun, QueryRun

    spec = spec or WORKLOADS[args.workload]
    traced = bool(args.trace)
    _prepare_environment(work)

    rec = Recorder(None, traced)
    t0 = time.perf_counter()
    if traced:
        install(rec, spec.kind)
    if spec.kind == "queries":
        from metadata_ingestion_poc_spark.queries import ORACLES, QUERIES
    else:
        from metadata_ingestion_poc_spark import framework, writer  # noqa: F401
    from metadata_ingestion_poc_spark.session import get_spark

    t1 = time.perf_counter()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t2 = time.perf_counter()
    try:
        rec.sc = spark.sparkContext
        ctx = Context(spark, rec, SparkStatus(spark), work, args.seed, traced)
        wl = QueryRun(spec, ctx, QUERIES, ORACLES) if spec.kind == "queries" else IngestRun(spec, ctx)
        wl.generate()
        t3 = time.perf_counter()
        wl.warm()
        t4 = time.perf_counter()

        pass_walls, pass_no = [], 0
        steal0 = _steal_ticks()
        started = time.perf_counter()
        while pass_no == 0 or time.perf_counter() - started < args.seconds:
            pass_walls.append(wl.run_pass(pass_no))
            pass_no += 1
        steal = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / cores / (time.perf_counter() - started)
        wl.check()
    finally:
        _stop(spark)

    ops = ctx.ops
    walls = [r.wall for r in ops]
    cpu_by_pass = [
        sum(r.stats.values["executor_cpu_s"] for r in ops if r.pass_no == p) for p in range(pass_no)
    ]
    if spec.kind == "queries":
        rows_per_s = sum(r.rows for r in ops) / sum(walls)
    else:
        rows_per_s = wl.rows_ingested / wl.ingest_s
    e2e = {
        "setup_s": ctx.first_op_at - PROCESS_START,
        "wall_s": statistics.median(pass_walls),
        "op_p50_s": statistics.median(walls),
        "cpu_s": statistics.median(cpu_by_pass),
        "rows_per_s": rows_per_s,
    }
    print(
        f"{args.workload} seed={args.seed} passes={pass_no} ops={len(ops)} "
        f"op_max={max(walls):.3f}s host_probe={1e3 * statistics.median(ctx.host_probe):.2f}ms steal={100 * steal:.1f}% checks={ctx.checks_run} failures={len(ctx.failures)} "
        f"import={t1 - t0:.2f}s spark={t2 - t1:.2f}s generate={t3 - t2:.2f}s warm={t4 - t3:.2f}s",
        file=sys.stderr,
    )
    for f in ctx.failures:
        print(f"FAILED {f}", file=sys.stderr)

    if traced:
        layer = ctx.totals.metrics()
        layer.update(
            {
                "session.registry_import_s": t1 - t0,
                "session.get_spark_s": t2 - t1,
                "session.warm_s": t4 - t3,
                "trace.wall_s": e2e["wall_s"],
            }
        )
        if spec.kind == "ingest":
            layer["framework.quarantine_rows"] = wl.quarantine_rows
            layer["framework.read_amp"] = layer.get("_source_input_bytes", 0.0) / wl.source_bytes
            layer["writer.hub_files"] = statistics.median(wl.hub_files)
            layer["writer.space_amp"] = statistics.median(wl.space_amp)
            for k, ratios in wl.write_amp.items():
                layer[f"writer.write_amp.b{k:02d}"] = statistics.median(ratios)
        units = dict(per_layer_names())
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    _write_detail(args, rec, ops, e2e, {"host_probe_s": statistics.median(ctx.host_probe), "steal": steal})
    return {
        "correct": not ctx.failures,
        "attempted": len(ops),
        "failed": len(ctx.failures),
        "metrics": metrics,
    }


def _write_detail(args, rec, ops, e2e, host) -> None:
    """Per-operation times, and with tracing on every span, for later study."""
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "end_to_end": e2e,
                "host": host,
                "ops": [
                    {"name": r.name, "pass": r.pass_no, "wall": r.wall, "ok": r.ok, "jobs": r.stats.jobs,
                     "cpu_s": r.stats.values["executor_cpu_s"]}
                    for r in ops
                ],
                "spans": rec.to_records(),
            },
            f,
        )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check.py")
    ):
        print(f"perfbench: {PACKAGE}/ and tools/check.py must sit beside perfbench/", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
