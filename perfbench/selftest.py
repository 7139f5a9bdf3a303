"""Self-test of the benchmark at sf0.001 with a tiny batch count.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json lists the workloads and metrics the code
reports, that every run reports every named metric with its unit, with
tracing off and on, and that the output checks catch planted faults: a
wrong query result, a rows-only result with a missing row, and a
duplicated HUB key. Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from layers import per_layer_names  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {
    "llm_operators": dataclasses.replace(WORKLOADS["llm_operators"], prefixes=("q57", "q90"), warm=()),
    "ingest_incremental": dataclasses.replace(
        WORKLOADS["ingest_incremental"], batches=2, orders_per_batch=200
    ),
}


def expect(ok: bool, what: str) -> None:
    if not ok:
        print(f"selftest FAILED: {what}", file=sys.stderr)
        raise SystemExit(1)


def check_benchmark_json() -> None:
    """BENCHMARK.json names exactly the workloads and metrics the code reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    expect(
        [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
        and all(w["why"] == WORKLOADS[w["name"]].why for w in doc["workloads"]),
        "BENCHMARK.json workloads differ from workloads.WORKLOADS",
    )
    expect(
        [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(run.END_TO_END),
        "BENCHMARK.json end_to_end differs from run.END_TO_END",
    )
    expect(
        [(m["name"], m["unit"]) for m in doc["per_layer"]] == per_layer_names(),
        "BENCHMARK.json per_layer differs from layers.per_layer_names()",
    )


def check_metrics(work: str) -> None:
    for name, spec in TINY.items():
        for trace in (0, 1):
            args = argparse.Namespace(workload=name, seed=1, seconds=0, trace=trace)
            result = run.run(args, os.path.join(work, f"{name}-{trace}"), spec=spec)
            want = dict(per_layer_names() if trace else run.END_TO_END)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: metrics {sorted(got)} != {sorted(want)}")
            expect(
                all(isinstance(v["value"], float) for v in result["metrics"].values()),
                f"{name} trace={trace}: a metric value is not a number",
            )
            expect(
                result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                f"{name} trace={trace}: unexpected result {result['correct']}, {result['failed']} failed",
            )
            if not trace:
                zero = [k for k, v in result["metrics"].items() if v["value"] <= 0]
                expect(not zero, f"{name}: end-to-end metrics read 0: {zero}")


def check_planted_faults(work: str) -> None:
    from pyspark.sql import functions as F

    from metadata_ingestion_poc_spark.queries import ORACLES, QUERIES
    from metadata_ingestion_poc_spark.session import get_spark
    from tracing import Recorder, SparkStatus
    from workloads import Context, IngestRun, QueryRun

    run._prepare_environment(work)
    spark = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    try:
        ctx = Context(spark, Recorder(spark.sparkContext, False), SparkStatus(spark), work, 1, False)

        queries = QueryRun(TINY["llm_operators"], ctx, QUERIES, ORACLES)
        queries.generate()
        queries.run_pass(0)
        queries.check()
        expect(not ctx.failures, f"unplanted query checks failed: {ctx.failures}")

        cols, rows = queries.results["q57_cosine_near_dup_exact"]
        i = next(j for j, v in enumerate(rows[0]) if isinstance(v, (int, float)) and not isinstance(v, bool))
        rows[0] = rows[0][:i] + (rows[0][i] + 1,) + rows[0][i + 1 :]
        cols90, rows90 = queries.results["q90_ivf_ann_topk"]
        queries.results["q90_ivf_ann_topk"] = (cols90, rows90[:-1])
        queries.check()
        expect(
            any(f.startswith("q57_cosine_near_dup_exact:") for f in ctx.failures),
            "a wrong value in an oracle-bearing result went unnoticed",
        )
        expect(
            any(f.startswith("q90_ivf_ann_topk:") for f in ctx.failures),
            "a missing row in a rows-only result went unnoticed",
        )

        ctx.failures.clear()
        ingest = IngestRun(TINY["ingest_incremental"], ctx)
        gen = ingest._batches("fault", 1)
        for k in range(2):
            ingest._ingest(gen, gen.next_batch(k))
        ingest._check_lake(gen)
        expect(not ctx.failures, f"unplanted lake checks failed: {ctx.failures}")

        hub = gen.hub_path("orders")
        spark.read.parquet(hub).orderBy("o_orderkey").limit(1).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        ).write.mode("append").parquet(hub)
        ingest._check_lake(gen)
        expect(
            any("orders: HUB has" in f and "duplicate" in f for f in ctx.failures),
            f"a duplicated HUB key went unnoticed: {ctx.failures}",
        )
    finally:
        run._stop(spark)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    check_benchmark_json()
    try:
        # faults first: a traced run leaves layer wrappers installed on the
        # engine's modules for the rest of the process
        check_planted_faults(os.path.join(work, "faults"))
        check_metrics(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
