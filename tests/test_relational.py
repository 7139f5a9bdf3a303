from __future__ import annotations

from metadata_ingestion_poc_spark.queries import ORACLES, QUERIES


def test_q01_pricing_summary_shape(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 8  # |returnflag| x |linestatus| groups
    assert rows == sorted(rows, key=lambda r: (r.l_returnflag, r.l_linestatus))
    for r in rows:
        assert r.count_order > 0
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-3


def test_q04_broadcast_join_in_plan(spark, sf_dir):
    df = QUERIES["q04_join_inner_broadcast"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    df = QUERIES["q10_topk_orders"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert len(df.collect()) == 25


def test_every_query_runs_and_every_oracle_key_exists(registry_schema):
    for name in QUERIES:
        assert registry_schema(name).fieldNames(), name
    for name in ORACLES:
        assert name in QUERIES, name
