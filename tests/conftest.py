from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from metadata_ingestion_poc_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_schema(spark, sf_dir):
    """Build every registered query once per session on ``sf_dir``.
    Returns ``schema(name)``: the query's output schema, or its build
    exception re-raised with the query named in a note."""
    from metadata_ingestion_poc_spark.queries import QUERIES

    built = {}
    for name, fn in QUERIES.items():
        try:
            built[name] = fn(spark, sf_dir).schema
        except Exception as e:
            e.add_note(f"raised while building registered query {name}")
            built[name] = e

    def schema(name):
        got = built[name]
        if isinstance(got, Exception):
            raise got
        return got

    return schema
