"""Local mirror of the driver's DuckDB-oracle correctness harness.

``check(spark, con, name, data_dir)`` is the one Spark-versus-DuckDB
comparison: it runs the registered query on Spark and, when an
``oracle_sql()`` entry exists, the oracle on DuckDB over the same
parquet tables (``oracle_connection``); it compares row count, column
names, the oracle's output types, and an order-insensitive value hash
(columns sorted by name, rows sorted, values canonicalized).

Usage:  python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canon(v):
    """Canonicalize a cell value for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full double precision; both engines produce the
        # same bits when the query follows the decimal-sum convention.
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, set)):
        # The external driver's canonicalizer sorts a pandas frame and
        # hard-errors on unhashable cells. The mirror must never accept
        # MORE than the driver, so complex cells fail loudly at build
        # time: scalarize in the query (array_join / array_to_string)
        # instead.
        raise TypeError(
            f"complex-typed output cell ({type(v).__name__}): the "
            "driver harness requires scalar cells — emit the value "
            "scalarized (e.g. array_join(col, ','))"
        )
    return str(v)


def _lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """Each row canonicalized with its columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for ln in _lines(cols, rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    if os.environ.get("CHECK_VANILLA"):
        # mimic the external driver: plain session, default confs
        # (200 shuffle partitions, no engine-specific settings)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("correctness-check-vanilla")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from metadata_ingestion_poc_spark.session import get_spark

        spark = get_spark("correctness-check")
    con = oracle_connection(sf_dir)

    n_pass = n_fail = n_rowsonly = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        out = check(spark, con, name, sf_dir)
        if out.status == "rows-only":
            print(f"rows-only {name}: {len(out.rows)} rows  [{out.seconds:.1f}s]")
            n_rowsonly += 1
        elif out.status == "match":
            print(f"PASS {name}: {len(out.rows)} rows  [{out.seconds:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: {out.detail}")
            n_fail += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


@dataclass(frozen=True)
class Outcome:
    """One query's comparison. ``status`` is ``match``, ``mismatch``,
    ``rows-only`` (no oracle registered), ``spark-error`` or
    ``oracle-error``; ``detail`` holds the problems found, one a line;
    ``cols``/``rows`` are the collected Spark result and ``seconds``
    the Spark build-and-collect time."""

    status: str
    detail: str = ""
    cols: list[str] | None = None
    rows: list[tuple] | None = None
    seconds: float = 0.0


def oracle_connection(data_dir: str):
    """A DuckDB connection with one view per catalog table of data_dir."""
    import duckdb

    from metadata_ingestion_poc_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def check(spark, con, name: str, data_dir: str) -> Outcome:
    """Run registered query ``name`` on Spark and its oracle on ``con``."""
    import __spark_entry__ as entrymod

    t0 = time.time()
    try:
        sdf = entrymod.queries()[name](spark, data_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return Outcome("spark-error", f"spark error: {type(e).__name__}: {e}")
    el = time.time() - t0
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        return Outcome("rows-only", "", scols, srows, el)
    try:
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        return Outcome(
            "oracle-error", f"duckdb error: {type(e).__name__}: {e}", scols, srows, el
        )
    problems = []
    # The external driver canonicalizes through pandas, where DuckDB
    # degrades HUGEINT/DECIMAL cells to float64 ("30143.0") while Spark
    # emits int64 ("30143") — rows/schema match but every hash differs.
    # fetchall() cannot see that, so flag the TYPES explicitly.
    wide = [
        (c, t)
        for (c, t, *_) in con.execute("DESCRIBE (" + oracle + ")").fetchall()
        if "HUGEINT" in t
        or t.startswith("DECIMAL")
        or t.startswith("UINT")
        or t.startswith("UBIGINT")
    ]
    if wide:
        problems.append(
            f"oracle emits driver-degrading column types {wide}: "
            "CAST to BIGINT/DOUBLE/VARCHAR in the oracle SQL"
        )
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
    if not problems:
        hs, hd = table_hash(scols, srows), table_hash(dcols, drows)
        if hs != hd:
            problems.append(f"value-hash spark={hs} duck={hd}")
            for a, b in zip(_lines(scols, srows), _lines(dcols, drows)):
                if a != b:
                    problems += [f"  spark: {a}", f"  duck : {b}"]
                    break
    status = "mismatch" if problems else "match"
    return Outcome(status, "\n".join(problems), scols, srows, el)


if __name__ == "__main__":
    raise SystemExit(main())
