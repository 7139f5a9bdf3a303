"""Output checks, run outside every timed window.

Query results are compared with the DuckDB oracle the registry carries,
using the comparison of ``tools/check.py`` (row count, column names and
its order-insensitive value hash), imported as is. Queries without an
oracle are checked for the row count and schema their definition fixes.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from metadata_ingestion_poc_spark.catalog import TABLES  # noqa: E402
from tools.check import table_hash  # noqa: E402


def oracle_expectations(data_dir: str, names: list[str], oracles: dict) -> dict:
    """Run each oracle on DuckDB: name -> (columns, row count, value hash)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            if name not in oracles:
                continue
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (cols, len(rows), table_hash(cols, rows))
        return out
    finally:
        con.close()


def matches_oracle(cols: list[str], rows: list[tuple], expected) -> tuple[bool, str]:
    dcols, n, h = expected
    if len(rows) != n:
        return False, f"rowcount spark={len(rows)} oracle={n}"
    if sorted(cols) != sorted(dcols):
        return False, f"schema spark={sorted(cols)} oracle={sorted(dcols)}"
    try:
        hs = table_hash(cols, rows)
    except TypeError as e:
        return False, str(e)
    return (hs == h, f"value-hash spark={hs} oracle={h}")


def matches_rows_only(cols: list[str], rows: list[tuple], expected) -> tuple[bool, str]:
    if expected is None:
        return False, "no oracle and no expected row count"
    n, want_cols = expected
    if len(rows) != n:
        return False, f"rowcount {len(rows)}, expected {n}"
    if sorted(cols) != sorted(want_cols):
        return False, f"schema {sorted(cols)}, expected {sorted(want_cols)}"
    return True, "ok"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def data_files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if not f.startswith(("_", ".")) and f.endswith(".parquet")
    )
