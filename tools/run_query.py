"""Run any registered query from the CLI and print its result.

Usage:
    python tools/run_query.py q01_pricing_summary [sf_dir] [--explain]
    python tools/run_query.py --list
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from metadata_ingestion_poc_spark.queries import ORACLES, QUERIES

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}

    if "--list" in flags or not args:
        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name:42s} {kind}")
        return 0

    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.001"
    if name not in QUERIES:
        print(f"unknown query {name!r}; --list shows all", file=sys.stderr)
        return 2

    from metadata_ingestion_poc_spark.session import get_spark

    spark = get_spark("run-query")
    df = QUERIES[name](spark, sf_dir)
    if "--explain" in flags:
        df.explain("formatted")
    df.show(20, truncate=60)
    print(f"({df.count()} rows)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
