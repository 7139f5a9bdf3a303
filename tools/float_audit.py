"""Float-bearing oracle-cell audit (the q276 lesson, round 13).

Every DOUBLE column in an oracle-bearing query's output is a
potential cross-engine-VERSION hash hazard (see
functions/determinism.py). This tool enumerates them all, classifies
each by the defining oracle expression, and rewrites the
"Float-bearing oracle cells" section of SCALING.md so the registry's
float exposure is grep-able:

- ``exact-decimal-sum``: ROUND over a DECIMAL(28,6) sum — the operand
  is exact, ROUND is decimal quantization, the cast back to double is
  correctly rounded. SAFE.
- ``raw-ieee``: division/sqrt/arithmetic chains of exact operands
  with NO ROUND — every op is a correctly-rounded IEEE primitive, so
  the chain is bit-identical across engines and versions. SAFE.
- ``transcendental-round6``: the expression passes through
  exp/ln/pow/erf (libm — not correctly rounded) and ships ROUND(·,6).
  RESIDUAL RISK: a value within ~1ulp-of-libm of a 6-dp boundary can
  flip across engine versions; accepted and documented because the
  quantity is inherently transcendental.
- ``round6-chain``: ROUND(·,6) over a non-exact, non-transcendental
  chain — the exact class that kept q276 red two rounds. Each entry
  needs an explicit justification or a migration to an exact
  emission; the count of these should only ever shrink.

Usage: python tools/float_audit.py [--write] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_TRANSCENDENTAL = re.compile(r"\b(exp|ln|log|log2|log10|pow|power)\s*\(", re.I)
_DECSUM = re.compile(r"round\s*\(\s*(cast\s*\()?\s*sum\s*\(", re.I)
_ROUND = re.compile(r"\bround\s*\(", re.I)


def _select_items(sql: str) -> dict[str, str]:
    """alias -> defining expression, for every `expr AS alias` at any
    depth (paren-aware backward scan from each AS)."""
    out: dict[str, str] = {}
    for m in re.finditer(r"\bAS\s+([A-Za-z_][A-Za-z_0-9]*)", sql):
        alias = m.group(1)
        if alias.upper() in ("MATERIALIZED",):
            continue
        i = m.start() - 1
        depth = 0
        start = 0
        while i >= 0:
            ch = sql[i]
            if ch == ")":
                depth += 1
            elif ch == "(":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                start = i + 1
                break
            i -= 1
        expr = sql[start:m.start()].strip()
        # keep the LAST definition (final SELECT usually wins)
        out[alias] = expr
    return out


def classify(expr: str) -> str:
    has_round = bool(_ROUND.search(expr))
    if _DECSUM.search(expr):
        return "exact-decimal-sum"
    if _TRANSCENDENTAL.search(expr):
        return "transcendental-round6" if has_round else "raw-ieee-transcendental"
    if has_round:
        return "round6-chain"
    return "raw-ieee"


def audit(sf: str) -> list[tuple[str, str, str, str]]:
    import __spark_entry__ as em
    from metadata_ingestion_poc_spark.session import get_spark

    spark = get_spark("float-audit")
    qs, oracles = em.queries(), em.oracle_sql()
    rows = []
    for name, fn in qs.items():
        df = fn(spark, sf)
        dbl = [
            f.name for f in df.schema.fields
            if f.dataType.simpleString() in ("double", "float")
        ]
        if not dbl:
            continue
        if name not in oracles:
            for c in dbl:
                rows.append((name, c, "rows-only", "not hashed by the driver"))
            continue
        items = _select_items(oracles[name])
        for c in dbl:
            expr = items.get(c, "")
            # a double column with no `AS` alias in the oracle is a
            # bare source-column passthrough: the exact parquet value
            # reaches both engines untouched. SAFE.
            cls = classify(expr) if expr else "source-passthrough"
            rows.append((name, c, cls, expr[:80].replace("\n", " ")))
    spark.stop()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="parquet table directory to build schemas against",
    )
    ap.add_argument(
        "--write",
        action="store_true",
        help="rewrite the FLOAT_AUDIT block in SCALING.md in place",
    )
    args = ap.parse_args()
    rows = audit(args.sf_dir)
    counts: dict[str, int] = {}
    for _, _, cls, _ in rows:
        counts[cls] = counts.get(cls, 0) + 1
    lines = [
        "<!-- FLOAT_AUDIT_BEGIN (generated by tools/float_audit.py) -->",
        "",
        f"Class counts: {dict(sorted(counts.items()))}",
        "",
        "| query | column | class |",
        "|---|---|---|",
    ]
    for name, col, cls, _ in rows:
        lines.append(f"| {name} | {col} | {cls} |")
    lines.append("<!-- FLOAT_AUDIT_END -->")
    block = "\n".join(lines)
    if args.write:
        path = os.path.join(ROOT, "SCALING.md")
        src = open(path).read()
        begin, end = (
            "<!-- FLOAT_AUDIT_BEGIN (generated by tools/float_audit.py) -->",
            "<!-- FLOAT_AUDIT_END -->",
        )
        if begin in src:
            pre = src.split(begin)[0]
            post = src.split(end)[1]
            src = pre + block + post
        else:
            src += "\n" + block + "\n"
        open(path, "w").write(src)
        print(f"wrote {len(rows)} rows to SCALING.md")
    else:
        print(block)
    for name, col, cls, expr in rows:
        if cls in ("round6-chain", "unresolved"):
            print(f"REVIEW {name}.{col}: {expr}")


if __name__ == "__main__":
    main()
