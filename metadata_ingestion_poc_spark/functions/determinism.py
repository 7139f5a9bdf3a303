"""Cross-engine-deterministic aggregation helpers.

Summing doubles is order-dependent, and Spark's partial aggregation
order differs from DuckDB's (and from itself across partitionings).
Casting each addend to DECIMAL(28,6) first makes the reduction exact —
decimal addition is associative — so every engine and every partition
layout produces the identical value; results are rounded and cast back
to double for stable hashing. SQL equivalent:
``ROUND(SUM(CAST(x AS DECIMAL(28,6))), 6)::DOUBLE``.

Scalar-expression rule (the q276 lesson: a float cell hashes the same
only if every engine, at every version, computes the identical bits):

1. EXACT cells are the only hash-SAFE story. Integers, integer pairs
   (exact rationals, q276), FLOOR-pinned integer micro-grids (q297),
   and strings are bit-identical on every engine and every engine
   VERSION. Wide integers (beyond int64) must ship as STRINGS:
   DECIMAL(38,0)/HUGEINT output cells degrade to float64 in duckdb's
   pandas path and to decimal.Decimal in Spark's, so only the string
   form hashes identically under any canonicalizer.
2. The safe FLOAT class: correctly-rounded IEEE primitives
   (+ − × ÷ sqrt, INT64-or-narrower→double conversion, FLOOR) over
   exact operands are fully specified by IEEE-754, so even a CHAIN of
   them is bit-identical across engines AND versions when both
   evaluate the identical expression tree (q293's estimator, q297's
   weight chain). The conversion clause is deliberately scoped to
   ≤64-bit integers: IEEE-754 only pins conversions the platform
   represents exactly-or-rounds-once, and every engine implements
   int64→double as a single correctly-rounded op.
3. The HAZARD class: ``ROUND(non-exact-double, d)`` — Spark rounds
   the shortest-repr BigDecimal HALF_UP, DuckDB rounds the binary
   value, and DuckDB's own implementation CHANGED across releases
   (the q276 red: mirrored ROUND text diverged only on the driver's
   DuckDB). Likewise transcendentals (exp/ln/pow — libm, not
   correctly rounded). ALSO hazard: WIDE-integer→double conversion —
   DECIMAL(38,0)/HUGEINT→double is implementation-defined (DuckDB
   composes upper·2^64 + lower in double arithmetic, a DOUBLE
   rounding; Spark's BigDecimal.doubleValue rounds once), so a rank
   such as q276's best split must not read one. Never convert a >64-bit integer to double anywhere a hashed
   cell or a rank/argmax depends on it — extract decimal digits with
   exact integer division instead (``div`` on DECIMAL(38,0) ≡ ``//``
   on HUGEINT ≡ Python ``//``, verified bit-identical; q276's rank
   key is built this way). Rounding a chain at 6 dp REDUCES but does not
   ELIMINATE cross-version risk: a value within ~1e-9 of a 6-dp
   boundary still flips. Where such a cell must ship (exp/ln
   outputs), keep ROUND(6) and accept the documented residual risk —
   never rank/argmax on it without an exact tie-break key.

Aggregation rule unchanged: double addends go through DECIMAL(28,6)
so the reduction is exact and order-independent. Never derive integer
grid keys via ``ROUND`` or ``CAST`` on a double: DuckDB CASTs
double->INT by rounding while Spark truncates; use
``CAST(FLOOR(x + 0.5) AS INT)`` on non-negative grids instead.
The grep-able float-bearing-output audit lives in SCALING.md
("Float-bearing oracle cells").
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from typing import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEC = "decimal(28,6)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent sum of a double column (exact via decimal)."""
    return F.round(F.sum(_c(col).cast(DEC)), 6).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count, rounded."""
    c = _c(col)
    return (
        F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), 6)
        .cast("double")
        .alias(alias)
    )


def sql_dsum(expr: str, alias: str) -> str:
    return f"ROUND(SUM(CAST({expr} AS DECIMAL(28,6))), 6)::DOUBLE AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"
        f" / COUNT({expr}), 6)::DOUBLE AS {alias}"
    )


def half_up(v: float, decimals: int) -> float:
    # HALF_UP, matching SQL ROUND / F.round everywhere else. Python's
    # builtin round() is banker's rounding: a .5-tie cut value would
    # silently shift a band boundary between engines.
    q = Decimal(1).scaleb(-decimals)
    return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))


def literal_row(
    spark: SparkSession, values: Mapping[str, float], decimals: int = 6
) -> DataFrame:
    """One-row literal DataFrame of named double cut values, each
    rounded HALF_UP at ``decimals`` dp.

    The pattern: a small frame of percentile cuts (or any provably-
    one-row statistic) consumed by several downstream operators should
    be collected once and re-created as a LITERAL frame, so the
    consumer plan carries a handful of doubles instead of re-executing
    the producing operator's join tree per consumer (q236's plan went
    37 -> 5 Exchanges this way).
    """
    names = list(values)
    return spark.createDataFrame(
        [tuple(half_up(values[n], decimals) for n in names)],
        ", ".join(f"{n} double" for n in names),
    )


def sql_double(x: float) -> str:
    """A finite value as a Spark SQL double literal (``repr`` + ``D``:
    the shortest round-tripping form, so the literal parses back to
    the identical double). Non-finite values have no literal form —
    ``nanD`` would parse as a column name — so they raise instead."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"sql_double: non-finite value {v!r}")
    return repr(v) + "D"


def sql_array(values) -> str:
    """A (nested) list as ONE Spark SQL array literal — the form every
    centroid, codebook, rotation and norm table enters a plan in: a
    float through :func:`sql_double` (so NaN/inf raise), an int bare.
    One literal per array, never ``F.lit(list)``, which creates one
    py4j Column per element (seconds of driver time at thousands of
    elements)."""
    if isinstance(values, (list, tuple)):
        return "array(" + ", ".join(sql_array(v) for v in values) + ")"
    if isinstance(values, int) and not isinstance(values, bool):
        return str(values)
    return sql_double(values)


def collect_literal_row(df: DataFrame, decimals: int = 6) -> DataFrame:
    """Collect a provably-one-row frame of doubles and re-create it as
    a literal one-row frame (see :func:`literal_row`). The collect is
    bounded by construction: callers pass aggregate/cut frames whose
    row count is exactly 1."""
    rows = df.collect()
    if len(rows) != 1:
        raise ValueError(
            f"collect_literal_row expects exactly 1 row, got {len(rows)}"
        )
    return literal_row(
        df.sparkSession, rows[0].asDict(), decimals=decimals
    )
