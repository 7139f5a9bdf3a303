"""Frequent-itemset co-occurrence statistics: support / confidence /
lift over market baskets (public literature: Agrawal & Srikant,
VLDB 1994 — the Apriori counting step, reduced to its Spark-native
shape). The association-rule primitive every curation stack wants for
"which categories co-occur in an order / which tags co-occur on a
document" — completing the analytics surface next to the pairwise
similarity family (q51/q249), which measures OVERLAP of value sets
rather than co-occurrence ACROSS baskets.

The 100-TB shape:
- ONE (basket, item) DISTINCT rollup — presence, not multiplicity,
  is what basket stats count — is the only data-sized exchange.
- The pair generation is a self-equi-join on the basket key whose
  fanout is bounded by items-per-basket (≤ m(m−1)/2 pairs per
  basket; TPC-H orders hold ≤ 7 items). NEVER a cartesian: the join
  key is the basket id, and `i.item < j.item` dedups orientation.
- min-support pruning runs on the PAIR counts BEFORE the per-item
  count joins (the Apriori downward-closure trick): the joined frame
  is the qualifying-pair set, not the raw pair set.
- Per-item counts join back by item key (shuffle join — the item
  dimension is NOT assumed broadcastable at scale); `top_k` bounds
  the output through one TakeOrdered, no global materialized sort.

Cross-engine exactness (functions/determinism.py): every count is an
exact BIGINT; support, confidence, and lift each ship as ONE raw IEEE
division of exact integer operands (n_pair·N and n_a·n_b stay below
2⁶³ for basket counts < 3e9; beyond that, widen to the q276 string
pattern) — the safe float class, bit-identical on any engine version.
Ranking (top_k) orders on (n_pair, lift) with the (item_a, item_b)
tie-break, so the cut is engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_lift(
    df: DataFrame,
    basket_col: str,
    item_expr: str,
    min_pair_support: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """(item_a, item_b, n_a, n_b, n_pair, n_baskets, support,
    confidence, lift) for every unordered item pair co-occurring in
    at least ``min_pair_support`` baskets.

    support = n_pair/N, confidence = P(b|a) = n_pair/n_a (a is the
    lexicographically smaller item), lift = n_pair·N/(n_a·n_b) —
    lift > 1 means the pair co-occurs more than independent items
    would.
    """
    if min_pair_support < 1:
        raise ValueError(
            f"min_pair_support must be >= 1, got {min_pair_support}"
        )
    bi = (
        df.selectExpr(
            f"{basket_col} AS basket", f"{item_expr} AS item"
        )
        .distinct()
        # consumed FOUR times (both self-join sides, the item counts,
        # the basket count): persist so the upstream join/distinct
        # runs once. persist() — NOT localCheckpoint — because local-
        # checkpoint blocks live only on executors with the LINEAGE
        # DROPPED, so one lost executor in a long-running cluster job
        # would make all four consumers unrecoverable; persist keeps
        # the lineage and recomputes lost partitions (the 100-TB
        # failure-model requirement). The distinct's output layout is
        # the post-shuffle partitioning (full parallelism), not the
        # raw input splits the spread rule in SCALING.md warns
        # about. Callers that loop may .unpersist() the result's
        # ancestors when done.
        .persist()
    )
    n_baskets = bi.select("basket").distinct().count()
    item_cnt = bi.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a, b = bi.alias("a"), bi.alias("b")
    pairs = (
        a.join(b, "basket")
        .filter(F.expr("a.item < b.item"))
        .select(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_support)
    )
    out = (
        pairs.join(
            item_cnt.withColumnRenamed("item", "item_a").withColumnRenamed(
                "n_item", "n_a"
            ),
            "item_a",
        )
        .join(
            item_cnt.withColumnRenamed("item", "item_b").withColumnRenamed(
                "n_item", "n_b"
            ),
            "item_b",
        )
        .selectExpr(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_pair",
            f"CAST({n_baskets} AS BIGINT) AS n_baskets",
            # three RAW single divisions of exact integer operands —
            # the determinism.py safe class, no ROUND
            f"CAST(n_pair AS DOUBLE) / CAST({n_baskets} AS DOUBLE)"
            " AS support",
            "CAST(n_pair AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " AS confidence",
            f"CAST(n_pair * {n_baskets} AS DOUBLE)"
            " / CAST(n_a * n_b AS DOUBLE) AS lift",
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.desc("n_pair"), F.desc("lift"), "item_a", "item_b"
        ).limit(top_k)
    return out
