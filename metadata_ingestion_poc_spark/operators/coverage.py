"""Greedy maximum-coverage document selection (budgeted set cover).

The classic submodular curation primitive (Nemhauser/Wolsey/Fisher
1978 greedy, public literature): pick R documents one at a time, each
maximizing the number of distinct shingles not yet covered by earlier
picks — the "most new information per document" rule used to seed
eval sets and diversity-first training subsets. The greedy choice is
within (1 − 1/e) of the optimal cover, which is why it is THE
practical algorithm for this family.

100-TB shape (the kcenter_greedy stateless-literal discipline):

- The (doc, shingle) inverted frame is built once (shingles() +
  explode_outer, the shingle_index lesson) and localCheckpointed;
  every round scans that compact copy.
- Per round exactly ONE bounded collect (round 15; was two): the
  1-row argmax. The covered set is never collected — "not yet
  covered" is a broadcast LEFT ANTI join of the candidate frame
  against the PICKED documents' own shingle rows (a ≤ R·shingles-
  per-doc frame sliced straight out of the checkpointed index, tiny
  by construction), and the running covered-universe size is the
  running SUM of gains: each pick's gain IS the number of shingles
  it newly covers, so cum_covered needs no second scan. The only
  per-round exchange is the doc-grouped gain rollup behind map-side
  combine, followed by a top-1 reduction (never a global sort of the
  corpus).

Determinism: gains are integers; the argmax total order is
(gain DESC, doc_id ASC); exhausted corpora truncate the traversal
(the kcenter contract). The DuckDB oracle replays the rounds as
unrolled MATERIALIZED CTEs, so q253 sweeps prove the trajectory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles
from ..execution import spread


def greedy_set_cover(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    rounds: int = 5,
) -> list[tuple[int, int, int, int]]:
    """Greedy max-coverage over word n-gram shingles.

    Returns [(sel_rank, id, gain, cum_covered)]: the picked document,
    how many previously-uncovered shingles it contributed, and the
    covered-universe size after the pick. Documents whose shingles are
    all covered drop out of the gain frame; an exhausted corpus
    truncates the traversal.
    """
    sh = (
        shingles(spread(df), n, text_col)
        .select(id_col, F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .localCheckpoint(eager=False)
    )
    picked: list[int] = []
    out: list[tuple[int, int, int, int]] = []
    cum = 0
    for r in range(1, rounds + 1):
        cand = sh
        if picked:
            # covered = union of the picked docs' shingles — expressed
            # as an anti join against those docs' OWN index rows (a
            # bounded slice of the checkpointed frame: ≤ R docs), so
            # the covered set never round-trips through the driver.
            # The picked-doc exclusion rides the same scan.
            cov = sh.filter(F.col(id_col).isin(*picked)).select("s")
            cand = cand.filter(
                ~F.col(id_col).isin(*picked)
            ).join(F.broadcast(cov), "s", "left_anti")
        top = (
            cand.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("__gain"))
            .orderBy(F.col("__gain").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not top:
            break  # every remaining document is fully covered
        winner = int(top[0][id_col])
        gain = int(top[0]["__gain"])
        # each pick's gain is exactly the number of newly covered
        # shingles, so the universe size is the running sum — no
        # winner-shingle collect (round 15: one action per round).
        cum += gain
        picked.append(winner)
        out.append((r, winner, gain, cum))
    return out
