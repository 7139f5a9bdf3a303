"""Seventh analytics batch (round 6): gaps-and-islands streaks,
mixture temperature sampling, exponential-decay recency features,
fixed-round k-core decomposition, TF-IDF cosine pair mining, and
equal-width histograms.

Cross-engine discipline notes specific to this batch:

- q187/q188 avoid libm pow() entirely: temperature alpha=0.5 is
  sqrt() (IEEE correctly rounded, bit-identical everywhere) and decay
  weights are 1/2^d (exact powers of two via integer shift) — so the
  only rounding needed is the standard decimal-sum order-independence
  treatment.
- q189 applies the q168 pagerank discipline to a SECOND iterative
  algorithm family: the FIXED-round form is the contract, and the
  DuckDB oracle unrolls the identical rounds as materialized CTEs
  (non-materialized CTE unrolling re-evaluates the whole prefix per
  round — exponential; MATERIALIZED mirrors what the Spark side's
  per-round localCheckpoint does).
- q190's dot products / norms round every product at 6 dp before a
  DECIMAL(28,6) sum, and round idf at 6 dp to absorb ln() ULP noise
  (the q63 pattern); sqrt and division are IEEE-exact so the final
  cosine matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ..catalog import load_table
from ..execution import spread
from ..functions.determinism import DEC
from ._util import davg, dsum, sql_davg, sql_dsum

# ---------------------------------------------------------------------------
# q186 — gaps-and-islands: per-user streaks of consecutive ACTIVE DAYS.
# The classic sessionize-without-a-join trick: within a user, the
# anchor date (active_day - dense day rank) is constant exactly along
# a run of consecutive days, so one window + one groupBy finds every
# island — no self-join, no iteration. Scale shape: the window and
# both groupBys partition by user_id, so AQE plans a single exchange
# on user_id for the whole query.
# ---------------------------------------------------------------------------


@query(
    "q186_activity_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    r AS (SELECT user_id, d,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
          FROM d),
    i AS (SELECT user_id, d - CAST(rn AS INTEGER) AS anchor FROM r),
    g AS (SELECT user_id, anchor, COUNT(*) AS len
          FROM i GROUP BY user_id, anchor)
    SELECT user_id,
           COUNT(*)::BIGINT AS n_streaks,
           MAX(len)::BIGINT AS max_streak,
           SUM(len)::BIGINT AS active_days
    FROM g GROUP BY user_id
    ORDER BY max_streak DESC, user_id
    """,
)
def q186_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus streak
    count and total active days) over the events table."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = d.withColumn(
        "anchor",
        F.date_sub(F.col("d"), F.row_number().over(w)),
    )
    lens = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        lens.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len").cast("long").alias("max_streak"),
            F.sum("len").cast("long").alias("active_days"),
        )
        .orderBy(F.desc("max_streak"), "user_id")
    )


# ---------------------------------------------------------------------------
# q187 — temperature-based mixture reweighting (the alpha-sampling rule
# from public multilingual-LM data work: p_i ∝ size_i^alpha flattens a
# skewed source mix). alpha = 0.5 on per-source character mass;
# boost = p_temp / p_raw is the resampling factor a curation pipeline
# applies per source. sqrt() instead of pow(x, 0.5) keeps every
# arithmetic step IEEE-correctly-rounded — no libm variance to absorb.
# Scale shape: one map-side-combined groupBy to ~|sources| rows, one
# broadcast of the 1-row totals frame.
# ---------------------------------------------------------------------------


@query(
    "q187_mixture_temperature",
    oracle="""
    WITH s AS (SELECT source, COUNT(*)::BIGINT AS n_docs,
                      SUM(n_chars)::BIGINT AS n_chars
               FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_chars)::BIGINT AS tot_chars,
                   ROUND(SUM(CAST(ROUND(sqrt(n_chars::DOUBLE), 6)
                                  AS DECIMAL(28,6))), 6)::DOUBLE AS tot_sq
            FROM s)
    SELECT source, n_docs, n_chars,
           ROUND(n_chars::DOUBLE / tot_chars::DOUBLE, 6) AS p_raw,
           ROUND(ROUND(sqrt(n_chars::DOUBLE), 6) / tot_sq, 6) AS p_temp,
           ROUND(ROUND(ROUND(sqrt(n_chars::DOUBLE), 6) / tot_sq, 6)
                 / ROUND(n_chars::DOUBLE / tot_chars::DOUBLE, 6), 6)
               AS boost
    FROM s, tot
    ORDER BY source
    """,
)
def q187_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights at temperature alpha=0.5: raw share
    of character mass, temperature-flattened share, and the resampling
    boost factor between them."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    sq6 = F.round(F.sqrt(F.col("n_chars").cast("double")), 6)
    tot = s.agg(
        F.sum("n_chars").cast("long").alias("tot_chars"),
        F.round(F.sum(sq6.cast(DEC)), 6).cast("double").alias("tot_sq"),
    )
    p_raw = F.round(
        F.col("n_chars").cast("double") / F.col("tot_chars").cast("double"), 6
    )
    p_temp = F.round(sq6 / F.col("tot_sq"), 6)
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            p_raw.alias("p_raw"),
            p_temp.alias("p_temp"),
            F.round(p_temp / p_raw, 6).alias("boost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q188 — exponentially-decayed recency-weighted user value: over each
# user's 20 most recent events, value_j weighted by 1/2^j (j = 0 at
# the newest). The weights are applied as the INTEGER 2^(19-j) (same
# ratio — numerator and denominator both scale by 2^19): multiplying
# a value by 1/2^j creates decimal digits ending in ...5 exactly at
# the 1e-6 rounding boundary (a 2-dp value / 32 ends in ...75e-6),
# where Spark's shortest-string ROUND and DuckDB's scaled-binary
# ROUND disagree by 1 ulp — integer weights create no new decimal
# digits, so no boundary cases exist. No pow() anywhere. The
# (ts, event_id) sort key is total (event_id unique), so rank ties
# cannot differ between engines. Scale shape: one window rank + one
# groupBy, both partitioned by user_id — a single exchange.
# ---------------------------------------------------------------------------


@query(
    "q188_decayed_user_value",
    oracle="""
    WITH r AS (SELECT user_id, value,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC)
                        - 1 AS rn
               FROM events),
    k AS (SELECT user_id, value, rn FROM r WHERE rn < 20),
    g AS (SELECT user_id,
                 COUNT(*)::BIGINT AS n_recent,
                 ROUND(SUM(CAST(ROUND(value * (1::BIGINT << (19 - rn)), 6)
                                AS DECIMAL(28,6))), 6)::DOUBLE AS csum,
                 SUM(1::BIGINT << (19 - rn))::BIGINT AS wsum
          FROM k GROUP BY user_id)
    SELECT user_id, n_recent,
           ROUND(csum / wsum::DOUBLE, 6) AS decayed_value
    FROM g ORDER BY user_id
    """,
)
def q188_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed mean event value per user (half-life = one
    event): newest event weight 1, next 1/2, then 1/4, ... over the
    last 20 events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.withColumn("rn", F.row_number().over(w) - 1).filter(
        F.col("rn") < 20
    )
    # 2^(19-rn) as an exact integer (python F.shiftleft only takes a
    # literal shift count, so the column-shift form goes through expr)
    weight = F.expr("shiftleft(1L, cast(19 - rn as int))")
    g = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_recent"),
        F.round(F.sum(F.round(F.col("value") * weight, 6).cast(DEC)), 6)
        .cast("double")
        .alias("csum"),
        F.sum(weight).cast("long").alias("wsum"),
    )
    return g.select(
        "user_id",
        "n_recent",
        F.round(F.col("csum") / F.col("wsum").cast("double"), 6).alias(
            "decayed_value"
        ),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q189 — fixed-round k-core peeling (operators/graph.py kcore) on the
# UNCAPPED part co-purchase graph. The graph's mean degree is
# SF-invariant (~115: lines-per-order and lines-per-part are both
# constants of the generator), so k=85 peels a real cascade at every
# SF — sf0.01: 2000 → 1844 → 1759 → 1681 → 1606 → 1519 → 1388 nodes;
# sf0.1: 20000 → ... → 17303 — unlike a fixed l_partkey cap, whose
# partner-in-cap probability (and hence degree) collapses as the key
# space grows with SF. Fixed-round is the deliberate contract (see
# kcore docstring); the oracle unrolls the same 6 rounds as
# MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

_KCORE_K = 85
_KCORE_ROUNDS = 6


def _kcore_oracle(k: int, rounds: int) -> str:
    sql = f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS a, b.p AS b
        FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p)"""
    prev = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
    s{r} AS MATERIALIZED (SELECT a, b FROM {prev}
                          UNION ALL SELECT b, a FROM {prev}),
    n{r} AS MATERIALIZED (SELECT a AS node FROM s{r}
                          GROUP BY a HAVING COUNT(*) >= {k}),
    e{r} AS MATERIALIZED (SELECT t.a, t.b FROM {prev} t
        WHERE t.a IN (SELECT node FROM n{r})
          AND t.b IN (SELECT node FROM n{r}))"""
        prev = f"e{r}"
    return (
        sql
        + f""",
    sym AS (SELECT a, b FROM {prev} UNION ALL SELECT b, a FROM {prev})
    SELECT a AS node, COUNT(*)::BIGINT AS deg
    FROM sym GROUP BY a ORDER BY node"""
    )


@query(
    "q189_kcore_decomposition",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
)
def q189_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    e0 = a.join(b, "ok").filter(F.col("u") < F.col("v")).select("u", "v")
    return kcore(e0, k=_KCORE_K, rounds=_KCORE_ROUNDS).orderBy("node")


# ---------------------------------------------------------------------------
# q190 — TF-IDF cosine similar-pair mining (operators/text.py
# tfidf_cosine_pairs) on a 10% doc_id slice. The synthetic corpus has
# a 31-word vocabulary where every term appears in most docs, so the
# df CAP is disabled here (max_df=None — on this corpus it would empty
# the vectors; the cap's behavior is pinned by unit tests instead) and
# the operator's unconditional idf=0 pruning is what trims the index.
# The oracle is the SAME inverted-index computation in SQL — brute
# force over shared terms — so the driver differentially proves the
# banding/rounding pipeline end-to-end.
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.8


@query(
    "q190_tfidf_cosine_pairs",
    oracle=f"""
    WITH d AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          FROM d),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf
           FROM tok GROUP BY doc_id, term),
    n AS (SELECT COUNT(*) AS n FROM d),
    dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf
            GROUP BY term HAVING COUNT(*) < (SELECT n FROM n)),
    w AS (SELECT doc_id, tf.term,
                 ROUND(tf * ROUND(ln((SELECT n FROM n)::DOUBLE / df), 6), 6)
                     AS w
          FROM tf JOIN dfq USING (term)),
    norms AS (SELECT doc_id,
                     sqrt(ROUND(SUM(CAST(ROUND(w * w, 6)
                                         AS DECIMAL(28,6))), 6)::DOUBLE)
                         AS norm
              FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    ROUND(SUM(CAST(ROUND(a.w * b.w, 6)
                                   AS DECIMAL(28,6))), 6)::DOUBLE AS dot
             FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(dot / (na.norm * nb.norm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE ROUND(dot / (na.norm * nb.norm), 6) >= {_COS_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def q190_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tfidf_cosine_pairs

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return tfidf_cosine_pairs(
        d, threshold=_COS_THRESHOLD, max_df=None
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q191 — equal-width histogram (16 bins) over order totals: bin edges
# from the global min/max, top value clamped into the last bin. The
# 1-row min/max frame is broadcast; binning is pure arithmetic inside
# codegen; ONE exchange for the bin aggregate. (Equal-FREQUENCY
# binning is q180's ntile decile lift — this is the equal-width
# sibling, the one that needs no sort.)
# ---------------------------------------------------------------------------


@query(
    "q191_price_histogram",
    oracle=f"""
    WITH mm AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
                FROM orders),
    b AS (SELECT LEAST(CAST(FLOOR((o_totalprice - mn)
                                  / ((mx - mn) / 16.0)) AS BIGINT),
                       15) AS bin,
                 ROUND(mn + LEAST(CAST(FLOOR((o_totalprice - mn)
                                             / ((mx - mn) / 16.0)) AS BIGINT),
                                  15) * ((mx - mn) / 16.0), 6) AS bin_lo,
                 o_totalprice
          FROM orders, mm)
    SELECT bin, bin_lo, COUNT(*)::BIGINT AS n,
           {sql_davg("o_totalprice", "avg_price")}
    FROM b GROUP BY bin, bin_lo ORDER BY bin
    """,
)
def q191_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(16.0)
    bin_ = F.least(
        F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("long"),
        F.lit(15),
    )
    b = o.crossJoin(F.broadcast(mm)).select(
        bin_.alias("bin"),
        F.round(F.col("mn") + bin_ * width, 6).alias("bin_lo"),
        "o_totalprice",
    )
    return (
        b.groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            davg("o_totalprice", "avg_price"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q192 — batch sessionization (30-minute inactivity gap): lag + flag +
# running sum assigns session ids in two windows over ONE user_id
# exchange, then a groupBy (same key, no extra shuffle) emits
# per-session stats. The batch twin of q72's streaming session_window
# — this is what you run over the historical corpus while the stream
# handles the live edge. Timestamps are compared in whole epoch
# seconds computed timezone-free (timestampdiff from the epoch — a
# TIMESTAMP_NTZ cannot cast to long), floor semantics in both engines.
# ---------------------------------------------------------------------------

_SESSION_GAP_SEC = 1800


@query(
    "q192_sessionize_events",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, value, ts,
             date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec
      FROM events),
    l AS (
      SELECT *, LAG(sec) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_sec
      FROM r),
    f AS (
      SELECT *, CASE WHEN prev_sec IS NULL
                       OR sec - prev_sec > {_SESSION_GAP_SEC}
                     THEN 1 ELSE 0 END AS new_sess
      FROM l),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)::BIGINT
                  AS sess_id
      FROM f)
    SELECT user_id, sess_id,
           COUNT(*)::BIGINT AS n_events,
           (MAX(sec) - MIN(sec))::BIGINT AS duration_sec,
           {sql_dsum("value", "value_sum")}
    FROM s GROUP BY user_id, sess_id
    ORDER BY user_id, sess_id
    """,
)
def q192_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > _SESSION_GAP_SEC),
            1,
        ).otherwise(0),
    )
    sessed = flagged.withColumn(
        "sess_id",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return (
        sessed.groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max("sec") - F.min("sec")).cast("long").alias("duration_sec"),
            dsum("value", "value_sum"),
        )
        .orderBy("user_id", "sess_id")
    )


# ---------------------------------------------------------------------------
# q193 — PII redaction (operators/text.py pii_redact) over the q151
# deterministic plants: counts per pattern + md5 of the redacted text
# per affected doc. The md5 column is the strong part of the oracle —
# it proves the redacted BYTES match across engines, not just the
# counts (a wrong replacement order or a half-applied pattern changes
# the hash). Zero-shuffle row-local work.
# ---------------------------------------------------------------------------


@query(
    "q193_pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || doc_id::VARCHAR
                    || '@mail.example.com at 10.' || (doc_id % 200)::VARCHAR
                    || '.0.' || (doc_id % 250)::VARCHAR
                    || ' call 555-' || (1000 + doc_id % 9000)::VARCHAR
               ELSE text END AS text
      FROM documents),
    red AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
               AS n_email,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g') AS t1
      FROM aug),
    red2 AS (
      SELECT doc_id, source, n_email,
             len(regexp_extract_all(t1,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT
               AS n_ip,
             regexp_replace(t1,
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                 '[IP]', 'g') AS t2
      FROM red),
    red3 AS (
      SELECT doc_id, source, n_email, n_ip,
             len(regexp_extract_all(t2, '\\b555-\\d{4}\\b'))::BIGINT
               AS n_phone,
             regexp_replace(t2, '\\b555-\\d{4}\\b', '[PHONE]', 'g') AS t3
      FROM red2)
    SELECT doc_id, source, n_email, n_ip, n_phone, md5(t3) AS redacted_md5
    FROM red3
    WHERE n_email + n_ip + n_phone > 0
    ORDER BY doc_id
    """,
)
def q193_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pii_redact

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com at 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(" call 555-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        pii_redact(aug)
        .filter(F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0)
        .select(
            "doc_id",
            "source",
            "n_email",
            "n_ip",
            "n_phone",
            F.md5("redacted").alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q194 — rolling-IQR outlier detection (trailing 10-order frame per
# customer): flag an order whose total exceeds q3 + 1.5·IQR of its own
# trailing window — the robust streaming-anomaly rule that, unlike a
# z-score, one extreme past value cannot poison. Spark has no
# percentile-over-frame, so q1/q3 come from the q171 moving-median
# recipe (bounded collect_list + array_sort + percentile_cont
# interpolation, all JVM); the oracle replays the IDENTICAL
# interpolation arithmetic on DuckDB's list window (its own
# quantile_cont might associate differently — replaying the exact
# expression tree is the contract). The unrounded threshold compare
# is deterministic because both engines evaluate the same IEEE tree.
# ---------------------------------------------------------------------------


def _iqr_sql(p: str) -> str:
    lo = f"s[CAST(FLOOR({p}) AS INT) + 1]"
    hi = f"s[LEAST(CAST(FLOOR({p}) AS INT) + 2, m)]"
    return f"({lo} + ({p} - FLOOR({p})) * ({hi} - {lo}))"


@query(
    "q194_rolling_iqr_outliers",
    oracle=f"""
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             list(o_totalprice) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN 9 PRECEDING
                                        AND CURRENT ROW) AS arr
      FROM orders),
    q AS (SELECT o_custkey, o_orderkey, o_totalprice,
                 list_sort(arr) AS s, len(arr) AS m
          FROM r),
    x AS (SELECT *, 0.25::DOUBLE * (m - 1) AS p1,
                    0.75::DOUBLE * (m - 1) AS p3
          FROM q),
    y AS (SELECT o_custkey, o_orderkey, o_totalprice,
                 {_iqr_sql('p1')} AS q1, {_iqr_sql('p3')} AS q3
          FROM x)
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROUND(q3 + 1.5::DOUBLE * (q3 - q1), 6) AS threshold
    FROM y
    WHERE o_totalprice > q3 + 1.5::DOUBLE * (q3 - q1)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q194_rolling_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-9, 0)
    )
    # Hoist the sorted frame into a column: inlining the array_sort
    # expression into every element_at reference left 54 copies in
    # the projection (the window itself was deduped, the sort was
    # not) — the hoist halves both the copy count and the wall time.
    o = o.withColumn(
        "__s", F.array_sort(F.collect_list("o_totalprice").over(w))
    )
    s = F.col("__s")
    m = F.size(s)

    def q_at(p: float):
        pos = F.lit(p) * (m - F.lit(1)).cast("double")
        lo_i = F.floor(pos).cast("int") + F.lit(1)
        frac = pos - F.floor(pos)
        lo = F.element_at(s, lo_i)
        hi = F.element_at(s, F.least(lo_i + F.lit(1), m))
        return lo + frac * (hi - lo)

    q1, q3 = q_at(0.25), q_at(0.75)
    thr = q3 + F.lit(1.5) * (q3 - q1)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.round(thr, 6).alias("threshold"),
            (F.col("o_totalprice") > thr).alias("__flag"),
        )
        .filter(F.col("__flag"))
        .drop("__flag")
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q195 — burstiness (Fano factor: variance/mean of per-active-day
# event counts) per user. Overdispersion separates steady users
# (fano≈1, Poisson-like) from bursty ones — the bot/scraper signal in
# corpus telemetry. Every moment is an integer sum (counts, squared
# counts), so the only floats are exact divisions — no decimal-sum
# machinery needed at all. Two map-combined groupBys, one exchange.
# ---------------------------------------------------------------------------


@query(
    "q195_user_burstiness",
    oracle="""
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                      COUNT(*)::BIGINT AS c
               FROM events GROUP BY user_id, day),
    g AS (SELECT user_id, COUNT(*)::BIGINT AS n_days,
                 SUM(c)::BIGINT AS n_events,
                 SUM(c * c)::BIGINT AS sum_sq
          FROM d GROUP BY user_id)
    SELECT user_id, n_days, n_events,
           (n_events::DOUBLE / n_days) AS mean_per_day,
           ((sum_sq::DOUBLE / n_days
                  - (n_events::DOUBLE / n_days)
                    * (n_events::DOUBLE / n_days))
                 / (n_events::DOUBLE / n_days)) AS fano
    FROM g ORDER BY user_id
    """,
)
def q195_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    mean = F.col("n_events").cast("double") / F.col("n_days")
    var = F.col("sum_sq").cast("double") / F.col("n_days") - mean * mean
    return g.select(
        "user_id",
        "n_days",
        "n_events",
        # raw chains of IEEE primitives over exact int64 moments
        # (safe class, r14)
        mean.alias("mean_per_day"),
        (var / mean).alias("fano"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q196 — Zipf exponent per language: OLS of ln(freq) on ln(rank) over
# the token frequency distribution (power-law fit — the standard
# sanity probe on a corpus' token statistics; a healthy natural-
# language corpus sits near slope -1). ln values and products are
# rounded at 6 then decimal-summed (the q63/q168 ln discipline), and
# slope/intercept come from the closed form on those exact sums.
# Composes the q153 grouped-regression shape onto the q63 frequency
# table — one explode, two aggregates, one window.
# ---------------------------------------------------------------------------

_ZIPF_SLOPE = (
    "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
)


@query(
    "q196_zipf_fit",
    oracle=f"""
    WITH t AS (SELECT lang,
                      unnest(string_split(lower(trim(text)), ' ')) AS term
               FROM documents),
    f AS (SELECT lang, term, COUNT(*)::BIGINT AS freq
          FROM t GROUP BY lang, term),
    r AS (SELECT lang, freq,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY freq DESC, term) AS rank
          FROM f),
    xy AS (SELECT lang,
                  ROUND(ln(rank::DOUBLE), 6) AS x,
                  ROUND(ln(freq::DOUBLE), 6) AS y
           FROM r),
    s AS (SELECT lang, COUNT(*)::BIGINT AS n,
                 ROUND(SUM(CAST(x AS DECIMAL(28,6))), 6)::DOUBLE AS sx,
                 ROUND(SUM(CAST(y AS DECIMAL(28,6))), 6)::DOUBLE AS sy,
                 ROUND(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))), 6)::DOUBLE
                   AS sxy,
                 ROUND(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))), 6)::DOUBLE
                   AS sxx
          FROM xy GROUP BY lang)
    SELECT lang, n,
           ROUND({_ZIPF_SLOPE}, 6) AS slope,
           ROUND((sy - ({_ZIPF_SLOPE}) * sx) / n, 6) AS intercept
    FROM s ORDER BY lang
    """,
)
def q196_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    )
    f = t.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "term")
    xy = f.withColumn("rank", F.row_number().over(w)).select(
        "lang",
        F.round(F.log(F.col("rank").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("x").cast(DEC)), 6).cast("double").alias("sx"),
        F.round(F.sum(F.col("y").cast(DEC)), 6).cast("double").alias("sy"),
        F.round(F.sum(F.round(F.col("x") * F.col("y"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("sxy"),
        F.round(F.sum(F.round(F.col("x") * F.col("x"), 6).cast(DEC)), 6)
        .cast("double")
        .alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "lang",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q197 — rolling 7-day distinct active users per day. Spark has no
# COUNT(DISTINCT) OVER a window frame; the scale-correct recomposition
# is a contribution fan-out: each distinct (user, day) row contributes
# to the 7 calendar days it is visible to (a 7× explode of an
# already-collapsed frame), then ONE exact distinct aggregate per day.
# Work is 7·|distinct(user,day)| regardless of raw event volume — the
# raw table is collapsed map-side first. Days with no activity in the
# trailing week simply don't appear (no zero-fill — matches the
# oracle's grouping). The oracle computes the same rolling distinct
# via a spine range join.
# ---------------------------------------------------------------------------


@query(
    "q197_rolling_active_users",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
               FROM events),
    spine AS (SELECT DISTINCT day FROM d),
    j AS (SELECT s.day AS day, d.user_id
          FROM spine s JOIN d
            ON d.day BETWEEN s.day - 6 AND s.day)
    SELECT day, COUNT(DISTINCT user_id)::BIGINT AS active_7d
    FROM j GROUP BY day ORDER BY day
    """,
)
def q197_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    # fan each (user, activity-day) out to the 7 observation days it
    # counts toward, then keep only observation days that actually
    # exist in the data (left-semi against the activity-day spine —
    # mirrors the oracle's spine join)
    fan = d.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    spine = d.select("day").distinct()
    return (
        fan.join(spine, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("active_7d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q198 — document length bands from EXACT global percentile cutoffs
# (operators/percentiles.py with a constant group), then per-band
# stats: the "percentile banding" step every curation pipeline runs
# before length-conditional filtering. Cutoffs are rounded at 6 before
# banding in BOTH engines (q14 established that the operator's
# interpolation matches DuckDB's quantile_cont at 6 dp), so the band
# boundaries are bit-identical.
# ---------------------------------------------------------------------------


@query(
    "q198_length_bands",
    oracle="""
    WITH c AS (SELECT ROUND(quantile_cont(n_chars, 0.25), 6) AS p25,
                      ROUND(quantile_cont(n_chars, 0.50), 6) AS p50,
                      ROUND(quantile_cont(n_chars, 0.75), 6) AS p75
               FROM documents),
    b AS (SELECT CASE WHEN n_chars <= p25 THEN 'q1_short'
                      WHEN n_chars <= p50 THEN 'q2_mid'
                      WHEN n_chars <= p75 THEN 'q3_long'
                      ELSE 'q4_xlong' END AS band,
                 n_chars
          FROM documents, c)
    SELECT band, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS total_chars,
           MIN(n_chars)::BIGINT AS min_chars,
           MAX(n_chars)::BIGINT AS max_chars
    FROM b GROUP BY band ORDER BY band
    """,
)
def q198_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_percentiles

    d = load_table(spark, sf_dir, "documents")
    cuts = exact_percentiles(
        d.withColumn("__g", F.lit(1)),
        ["__g"],
        "n_chars",
        {"p25": 0.25, "p50": 0.5, "p75": 0.75},
    ).select(
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )
    b = d.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("n_chars") <= F.col("p25"), "q1_short")
        .when(F.col("n_chars") <= F.col("p50"), "q2_mid")
        .when(F.col("n_chars") <= F.col("p75"), "q3_long")
        .otherwise("q4_xlong")
        .alias("band"),
        "n_chars",
    )
    return (
        b.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q199 — token-budget allocation across sources: a 2-pass capped
# waterfall. Pass 1 allocates the budget (80% of total mass)
# proportionally but clips each source at kappa = 0.95·B/S (so
# above-average sources cap — calibrated: source shares span
# 4.2–5.7%, kappa sits at share 4.75%); pass 2 hands the clipped
# leftover to the UNCAPPED sources pro rata to their mass. The fixed
# 2-pass form (not iterate-to-fixpoint) is the contract, exactly
# replayable in SQL. This is the mixture-building step that turns
# q187-style weights into actual per-source token grants under a
# budget.
# ---------------------------------------------------------------------------


@query(
    "q199_token_budget_allocation",
    oracle="""
    WITH s AS (SELECT source, SUM(n_chars)::BIGINT AS c
               FROM documents GROUP BY source),
    t AS (SELECT SUM(c)::BIGINT AS total, COUNT(*)::BIGINT AS ns FROM s),
    p AS (SELECT source, c, total,
                 0.8::DOUBLE * total AS b,
                 0.95::DOUBLE * (0.8::DOUBLE * total) / ns AS kappa
          FROM s, t),
    a1 AS (SELECT *,
                  ROUND(LEAST(b * c / total, kappa), 6) AS alloc1,
                  (b * c / total > kappa) AS capped
           FROM p),
    l AS (SELECT ROUND(CAST((SELECT FIRST(b) FROM a1) AS DOUBLE)
                       - ROUND(SUM(CAST(alloc1 AS DECIMAL(28,6))), 6)
                         ::DOUBLE, 6) AS leftover,
                 SUM(CASE WHEN NOT capped THEN c ELSE 0 END)::BIGINT
                   AS free_mass
          FROM a1)
    SELECT source, c AS n_chars, capped,
           alloc1,
           CASE WHEN capped THEN alloc1
                ELSE ROUND(alloc1 + leftover * c / free_mass, 6)
           END AS alloc_final
    FROM a1, l
    ORDER BY source
    """,
)
def q199_token_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("c"))
    )
    t = s.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("ns"),
    )
    p = s.crossJoin(F.broadcast(t)).select(
        "source",
        "c",
        "total",
        (F.lit(0.8) * F.col("total")).alias("b"),
        (F.lit(0.95) * (F.lit(0.8) * F.col("total")) / F.col("ns")).alias(
            "kappa"
        ),
    )
    raw = F.col("b") * F.col("c") / F.col("total")
    a1 = p.select(
        "source",
        "c",
        "b",
        F.round(F.least(raw, F.col("kappa")), 6).alias("alloc1"),
        (raw > F.col("kappa")).alias("capped"),
    )
    a1 = a1.localCheckpoint(eager=False)  # feeds totals AND final select
    lo = a1.agg(
        F.round(
            F.first("b")
            - F.round(F.sum(F.col("alloc1").cast(DEC)), 6).cast("double"),
            6,
        ).alias("leftover"),
        F.sum(F.when(~F.col("capped"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("free_mass"),
    )
    return (
        a1.crossJoin(F.broadcast(lo))
        .select(
            "source",
            F.col("c").alias("n_chars"),
            "capped",
            "alloc1",
            F.when(F.col("capped"), F.col("alloc1"))
            .otherwise(
                F.round(
                    F.col("alloc1")
                    + F.col("leftover") * F.col("c") / F.col("free_mass"),
                    6,
                )
            )
            .alias("alloc_final"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q200 — n-gram novelty: per document, the fraction of its distinct
# 3-gram shingles whose FIRST occurrence (min doc_id) is this doc —
# the "how much genuinely new text does each doc add" curve used to
# decide corpus ordering and diminishing-returns cutoffs. One shingle
# index groupBy (min is map-combinable) + one join back; at 100 TB
# the index is the same inverted structure the dedup family already
# maintains (operators/dedup.py), so this rides an existing asset.
# ---------------------------------------------------------------------------


@query(
    "q200_ngram_novelty",
    oracle="""
    WITH t AS (SELECT doc_id,
                      string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
           FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)
           WHERE toks[i+1] IS NOT NULL AND toks[i+2] IS NOT NULL
             AND toks[i+3] IS NOT NULL),
    first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s),
    j AS (SELECT sh.doc_id,
                 COUNT(*)::BIGINT AS n_shingles,
                 SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                   ::BIGINT AS n_novel
          FROM sh JOIN first f ON sh.s = f.s
          GROUP BY sh.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           (n_novel::DOUBLE / n_shingles) AS novelty
    FROM j ORDER BY doc_id
    """,
)
def q200_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingles

    # spread: the docs parquet is one input split — without it all
    # shingling runs on a single core (the dedup-family lesson)
    d = spread(load_table(spark, sf_dir, "documents"))
    # explode_outer, not explode (the shingle_index lesson): plain
    # explode gets an inferred size()>0 filter pushed below the
    # projection with the whole O(len²) shingle expression inlined,
    # evaluating it twice per row. And NO .distinct() after it
    # (round 15): shingles() already array_distinct's per doc, so the
    # exploded (doc_id, s) frame is distinct by construction — the
    # old distinct was one full extra exchange of the shingle strings
    # (the oracle's SELECT DISTINCT is the same no-op on its side).
    sh = (
        shingles(d, n=3)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    sh = sh.localCheckpoint(eager=False)  # feeds both aggregates below
    # No 500k-row join-back: a shingle's winner IS its min(doc_id), so
    # per-doc novel counts fall out of a second aggregate over the
    # index — the only join left is per-doc vs per-doc (|docs| rows).
    n_novel = (
        sh.groupBy("s")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    n_sh = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    return (
        n_sh.join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            # raw exact-operand IEEE division (safe class, r14)
            (
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q201 — Pareto frontier (operators/skyline.py): cheapest-and-freshest
# orders — no order on the frontier is beaten on BOTH price and age by
# another. The oracle is the brute-force NOT EXISTS dominance test
# (DuckDB's IEJoin makes it tractable), so the driver differentially
# proves the two-phase bucket-prune + range-partitioned sweep returns
# EXACTLY the dominance-defined set.
# ---------------------------------------------------------------------------


@query(
    "q201_pareto_frontier",
    oracle="""
    WITH p AS (SELECT DISTINCT o_totalprice AS price,
                      date_diff('day', CAST(o_orderdate AS DATE),
                                DATE '2026-01-01') AS age_days
               FROM orders WHERE o_orderkey % 7 = 0)
    SELECT price, age_days
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price <= a.price AND b.age_days <= a.age_days
        AND (b.price < a.price OR b.age_days < a.age_days))
    ORDER BY price, age_days
    """,
)
def q201_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline2d

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_totalprice").alias("price"),
            F.datediff(
                F.lit("2026-01-01").cast("date"), F.to_date("o_orderdate")
            )
            .cast("long")
            .alias("age_days"),
        )
    )
    return skyline2d(o, "price", "age_days").orderBy("price", "age_days")


# ---------------------------------------------------------------------------
# q202 — cohort LTV curve: cumulative revenue per customer by cohort
# month and months-of-age. Cohort = month of first order; ages are
# exact integer month arithmetic (y*12+m), revenue sums and the
# cumulative window go through the decimal discipline. The canonical
# retention-economics readout (q145's cohort retention, in currency).
# ---------------------------------------------------------------------------


@query(
    "q202_cohort_ltv",
    oracle="""
    WITH fo AS (SELECT o_custkey,
                       MIN(date_trunc('month', CAST(o_orderdate AS DATE)))
                         AS cohort
                FROM orders GROUP BY o_custkey),
    sz AS (SELECT cohort, COUNT(*)::BIGINT AS cohort_size
           FROM fo GROUP BY cohort),
    o AS (SELECT f.cohort,
                 (year(date_trunc('month', CAST(o.o_orderdate AS DATE))) * 12
                  + month(date_trunc('month', CAST(o.o_orderdate AS DATE))))
                 - (year(f.cohort) * 12 + month(f.cohort)) AS age,
                 o.o_totalprice
          FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey),
    g AS (SELECT cohort, age,
                 ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)::DOUBLE
                   AS rev
          FROM o GROUP BY cohort, age),
    c AS (SELECT cohort, age, rev,
                 ROUND(SUM(CAST(rev AS DECIMAL(28,6)))
                         OVER (PARTITION BY cohort ORDER BY age
                               ROWS UNBOUNDED PRECEDING), 6)::DOUBLE
                   AS cum_rev
          FROM g)
    SELECT CAST(c.cohort AS DATE) AS cohort, c.age::BIGINT AS age,
           sz.cohort_size,
           ROUND(c.cum_rev / sz.cohort_size, 6) AS ltv_per_customer
    FROM c JOIN sz ON c.cohort = sz.cohort
    ORDER BY cohort, age
    """,
)
def q202_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.to_date("o_orderdate"), "month").alias("om"),
        "o_totalprice",
    )
    fo = o.groupBy("o_custkey").agg(F.min("om").alias("cohort"))
    fo = fo.localCheckpoint(eager=False)  # feeds sizes AND the join
    sz = fo.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    months = (F.year("om") * 12 + F.month("om")) - (
        F.year("cohort") * 12 + F.month("cohort")
    )
    g = (
        o.join(fo, "o_custkey")
        .select("cohort", months.alias("age"), "o_totalprice")
        .groupBy("cohort", "age")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("rev")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.withColumn(
        "cum_rev",
        F.round(F.sum(F.col("rev").cast(DEC)).over(w), 6).cast("double"),
    )
    return (
        c.join(F.broadcast(sz), "cohort")
        .select(
            "cohort",
            F.col("age").cast("long").alias("age"),
            "cohort_size",
            F.round(F.col("cum_rev") / F.col("cohort_size"), 6).alias(
                "ltv_per_customer"
            ),
        )
        .orderBy("cohort", "age")
    )


# ---------------------------------------------------------------------------
# q203 — Benford first-digit screen over order totals: observed digit
# shares vs the Benford expectation log10(1+1/d), with per-digit
# chi-square contributions. The classic fabricated-numbers detector
# for financial columns. The first digit comes from INTEGER string
# arithmetic (truncate, stringify, first char) — log10(x) would put
# exact powers of ten at the mercy of cross-engine libm ULPs; this
# way no float touches the bucketing. ln-ratio expectations follow
# the rounded-ln discipline.
# ---------------------------------------------------------------------------


@query(
    "q203_benford_screen",
    oracle="""
    WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit
               FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT COUNT(*)::BIGINT AS total FROM d),
    g AS (SELECT digit, COUNT(*)::BIGINT AS n_orders FROM d GROUP BY digit)
    SELECT g.digit, g.n_orders,
           (g.n_orders::DOUBLE / n.total) AS obs_share,
           ROUND(ln(1.0::DOUBLE + 1.0::DOUBLE / g.digit)
                 / ln(10.0::DOUBLE), 6) AS benford_p,
           ROUND(
             (g.n_orders::DOUBLE / n.total
              - ROUND(ln(1.0::DOUBLE + 1.0::DOUBLE / g.digit)
                      / ln(10.0::DOUBLE), 6))
             * (g.n_orders::DOUBLE / n.total
                - ROUND(ln(1.0::DOUBLE + 1.0::DOUBLE / g.digit)
                        / ln(10.0::DOUBLE), 6))
             / ROUND(ln(1.0::DOUBLE + 1.0::DOUBLE / g.digit)
                     / ln(10.0::DOUBLE), 6), 9) AS chi2_term
    FROM g, n
    ORDER BY digit
    """,
)
def q203_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    # FLOOR before the integer cast on BOTH sides: Spark's double->
    # long cast truncates but DuckDB's ROUNDS (banker's) — a price of
    # 89999.9998 would land in different digit buckets otherwise
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    g = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    # the grand total is just the sum of the 9-row digit rollup —
    # fold it in as a broadcast 1-row frame (q205/BM25 pattern) so the
    # orders scan runs in ONE job instead of a driver count() + query
    g = g.localCheckpoint(eager=False)  # feeds the total AND the select
    tot = F.broadcast(
        g.agg(F.sum("n_orders").cast("long").alias("__total"))
    )
    g = g.crossJoin(tot)
    obs = F.col("n_orders").cast("double") / F.col("__total").cast("double")
    benford = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)),
        6,
    )
    return g.select(
        "digit",
        "n_orders",
        # raw exact-operand IEEE division (safe class, r14); the
        # ln-based benford_p / chi2_term keep ROUND (libm residual)
        obs.alias("obs_share"),
        benford.alias("benford_p"),
        F.round((obs - benford) * (obs - benford) / benford, 9).alias(
            "chi2_term"
        ),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# q204 — functional-dependency audit (operators/quality.py): measured
# violation profiles for declared X → Y dependencies across the
# schema — two that must HOLD (primary-key determinations) and three
# that are genuinely violated, so both code paths carry signal. The
# schema-profiling sibling of q185's FK orphan audit.
# ---------------------------------------------------------------------------


@query(
    "q204_fd_audit",
    oracle="""
    WITH spec AS (
      SELECT 'customer.c_custkey->c_nationkey' AS dep,
             c_custkey AS x, CAST(c_nationkey AS VARCHAR) AS y
      FROM customer
      UNION ALL
      SELECT 'nation.n_nationkey->n_regionkey',
             n_nationkey, CAST(n_regionkey AS VARCHAR) FROM nation
      UNION ALL
      SELECT 'events.user_id->event_type',
             user_id, event_type FROM events
      UNION ALL
      SELECT 'orders.o_custkey->o_orderpriority',
             o_custkey, o_orderpriority FROM orders
      UNION ALL
      SELECT 'lineitem.l_orderkey->l_suppkey',
             l_orderkey, CAST(l_suppkey AS VARCHAR) FROM lineitem),
    pairs AS (SELECT DISTINCT dep, x, y FROM spec WHERE x IS NOT NULL),
    per_key AS (SELECT dep, x, COUNT(*)::BIGINT AS ny
                FROM pairs GROUP BY dep, x),
    agg AS (SELECT dep, COUNT(*)::BIGINT AS n_lhs,
                   SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END)::BIGINT
                     AS n_violating,
                   MAX(ny)::BIGINT AS max_rhs_per_lhs
            FROM per_key GROUP BY dep)
    SELECT dep, n_lhs, n_violating,
           (n_violating::DOUBLE / n_lhs) AS violation_rate,
           max_rhs_per_lhs
    FROM agg ORDER BY dep
    """,
)
def q204_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import functional_dependencies

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # rhs cast to string uniformly so the union'd oracle is typable
    deps = [
        (
            cust.withColumn("__y", F.col("c_nationkey").cast("string")),
            "c_custkey",
            "__y",
            "customer.c_custkey->c_nationkey",
        ),
        (
            nat.withColumn("__y", F.col("n_regionkey").cast("string")),
            "n_nationkey",
            "__y",
            "nation.n_nationkey->n_regionkey",
        ),
        (ev, "user_id", "event_type", "events.user_id->event_type"),
        (o, "o_custkey", "o_orderpriority", "orders.o_custkey->o_orderpriority"),
        (
            li.withColumn("__y", F.col("l_suppkey").cast("string")),
            "l_orderkey",
            "__y",
            "lineitem.l_orderkey->l_suppkey",
        ),
    ]
    return functional_dependencies(deps).orderBy("dep")


# ---------------------------------------------------------------------------
# q205 — association rules over co-purchased parts (apriori's 2-item
# stage): frequent-item pruning FIRST (the support floor cuts the
# candidate space before any pair is formed — the classic scale
# lever), then pair support / confidence / lift from pure count
# ratios (exact integers → one double division each, no rounding
# hazards). Extends q43's raw co-purchase counts into the
# probabilistic rule measures.
# ---------------------------------------------------------------------------

_AR_ITEM_SUPPORT = 12  # orders containing the item (frequent-item floor)
_AR_PAIR_SUPPORT = 3  # orders containing the pair (co-occurrence is rare:
# ~4 lines/order over a key space that scales with SF keeps pair counts
# small and SF-invariant — max 5 at sf0.01)


@query(
    "q205_association_rules",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
               FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok)::BIGINT AS n_orders FROM b),
    freq AS (SELECT item, COUNT(*)::BIGINT AS supp FROM b
             GROUP BY item HAVING COUNT(*) >= {_AR_ITEM_SUPPORT}),
    p AS (SELECT a.item AS ante, c.item AS cons, COUNT(*)::BIGINT AS pair_supp
          FROM b a
          JOIN b c ON a.ok = c.ok AND a.item < c.item
          JOIN freq fa ON fa.item = a.item
          JOIN freq fc ON fc.item = c.item
          GROUP BY a.item, c.item
          HAVING COUNT(*) >= {_AR_PAIR_SUPPORT})
    SELECT p.ante, p.cons, p.pair_supp,
           ROUND(p.pair_supp::DOUBLE / n.n_orders, 6) AS support,
           ROUND(p.pair_supp::DOUBLE / fa.supp, 6) AS confidence,
           ROUND((p.pair_supp::DOUBLE / fa.supp)
                 / (fc.supp::DOUBLE / n.n_orders), 6) AS lift
    FROM p
    JOIN freq fa ON fa.item = p.ante
    JOIN freq fc ON fc.item = p.cons, n
    ORDER BY pair_supp DESC, ante, cons
    LIMIT 50
    """,
)
def q205_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    b = b.localCheckpoint(eager=False)  # basket frame feeds 3 consumers
    # Corpus-size scalar stays JVM-side as a broadcast 1-row frame —
    # a driver-side .count() here would split the query into two jobs.
    n_orders_f = b.agg(
        F.countDistinct("ok").cast("double").alias("__n_orders")
    )
    freq = (
        b.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        .filter(F.col("supp") >= _AR_ITEM_SUPPORT)
    )
    freq = freq.localCheckpoint(eager=False)  # prune both sides + 2 joins
    fa = freq.select(F.col("item").alias("ante"), F.col("supp").alias("supp_a"))
    fc = freq.select(F.col("item").alias("cons"), F.col("supp").alias("supp_c"))
    left = b.join(
        F.broadcast(freq.select("item")), "item"
    ).select("ok", F.col("item").alias("ante"))
    right = b.join(
        F.broadcast(freq.select("item")), "item"
    ).select("ok", F.col("item").alias("cons"))
    pairs = (
        left.join(right, "ok")
        .filter(F.col("ante") < F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_supp"))
        .filter(F.col("pair_supp") >= _AR_PAIR_SUPPORT)
    )
    conf = F.col("pair_supp").cast("double") / F.col("supp_a")
    return (
        pairs.join(F.broadcast(fa), "ante")
        .join(F.broadcast(fc), "cons")
        .crossJoin(F.broadcast(n_orders_f))
        .select(
            "ante",
            "cons",
            "pair_supp",
            F.round(
                F.col("pair_supp").cast("double") / F.col("__n_orders"), 6
            ).alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf
                / (F.col("supp_c").cast("double") / F.col("__n_orders")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_supp"), "ante", "cons")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q206 — clamped running balance (inventory that can't go negative):
# b_t = max(0, b_{t-1} + delta_t) is nonlinear-recursive and looks
# window-inexpressible — but the classic identity
#     b_t = p_t - LEAST(0, min_{j<=t} p_j)      (p = prefix sums)
# turns it into two plain windows (running sum + running min): a
# reset happens exactly at the running-minimum prefix, and everything
# after is measured from that trough. Pure integer arithmetic on
# whole-unit quantities — exact in any engine. Returns ('R') restock,
# everything else ships.
# ---------------------------------------------------------------------------


@query(
    "q206_clamped_running_balance",
    oracle="""
    WITH d AS (SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
                      SUM(CASE WHEN l_returnflag = 'R'
                               THEN CAST(l_quantity AS BIGINT)
                               ELSE -CAST(l_quantity AS BIGINT) END)::BIGINT
                        AS delta
               FROM lineitem WHERE l_partkey < 20
               GROUP BY part, day),
    p AS (SELECT part, day, delta,
                 SUM(delta) OVER (PARTITION BY part ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS prefix
          FROM d),
    m AS (SELECT part, day, delta, prefix,
                 MIN(prefix) OVER (PARTITION BY part ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS min_prefix
          FROM p)
    SELECT part, day, delta,
           (prefix - LEAST(min_prefix, 0))::BIGINT AS balance
    FROM m ORDER BY part, day
    """,
)
def q206_clamped_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 20)
    d = (
        li.groupBy(
            F.col("l_partkey").alias("part"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    F.col("l_quantity").cast("long"),
                ).otherwise(-F.col("l_quantity").cast("long"))
            )
            .cast("long")
            .alias("delta")
        )
    )
    w = (
        Window.partitionBy("part")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = d.withColumn("prefix", F.sum("delta").over(w)).withColumn(
        "min_prefix", F.min("prefix").over(w)
    )
    return p.select(
        "part",
        "day",
        "delta",
        (F.col("prefix") - F.least(F.col("min_prefix"), F.lit(0)))
        .cast("long")
        .alias("balance"),
    ).orderBy("part", "day")


# ---------------------------------------------------------------------------
# q207 — time-weighted average value per user (TWAP): each event's
# value holds until the next event, so it weighs by its holding
# duration (integer epoch-second gaps — the q192 timezone-free
# arithmetic); the final event carries no interval and drops out.
# One lead window + one groupBy, both on user_id: a single exchange.
# ---------------------------------------------------------------------------


@query(
    "q207_time_weighted_value",
    oracle="""
    WITH r AS (SELECT user_id, value,
                      date_diff('second', TIMESTAMP '1970-01-01', ts) AS sec,
                      LEAD(date_diff('second', TIMESTAMP '1970-01-01', ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS next_sec
               FROM events),
    iv AS (SELECT user_id, value, (next_sec - sec)::BIGINT AS dt
           FROM r WHERE next_sec IS NOT NULL),
    g AS (SELECT user_id,
                 COUNT(*)::BIGINT AS n_intervals,
                 SUM(dt)::BIGINT AS total_sec,
                 ROUND(SUM(CAST(ROUND(value * dt, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE AS wsum
          FROM iv GROUP BY user_id)
    SELECT user_id, n_intervals, total_sec,
           ROUND(wsum / total_sec::DOUBLE, 6) AS twap
    FROM g ORDER BY user_id
    """,
)
def q207_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        ev.withColumn("next_sec", F.lead("sec").over(w))
        .filter(F.col("next_sec").isNotNull())
        .select(
            "user_id",
            "value",
            (F.col("next_sec") - F.col("sec")).cast("long").alias("dt"),
        )
    )
    g = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("total_sec"),
        F.round(
            F.sum(F.round(F.col("value") * F.col("dt"), 6).cast(DEC)), 6
        )
        .cast("double")
        .alias("wsum"),
    )
    return g.select(
        "user_id",
        "n_intervals",
        "total_sec",
        F.round(F.col("wsum") / F.col("total_sec").cast("double"), 6).alias(
            "twap"
        ),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q208 — percent-of-parent hierarchy rollup: each nation's revenue share
# within its region and each region's share of the world — the
# standard drill-path readout, done with ONE detail aggregate and two
# window re-aggregations (no re-scan per level; the decimal discipline
# keeps every level's sum order-free).
# ---------------------------------------------------------------------------


@query(
    "q208_percent_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))), 6)::DOUBLE
               AS nation_rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation),
    lv AS (SELECT region, nation, nation_rev,
                  ROUND(SUM(CAST(nation_rev AS DECIMAL(28,6)))
                          OVER (PARTITION BY region), 6)::DOUBLE AS region_rev,
                  ROUND(SUM(CAST(nation_rev AS DECIMAL(28,6))) OVER (), 6)
                    ::DOUBLE AS world_rev
           FROM rev)
    SELECT region, nation, nation_rev,
           ROUND(nation_rev / region_rev, 6) AS share_of_region,
           ROUND(region_rev / world_rev, 6) AS region_share_of_world
    FROM lv ORDER BY region, nation
    """,
)
def q208_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("nation_rev")
        )
    )
    wr = Window.partitionBy("region")
    ww = Window.partitionBy()
    lv = rev.withColumn(
        "region_rev",
        F.round(F.sum(F.col("nation_rev").cast(DEC)).over(wr), 6).cast(
            "double"
        ),
    ).withColumn(
        "world_rev",
        F.round(F.sum(F.col("nation_rev").cast(DEC)).over(ww), 6).cast(
            "double"
        ),
    )
    return lv.select(
        "region",
        "nation",
        "nation_rev",
        F.round(F.col("nation_rev") / F.col("region_rev"), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("region_rev") / F.col("world_rev"), 6).alias(
            "region_share_of_world"
        ),
    ).orderBy("region", "nation")


# ---------------------------------------------------------------------------
# q209 — month-over-month revenue growth: monthly rollup + lag window
# + exact-division growth ratio. The rollup is |months| rows, so the
# single-partition lag window is a non-issue at any SF; the decimal
# discipline keeps each month's sum order-free and the ratio is one
# division of two already-rounded doubles.
# ---------------------------------------------------------------------------


@query(
    "q209_mom_growth",
    oracle="""
    WITH m AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                      COUNT(*)::BIGINT AS n_orders,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                        ::DOUBLE AS revenue
               FROM orders GROUP BY month)
    SELECT CAST(month AS DATE) AS month, n_orders, revenue,
           ROUND(revenue / LAG(revenue) OVER (ORDER BY month) - 1.0, 6)
             AS mom_growth
    FROM m ORDER BY month
    """,
)
def q209_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("revenue"),
        )
    )
    w = Window.orderBy("month")
    return m.select(
        "month",
        "n_orders",
        "revenue",
        F.round(
            F.col("revenue") / F.lag("revenue").over(w) - F.lit(1.0), 6
        ).alias("mom_growth"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# q210 — Gini coefficient of customer revenue concentration:
#     G = (2·Σ i·x_i) / (n·Σ x_i) − (n+1)/n    (x sorted ascending)
# The global ascending rank comes from operators/indexing.py's
# global_row_number (range partition + broadcast offsets — the q178
# no-1-task-sort machinery), so the inequality statistic scales to
# any customer count. Integer ranks × decimal sums keep the two
# reductions exact; the closing arithmetic is a handful of IEEE ops
# on scalars.
# ---------------------------------------------------------------------------


@query(
    "q210_revenue_gini",
    oracle="""
    WITH c AS (SELECT o_custkey,
                      ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 6)
                        ::DOUBLE AS rev
               FROM orders GROUP BY o_custkey),
    r AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
          FROM c),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 ROUND(SUM(CAST(rev AS DECIMAL(28,6))), 6)::DOUBLE AS total,
                 ROUND(SUM(CAST(ROUND(i * rev, 6) AS DECIMAL(28,6))), 6)
                   ::DOUBLE AS weighted
          FROM r)
    SELECT n, total,
           ROUND(2.0::DOUBLE * weighted / (n * total)
                 - (n + 1.0::DOUBLE) / n, 6) AS gini
    FROM s
    """,
)
def q210_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import global_row_number

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 6)
            .cast("double")
            .alias("rev")
        )
    )
    r = global_row_number(c, ["rev", "o_custkey"], out_col="i")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("rev").cast(DEC)), 6).cast("double").alias("total"),
        F.round(
            F.sum(F.round(F.col("i") * F.col("rev"), 6).cast(DEC)), 6
        )
        .cast("double")
        .alias("weighted"),
    )
    n = F.col("n")
    return s.select(
        "n",
        "total",
        F.round(
            F.lit(2.0) * F.col("weighted") / (n * F.col("total"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q211 — conversion latency distribution: per user, seconds from
# FIRST 'view' to FIRST LATER 'purchase'; the per-user reduction is
# two min-aggregates (no window), and the latency distribution rolls
# up through the exact-percentiles operator with rounded cutoffs
# (q14-established quantile_cont parity). Users who never view, never
# purchase, or purchase only before viewing drop out in both engines.
# ---------------------------------------------------------------------------


@query(
    "q211_conversion_latency",
    oracle="""
    WITH v AS (SELECT user_id,
                      MIN(date_diff('second', TIMESTAMP '1970-01-01', ts))
                        AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id,
                 MIN(date_diff('second', TIMESTAMP '1970-01-01', e.ts))
                   AS first_purchase
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase'
            AND date_diff('second', TIMESTAMP '1970-01-01', e.ts)
                  >= v.first_view
          GROUP BY e.user_id),
    lat AS (SELECT (p.first_purchase - v.first_view)::BIGINT AS latency_sec
            FROM p JOIN v ON p.user_id = v.user_id)
    SELECT COUNT(*)::BIGINT AS n_converted,
           ROUND(quantile_cont(latency_sec, 0.5), 6)::DOUBLE AS p50_sec,
           ROUND(quantile_cont(latency_sec, 0.9), 6)::DOUBLE AS p90_sec,
           MIN(latency_sec)::BIGINT AS min_sec,
           MAX(latency_sec)::BIGINT AS max_sec
    FROM lat
    """,
)
def q211_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.percentiles import exact_percentiles

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("sec") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("first_purchase"))
    )
    lat = (
        p.join(v, "user_id")
        .select(
            (F.col("first_purchase") - F.col("first_view"))
            .cast("long")
            .alias("latency_sec"),
            F.lit(1).alias("__g"),
        )
        .localCheckpoint(eager=False)  # feeds percentiles + the aggregate
    )
    pct = exact_percentiles(
        lat, ["__g"], "latency_sec", {"p50_sec": 0.5, "p90_sec": 0.9}
    ).select(F.round("p50_sec", 6).alias("p50_sec"), F.round("p90_sec", 6).alias("p90_sec"))
    agg = lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.min("latency_sec").cast("long").alias("min_sec"),
        F.max("latency_sec").cast("long").alias("max_sec"),
    )
    return agg.crossJoin(F.broadcast(pct)).select(
        "n_converted", "p50_sec", "p90_sec", "min_sec", "max_sec"
    )


# ---------------------------------------------------------------------------
# q212 — repeat-purchase cadence: per returning customer, mean days
# between consecutive orders (integer date arithmetic, one lag window
# + one groupBy on the same exchange), then the corporate rollup by
# the customer's order count band. The purchase-frequency readout
# that pairs with q202's LTV curve.
# ---------------------------------------------------------------------------


@query(
    "q212_repeat_purchase_interval",
    oracle="""
    WITH r AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                      LAG(CAST(o_orderdate AS DATE))
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS prev_d
               FROM orders),
    iv AS (SELECT o_custkey, date_diff('day', prev_d, d) AS gap
           FROM r WHERE prev_d IS NOT NULL),
    per AS (SELECT o_custkey, COUNT(*)::BIGINT AS n_gaps,
                   SUM(gap)::BIGINT AS total_days
            FROM iv GROUP BY o_custkey),
    banded AS (SELECT CASE WHEN n_gaps >= 20 THEN 'frequent'
                           WHEN n_gaps >= 10 THEN 'regular'
                           ELSE 'occasional' END AS band,
                      n_gaps, total_days
               FROM per)
    SELECT band, COUNT(*)::BIGINT AS n_customers,
           SUM(n_gaps)::BIGINT AS n_intervals,
           ROUND(SUM(total_days)::DOUBLE / SUM(n_gaps), 6)
             AS mean_gap_days
    FROM banded GROUP BY band ORDER BY band
    """,
)
def q212_repeat_purchase_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    iv = (
        o.withColumn("prev_d", F.lag("d").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select(
            "o_custkey", F.datediff("d", "prev_d").cast("long").alias("gap")
        )
    )
    per = iv.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("total_days"),
    )
    band = (
        F.when(F.col("n_gaps") >= 20, "frequent")
        .when(F.col("n_gaps") >= 10, "regular")
        .otherwise("occasional")
    )
    return (
        per.select(band.alias("band"), "n_gaps", "total_days")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_gaps").cast("long").alias("n_intervals"),
            F.round(
                F.sum("total_days").cast("double") / F.sum("n_gaps"), 6
            ).alias("mean_gap_days"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q213 — column null/blank/distinct profile: the first thing a data
# engineer runs on an unfamiliar table, as ONE scan — the columns
# melt into a (column, value) stream via stack() (the q185 shared-
# scan trick applied to profiling), so adding columns never adds
# scans. Counts are exact integers; distinct is per column on the
# melted stream.
# ---------------------------------------------------------------------------


@query(
    "q213_null_profile",
    oracle="""
    WITH m AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders)
    SELECT col,
           COUNT(*)::BIGINT AS n_rows,
           SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           SUM(CASE WHEN val = '' THEN 1 ELSE 0 END)::BIGINT AS n_blank,
           COUNT(DISTINCT val)::BIGINT AS n_distinct
    FROM m GROUP BY col ORDER BY col
    """,
)
def q213_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    melted = o.selectExpr(
        "stack(4, "
        "'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority, "
        "'o_totalprice', cast(o_totalprice as string), "
        "'o_custkey', cast(o_custkey as string)"
        ") as (col, val)"
    )
    return (
        melted.groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.sum(F.when(F.col("val") == "", 1).otherwise(0))
            .cast("long")
            .alias("n_blank"),
            F.count_distinct("val").cast("long").alias("n_distinct"),
        )
        .orderBy("col")
    )
