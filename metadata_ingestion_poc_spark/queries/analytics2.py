"""Fifth analytics batch: interval joins, deterministic sampling,
PII profiling, cross-source vocabulary similarity, grouped
regression/robust stats, event-sequence mining, token entropy, and
BFS graph distance.

- q148: per-customer overlapping order service windows via the binned
  interval-overlap join (operators/interval_join.py) — the DuckDB
  oracle is the brute-force inequality join, so the driver check
  differentially proves the binning decomposition is exact;
- q149: importance-weighted sampling — per-row keep probability
  proportional to document length, decided by a pure hash of the id
  (repartition/replay-invariant), with expected-vs-realized
  diagnostics per source;
- q150: deterministic per-group reservoir sample (top-k by md5 of
  the id — order-free, engine-reproducible "random" sample);
- q151: PII profile — regex counts of emails / IPv4s / phone numbers
  per source over a corpus with deterministically planted PII (the
  q141 augment-in-both-engines pattern);
- q152: pairwise source vocabulary Jaccard via a token inverted
  index (token equi-join), never a vocabulary cross join;
- q153: per-group least-squares regression (slope/intercept/r²) from
  exact decimal moments — one map-side-combinable aggregate pass,
  not an order-dependent streaming regr_* aggregate;
- q154: median-absolute-deviation outlier screen per group, medians
  via the rank-based exact percentile operator (no value buffering);
- q155: first-order Markov transition matrix over per-user event
  sequences (lag window + normalized counts);
- q156: per-document unigram entropy (the q131 rounded-ln decimal-sum
  discipline keeps the float path cross-engine exact);
- q157: BFS minimum-hop distance from a seed over the part
  co-purchase graph (operators/graph.py) — the oracle is a DuckDB
  recursive CTE, checking the iterative frontier loop end-to-end;
- q158: cluster-collapse curation — near-dup pairs → connected
  components → one keeper per cluster by quality score (the full
  dedup decision, composed from the q51/q54/q61 operators);
- q159: hard-negative mining — top-5 most-similar different-label
  vectors per query (contrastive-training data, q55's broadcast
  shape + label predicate);
- q160: near-dup threshold sweep — Jaccard pair-count histogram in
  one pass of the inverted-index pipeline (the threshold-calibration
  curve).

All floats follow the decimal-sum + round-6 convention; everything
else is integer/string-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.graph import bfs_hops
from ..operators.interval_join import interval_overlap_join
from ..operators.percentiles import exact_percentiles
from . import query
from ._util import DEC

# ---------------------------------------------------------------------------
# q148 — interval overlap join. Each order opens a service window of
# (o_orderkey % 30) days; find every overlapping pair of windows for
# the same customer. The operator bins intervals (width 32 ≈ max span)
# so the plan is a hash equi-join on (custkey, bin) — the oracle is
# the O(n²)-per-customer inequality join, proving the decomposition.
# ---------------------------------------------------------------------------


@query(
    "q148_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS custkey, o_orderkey AS k,
             date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS s,
             (date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
              + o_orderkey % 30)::BIGINT AS e
      FROM orders)
    SELECT a.custkey, a.k AS k1, b.k AS k2,
           (least(a.e, b.e) - greatest(a.s, b.s) + 1)::BIGINT AS overlap_days
    FROM iv a JOIN iv b
      ON a.custkey = b.custkey AND a.k < b.k
      AND a.s <= b.e AND b.s <= a.e
    ORDER BY 1, 2, 3
    """,
)
def q148_interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("s"),
    ).withColumn(
        "e", (F.col("s") + F.pmod(F.col("o_orderkey"), F.lit(30))).cast("long")
    )
    left = iv.select(
        "custkey",
        F.col("o_orderkey").alias("k1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    right = iv.select(
        "custkey",
        F.col("o_orderkey").alias("k2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    return (
        interval_overlap_join(
            left, right, "s1", "e1", "s2", "e2", bin_width=32, on=["custkey"]
        )
        .filter(F.col("k1") < F.col("k2"))
        .select(
            "custkey",
            "k1",
            "k2",
            (F.least("e1", "e2") - F.greatest("s1", "s2") + 1)
            .cast("long")
            .alias("overlap_days"),
        )
        .orderBy("custkey", "k1", "k2")
    )


# ---------------------------------------------------------------------------
# q149 — importance-weighted sampling. Keep probability ∝ document
# length (capped at 0.5): a doc survives iff hash(id) mod 10⁴ falls
# under min(n_chars, 5000). Pure function of the row → identical under
# any partitioning, replay, or engine; expected_keep (Σ pᵢ) against
# n_kept is the sampler's calibration diagnostic.
# ---------------------------------------------------------------------------


@query(
    "q149_importance_weighted_sample",
    oracle="""
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(SUM(CAST(least(n_chars, 5000) / 10000.0
                          AS DECIMAL(28,6))), 6)::DOUBLE AS expected_keep,
           SUM(CASE WHEN ((doc_id % 10000) * 2654435761) % 10000 < least(n_chars, 5000)
                    THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           SUM(CASE WHEN ((doc_id % 10000) * 2654435761) % 10000 < least(n_chars, 5000)
                    THEN n_chars ELSE 0 END)::BIGINT AS kept_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q149_importance_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # id reduced first so the int64 multiply cannot overflow at
    # corpus-scale ids (equal for every id by modular arithmetic)
    u = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(10000)) * F.lit(2654435761),
        F.lit(10000),
    )
    cap = F.least(F.col("n_chars"), F.lit(5000))
    kept = u < cap
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum((cap / F.lit(10000.0)).cast(DEC)), 6)
            .cast("double")
            .alias("expected_keep"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q150 — deterministic per-group reservoir: the k smallest md5(id)
# per source. Statistically a uniform k-sample (md5 is uniform on
# ids), operationally a plain top-k window — rerun-stable across
# engines, partitionings, and retries, unlike rand()-based reservoirs.
# ---------------------------------------------------------------------------


@query(
    "q150_group_reservoir_sample",
    oracle="""
    SELECT source, rn::BIGINT AS rn, doc_id, n_chars
    FROM (SELECT source, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
          FROM documents)
    WHERE rn <= 5
    ORDER BY source, rn
    """,
)
def q150_group_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "source", F.col("rn").cast("long").alias("rn"), "doc_id", "n_chars"
        )
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# q151 — PII profile. The corpus is synthetic word salad, so PII is
# planted deterministically in BOTH engines (every 7th doc gets an
# email, an IPv4, and a phone number derived from its id — the q141
# augment pattern); the profiler must find exactly the plants. All
# regexes use the Java∩RE2-portable subset (classes, \d, \b, bounded
# quantifiers — no backrefs or lookaround).
# ---------------------------------------------------------------------------

_PII_AUG_SQL = """CASE WHEN doc_id % 7 = 0 THEN
  text || ' contact user' || doc_id::VARCHAR
       || '@mail.example.com at 10.' || (doc_id % 200)::VARCHAR
       || '.0.' || (doc_id % 250)::VARCHAR
       || ' call 555-' || (1000 + doc_id % 9000)::VARCHAR
  ELSE text END"""

_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_PHONE = r"\b555-\d{4}\b"


@query(
    "q151_pii_profile",
    oracle=f"""
    WITH aug AS (
      SELECT source, {_PII_AUG_SQL} AS text
      FROM documents),
    m AS (
      SELECT source,
             len(regexp_extract_all(text, '{_RE_EMAIL}'))::BIGINT AS emails,
             len(regexp_extract_all(text, '{_RE_IPV4}'))::BIGINT AS ips,
             len(regexp_extract_all(text, '{_RE_PHONE}'))::BIGINT AS phones
      FROM aug)
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN emails + ips + phones > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_with_pii,
           SUM(emails)::BIGINT AS emails,
           SUM(ips)::BIGINT AS ips,
           SUM(phones)::BIGINT AS phones
    FROM m
    GROUP BY source
    ORDER BY source
    """,
)
def q151_pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = F.when(
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
    ).otherwise(F.col("text"))
    m = d.select(
        "source",
        F.regexp_count(aug, F.lit(_RE_EMAIL)).cast("long").alias("emails"),
        F.regexp_count(aug, F.lit(_RE_IPV4)).cast("long").alias("ips"),
        F.regexp_count(aug, F.lit(_RE_PHONE)).cast("long").alias("phones"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("emails") + F.col("ips") + F.col("phones") > 0, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("docs_with_pii"),
            F.sum("emails").cast("long").alias("emails"),
            F.sum("ips").cast("long").alias("ips"),
            F.sum("phones").cast("long").alias("phones"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q152 — pairwise source vocabulary Jaccard. Shape: distinct (source,
# token) → self-equi-join ON TOKEN (the inverted-index pattern; cost
# Σ per-token df², bounded by source count) — never a cross join of
# materialized vocabulary sets. Zero-overlap pairs drop out of the
# inner join identically in both engines.
# ---------------------------------------------------------------------------


@query(
    "q152_vocab_jaccard",
    oracle=r"""
    WITH tok AS (
      SELECT DISTINCT source, token FROM (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents)
      WHERE token <> ''),
    sizes AS (SELECT source, COUNT(*)::BIGINT AS n FROM tok GROUP BY source)
    SELECT a.source AS s1, b.source AS s2,
           COUNT(*)::BIGINT AS n_common, sa.n AS n1, sb.n AS n2,
           (COUNT(*)::DOUBLE / (sa.n + sb.n - COUNT(*)))::DOUBLE
             AS jaccard
    FROM tok a
    JOIN tok b ON a.token = b.token AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n, sb.n
    ORDER BY 1, 2
    """,
)
def q152_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("source").alias("s1"), "token")
    b = tok.select(F.col("source").alias("s2"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
            ),
            "s1",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
            ),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "n_common",
            "n1",
            "n2",
            # raw exact-operand IEEE division (safe class, r14)
            (
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


# ---------------------------------------------------------------------------
# q153 — per-group least-squares fit from exact decimal moments.
# ONE map-side-combinable aggregate pass collects (n, Σx, Σy, Σxy,
# Σx², Σy²) as exact decimals; slope/intercept/r² are then a fixed
# IEEE double expression over identical inputs — engine-reproducible,
# unlike streaming regr_* aggregates whose partials combine in
# engine-specific order.
# ---------------------------------------------------------------------------


@query(
    "q153_group_regression",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*)::BIGINT AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)::DOUBLE
             AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 6)::DOUBLE AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)::DOUBLE
             AS r2
    FROM m ORDER BY l_returnflag
    """,
)
def q153_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    return m.select(
        "l_returnflag",
        "n",
        F.round(num / denx, 6).alias("slope"),
        F.round((sy - (num / denx) * sx) / n, 6).alias("intercept"),
        F.round((num * num) / (denx * deny), 6).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q154 — MAD outlier screen. l_quantity is discrete (50 distinct
# values), so the scale shape is: collapse lineitem to a per-group
# VALUE HISTOGRAM once (one scan, map-side combine, ≤ groups×50 rows
# out), then do both medians — value median and deviation median —
# and the outlier count entirely on the tiny histogram via the
# weighted mode of the exact-percentile operator. The raw table is
# read exactly once; a localCheckpoint pins the histogram so the
# operator's internal branches don't re-run the scan. Integer values
# mean medians land on exact .0/.5 doubles — the 3×MAD comparison has
# no float hazard. (For continuous columns use
# exact_percentile_iterative_grouped instead — histogram collapse
# doesn't apply.)
# ---------------------------------------------------------------------------


@query(
    "q154_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med
      FROM lineitem GROUP BY 1),
    dev AS (
      SELECT l.l_returnflag, abs(l.l_quantity - m.med) AS dev, m.med
      FROM lineitem l JOIN med m USING (l_returnflag)),
    mad AS (SELECT l_returnflag, median(dev) AS mad FROM dev GROUP BY 1)
    SELECT d.l_returnflag,
           MIN(d.med)::DOUBLE AS med,
           MIN(m.mad)::DOUBLE AS mad,
           COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
)
def q154_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    hist = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # tiny (≤ groups×50 rows); ends the raw scan
    )
    med = exact_percentiles(
        hist, ["l_returnflag"], "l_quantity", {"med": 0.5}, count_col="cnt"
    )
    devhist = (
        hist.join(F.broadcast(med), "l_returnflag")
        .withColumn("dev", F.abs(F.col("l_quantity") - F.col("med")))
        .groupBy("l_returnflag", "med", "dev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = exact_percentiles(
        devhist, ["l_returnflag"], "dev", {"mad": 0.5}, count_col="cnt"
    )
    return (
        devhist.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            # raw: the integer-grid medians are exact half-integer
            # selections — no ROUND needed (r14)
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum("cnt").alias("n"),
            F.sum(
                F.when(
                    F.col("dev") > F.lit(3.0) * F.col("mad"), F.col("cnt")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q155 — first-order Markov transition matrix over per-user event
# sequences: lag window on (ts, event_id) total order, then one count
# aggregate; row-normalized probabilities via a tiny window over the
# from-type marginal. Output is |event_types|² rows.
# ---------------------------------------------------------------------------


@query(
    "q155_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (
      SELECT prev AS from_type, event_type AS to_type, COUNT(*)::BIGINT AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           (CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type))::DOUBLE AS p
    FROM c ORDER BY from_type, to_type
    """,
)
def q155_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        # raw: SUM(n) over ints is exact; one IEEE division (r14)
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p"),
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# q156 — per-document unigram entropy −Σ p·ln p. Each ln is rounded
# to 6dp before the multiply, each term rounded before the decimal
# sum (the q131 discipline), so the only float ops are identical
# IEEE expressions over identical inputs in both engines.
# ---------------------------------------------------------------------------


@query(
    "q156_unigram_entropy",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM documents),
    cnt AS (
      SELECT doc_id, token, COUNT(*)::BIGINT AS c
      FROM tok WHERE token <> '' GROUP BY 1, 2),
    terms AS (
      SELECT doc_id, c,
             SUM(c) OVER (PARTITION BY doc_id) AS t,
             ROUND((CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id))
                   * ROUND(ln(CAST(c AS DOUBLE)
                              / SUM(c) OVER (PARTITION BY doc_id)), 6),
                   6) AS term
      FROM cnt)
    SELECT doc_id,
           MIN(t)::BIGINT AS n_tokens,
           COUNT(*)::BIGINT AS n_unique,
           ROUND(-SUM(CAST(term AS DECIMAL(28,6))), 6)::DOUBLE AS entropy
    FROM terms GROUP BY doc_id ORDER BY doc_id
    """,
)
def q156_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.sum("c").over(w)
    terms = cnt.select(
        "doc_id",
        F.sum("c").over(w).alias("t"),
        F.round(p * F.round(F.log(p), 6), 6).alias("term"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.min("t").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_unique"),
            F.round(-F.sum(F.col("term").cast(DEC)), 6)
            .cast("double")
            .alias("entropy"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q157 — BFS hop distance from the minimum part over the co-purchase
# graph (parts sharing an order). The Spark side is the iterative
# frontier loop in operators/graph.py (lineage cut per round); the
# oracle is a depth-bounded recursive CTE taking min(depth) — exactly
# BFS minimum-hop semantics within the bound.
# ---------------------------------------------------------------------------


@query(
    "q157_bfs_hops",
    oracle="""
    WITH RECURSIVE pl AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM pl a JOIN pl b ON a.ok = b.ok AND a.p < b.p),
    edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    r(node, d) AS (
      SELECT MIN(l_partkey), 0 FROM lineitem
      UNION ALL
      SELECT e.v, r.d + 1 FROM r JOIN edges e ON e.u = r.node WHERE r.d < 2
    )
    SELECT node, MIN(d)::BIGINT AS hops
    FROM r GROUP BY node ORDER BY node
    """,
)
def q157_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # no distinct here: bfs_hops dedups (u, v) in its own single
    # symmetrize+distinct exchange — deduping twice would just add a
    # full shuffle of the pair list
    edges = a.join(b, "ok").filter(F.col("u") < F.col("v")).select("u", "v")
    seeds = li.select(F.min("l_partkey").alias("node"))
    return (
        bfs_hops(edges, seeds, max_hops=2)
        .select("node", F.col("hops").cast("long").alias("hops"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# q158 — cluster-collapse curation: near-dup pairs → connected
# components → keep ONE doc per cluster, chosen by quality score
# (ties by min id). The full dedup decision a pretraining pipeline
# makes, composed from three proven operators (q51 pairs, q54
# components, q61 quality); singleton docs are their own clusters.
# Oracle: recursive-CTE closure + the q61 quality formula + a
# row_number keeper pick — every stage mirrored exactly.
# ---------------------------------------------------------------------------

_CC_THRESHOLD, _CC_DF = 0.4, 20


@query(
    "q158_cluster_collapse",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    sh0 AS (SELECT DISTINCT doc_id,
                   toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
            FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS sdf FROM sh0)
           WHERE sdf <= {_CC_DF}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    fixed_pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2) c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE c.n_common / (sa.n_sh + sb.n_sh - c.n_common) >= {_CC_THRESHOLD}
    ),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM fixed_pairs
              UNION SELECT doc_b, doc_a FROM fixed_pairs),
    reach AS (
      SELECT s AS n, s AS m FROM edges
      UNION
      SELECT e.s, r.m FROM edges e JOIN reach r ON e.d = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    q AS (
      SELECT doc_id,
             ROUND(least(len(toks) / 100.0, 1.0)
                   * (1.0 - (1.0 - len(list_distinct(toks))
                             / len(toks))), 6) AS quality
      FROM t),
    member AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             q.quality
      FROM documents d
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      JOIN q ON q.doc_id = d.doc_id),
    ranked AS (
      SELECT cluster_id, doc_id, quality,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM member)
    SELECT cluster_id, n_members::BIGINT AS n_members,
           doc_id AS keeper_doc, quality::DOUBLE AS keeper_quality
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def q158_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", n=3, threshold=_CC_THRESHOLD, max_shingle_df=_CC_DF
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    member = (
        d.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .join(quality_score(d).select("doc_id", "quality"), "doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        member.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("doc_id").alias("keeper_doc"),
            F.col("quality").cast("double").alias("keeper_quality"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# q159 — hard-negative mining for contrastive training: for each
# query vector, the top-5 most-similar vectors with a DIFFERENT
# label. Same broadcast-query/corpus-never-shuffles shape as q55
# (exact cosine, JVM zip/aggregate expressions) plus the label
# predicate in the pair filter.
# ---------------------------------------------------------------------------


@query(
    "q159_hard_negative_mining",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             ROUND(list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
      FROM q JOIN v c ON c.vec_id <> q.vec_id AND c.label <> q.label
    )
    SELECT query_id, neighbor_id, neighbor_label,
           cosine::DOUBLE AS cosine, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
                    AS rank
          FROM scored)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q159_hard_negative_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import exact_topk, pair_side

    emb = load_table(spark, sf_dir, "embeddings")
    q = pair_side(
        emb.filter(F.col("vec_id") < 20), "q", "vec_id", "embedding",
        F.col("label").alias("q_label"),
    )
    c = pair_side(
        emb, "n", "vec_id", "embedding", F.col("label").alias("neighbor_label")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("neighbor_label") != F.col("q_label"))
    )
    return exact_topk(pairs, 5, carry=("neighbor_label",)).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# q160 — near-dup threshold sweep: the pair-count histogram over
# Jaccard buckets, computed in ONE pass of the inverted-index pair
# pipeline (threshold at the floor, bucket by floor(j·10)). This is
# the calibration curve an operator reads to pick the dedup
# threshold — running the pipeline once per candidate threshold
# would repeat the expensive shuffle per point. The 0.02 floor keeps
# the casual-overlap mass visible (bucket 0) next to the true-dup
# spike (bucket 9) — the valley between them is the threshold call.
# ---------------------------------------------------------------------------

_SWEEP_FLOOR, _SWEEP_DF = 0.02, 20


@query(
    "q160_threshold_sweep",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    sh0 AS (SELECT DISTINCT doc_id,
                   toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
            FROM t, unnest(range(greatest(len(toks) - 2, 1))) AS u(i)),
    sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS sdf FROM sh0)
           WHERE sdf <= {_SWEEP_DF}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    jac AS (
      SELECT (c.n_common / (sa.n_sh + sb.n_sh - c.n_common)) AS j
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2) c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE c.n_common / (sa.n_sh + sb.n_sh - c.n_common) >= {_SWEEP_FLOOR}
    )
    SELECT least(floor(j * 10), 9)::BIGINT AS bucket,
           (least(floor(j * 10), 9) / 10.0)::DOUBLE AS bucket_lo,
           COUNT(*)::BIGINT AS n_pairs
    FROM jac GROUP BY 1, 2 ORDER BY bucket
    """,
)
def q160_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", n=3, threshold=_SWEEP_FLOOR, max_shingle_df=_SWEEP_DF
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("long")
    return (
        pairs.select(
            bucket.alias("bucket"),
            # raw: one IEEE division of exact operands (safe class)
            (bucket / F.lit(10.0)).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q161 — the same BFS reachability as q157, expressed as a Spark 4
# RECURSIVE CTE (spark.sql WITH RECURSIVE) instead of the iterative
# DataFrame loop. Three-way differential: q157 (operator) and q161
# (declarative recursion) both match the identical DuckDB oracle.
#
# Scale note: Spark's recursive CTE supports UNION ALL only
# (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE as of 4.1), i.e. path
# enumeration, not fixpoint iteration — cost grows with the number of
# bounded-depth PATHS (exponential in depth on dense graphs), while
# operators/graph.py's frontier loop with its visited-set anti-join
# does O(E+V) total work at any depth. The declarative form is for
# modest fan-out / small depth; the operator is the scale path.
# ---------------------------------------------------------------------------

_BFS_SQL = """
    WITH RECURSIVE pl AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM pl a JOIN pl b ON a.ok = b.ok AND a.p < b.p),
    edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    r(node, d) AS (
      SELECT MIN(l_partkey), 0 FROM lineitem
      UNION ALL
      SELECT e.v, r.d + 1 FROM r JOIN edges e ON e.u = r.node WHERE r.d < 2
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS hops
    FROM r GROUP BY node ORDER BY node
"""


@query("q161_recursive_cte_bfs", oracle=_BFS_SQL)
def q161_recursive_cte_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the symmetric edge list ONCE before the recursion:
    # a non-recursive CTE referenced from the recursive member is
    # re-evaluated on every step, so leaving the pair self-join inline
    # re-runs the expensive derivation per depth (measured at
    # sf0.1: 9.5s inline vs 6.1s materialized). The oracle keeps the
    # inline form — DuckDB CTEs materialize.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    e0 = a.join(b, "ok").filter(F.col("u") < F.col("v")).select("u", "v")
    sym = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u")
        .distinct()
        .localCheckpoint()
    )
    sym.createOrReplaceTempView("bfs_edges")
    li.select(F.min("l_partkey").alias("node")).createOrReplaceTempView(
        "bfs_seed"
    )
    return spark.sql(
        """
        WITH RECURSIVE r(node, d) AS (
          SELECT node, 0 FROM bfs_seed
          UNION ALL
          SELECT e.v, r.d + 1 FROM r JOIN bfs_edges e ON e.u = r.node
          WHERE r.d < 2
        )
        SELECT node, CAST(MIN(d) AS BIGINT) AS hops
        FROM r GROUP BY node ORDER BY node
        """
    )


# ---------------------------------------------------------------------------
# q162 — crawl-domain statistics: extract the URL each document cites,
# parse host / path / query-param, aggregate per (host, ref). URLs
# are planted deterministically in every 3rd doc (the q151 pattern),
# so the parser must recover exactly the plants. Spark side uses the
# real JVM url parser (parse_url); the oracle re-derives the same
# fields with anchored regexps — equality holds because the planted
# format is controlled, which is precisely what makes the parser
# differentially checkable.
# ---------------------------------------------------------------------------

_URL_SQL = """CASE WHEN doc_id % 3 = 0 THEN
  'https://cdn' || (doc_id % 5)::VARCHAR || '.example.org/p/'
    || doc_id::VARCHAR || '?ref=src' || (doc_id % 4)::VARCHAR || '&x=1'
  ELSE NULL END"""


@query(
    "q162_url_host_stats",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    p AS (
      SELECT doc_id,
             regexp_extract(url, 'https://([^/]+)', 1) AS host,
             regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, '[?&]ref=([^&]+)', 1) AS ref
      FROM u WHERE url IS NOT NULL)
    SELECT host, ref,
           COUNT(*)::BIGINT AS n_urls,
           COUNT(DISTINCT path)::BIGINT AS n_paths,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM p
    GROUP BY host, ref
    ORDER BY host, ref
    """,
)
def q162_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    url = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("https://cdn"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=src"),
            (F.col("doc_id") % 4).cast("string"),
            F.lit("&x=1"),
        ),
    )
    p = d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref"),
    ).filter(F.col("host").isNotNull())
    return (
        p.groupBy("host", "ref")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("path").alias("n_paths"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("host", "ref")
    )


# ---------------------------------------------------------------------------
# q163 — LATERAL correlated subquery (SQL:1999 lateral join, Spark 4
# syntax): top-2 customers by balance per nation, the "for each row,
# run this parameterized subquery" surface. The identical SQL text
# runs on both engines. Catalyst decorrelates the lateral into a
# ranked window under the hood — same physical shape as q20's
# DataFrame top-k-per-group, no per-row re-execution.
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@query("q163_lateral_topk", oracle=_LATERAL_SQL)
def q163_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# q164 — forward as-of attribution with tolerance: for each click, the
# FIRST purchase by the same user at-or-after it, but only within 2
# hours (else unattributed). operators/asof.py direction="forward" —
# one shuffle on user_id, never a range join. Equal-timestamp purchase
# ties resolve to max value (the operator's max-tiebreak rule), which
# the oracle mirrors with MAX() over the argmin-ts join.
# ---------------------------------------------------------------------------


@query(
    "q164_asof_forward_attribution",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    m AS (
      SELECT c.event_id, c.user_id, c.ts,
             (SELECT min(p.ts) FROM p
              WHERE p.user_id = c.user_id AND p.ts >= c.ts
                AND p.ts <= c.ts + INTERVAL 7200 SECOND) AS purchase_ts
      FROM c)
    SELECT m.event_id, m.user_id, m.ts, m.purchase_ts,
           MAX(pp.value)::DOUBLE AS purchase_value
    FROM m LEFT JOIN p pp
      ON pp.user_id = m.user_id AND pp.ts = m.purchase_ts
    GROUP BY m.event_id, m.user_id, m.ts, m.purchase_ts
    ORDER BY m.event_id
    """,
)
def q164_asof_forward_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            clicks,
            purchases,
            on=["user_id"],
            left_ts="ts",
            right_ts="ts",
            right_payload=["value"],
            tiebreak=["value"],
            prefix="purchase_",
            direction="forward",
            tolerance=7200,
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("purchase_ts").alias("purchase_ts"),
            F.col("purchase_value").cast("double").alias("purchase_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q165 — per-source length percentiles via the WEIGHTED exact
# percentile operator: collapse documents to a (source, n_chars,
# count) histogram first (one scan, map-side combine), then rank-
# interpolate on the tiny frame. The oracle runs quantile_cont over
# the raw rows — the driver check therefore proves
# histogram-weighted ≡ raw-row percentile_cont end-to-end.
# ---------------------------------------------------------------------------


@query(
    "q165_weighted_percentiles",
    oracle="""
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 6)::DOUBLE AS p25,
           ROUND(quantile_cont(n_chars, 0.5), 6)::DOUBLE AS med,
           ROUND(quantile_cont(n_chars, 0.9), 6)::DOUBLE AS p90
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q165_weighted_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hist = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    pct = exact_percentiles(
        hist,
        ["source"],
        "n_chars",
        {"p25": 0.25, "med": 0.5, "p90": 0.9},
        count_col="cnt",
    )
    totals = hist.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    return (
        pct.join(totals, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round("p25", 6).alias("p25"),
            F.round("med", 6).alias("med"),
            F.round("p90", 6).alias("p90"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q166 — LLM-cost token accounting: BPE-ish pre-tokenizer counts
# (operators/text.py BPE_ISH_PATTERN — portable Java∩RE2 subset of the
# GPT-2 pattern) next to whitespace word counts, per source. The
# chars-per-token ratio is the dial for converting corpus bytes to
# training-token budgets.
# ---------------------------------------------------------------------------


@query(
    "q166_bpe_token_accounting",
    oracle=r"""
    WITH m AS (
      SELECT source,
             len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))::BIGINT
               AS bpe,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS words,
             length(text)::BIGINT AS chars
      FROM documents)
    SELECT source,
           SUM(bpe)::BIGINT AS bpe_tokens,
           SUM(words)::BIGINT AS word_tokens,
           SUM(chars)::BIGINT AS chars,
           (CAST(SUM(chars) AS DOUBLE) / SUM(bpe))::DOUBLE
             AS chars_per_token
    FROM m GROUP BY source ORDER BY source
    """,
)
def q166_bpe_token_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import bpe_ish_token_count

    d = bpe_ish_token_count(load_table(spark, sf_dir, "documents"))
    m = d.select(
        "source",
        F.col("bpe_tokens").alias("bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "words"
        ),
        F.length("text").cast("long").alias("chars"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.sum("bpe").alias("bpe_tokens"),
            F.sum("words").alias("word_tokens"),
            F.sum("chars").alias("chars"),
            # raw exact-operand IEEE division (safe class, r14)
            (
                F.sum("chars").cast("double") / F.sum("bpe")
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )
