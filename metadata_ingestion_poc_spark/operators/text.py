"""Text-analysis operators for training-data pipelines.

All JVM built-ins over the `documents` table: token statistics,
heuristic language ID, quality scoring, TF-IDF term ranking, and
rolling-hash document fingerprints. SURVEY.md §2 B10 [EXT].
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import tokenize
from ..execution import spread

# Tiny marker-word sets for the heuristic language scorer. The corpus
# is synthetic word salad, so these act as a deterministic scoring
# fixture rather than a real model; swap for character-n-gram profiles
# (or fastText via pandas UDF) on real data.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts and length statistics."""
    t = tokenize(docs)
    return t.select(
        "doc_id",
        "lang",
        "source",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_unique_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(
            F.size(F.array_distinct("tokens")) / F.size("tokens"), 6
        ).alias("ttr"),  # type-token ratio
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features mirror the public C4/Gopher-style filters that are
    expressible without models: length, mean token length, stopword
    ratio, repetition (1 - type/token ratio).
    """
    t = tokenize(docs)
    n_tokens = F.size("tokens")
    n_unique = F.size(F.array_distinct("tokens"))
    n_stop = F.size(
        F.filter(
            F.col("tokens"),
            lambda x: F.array_contains(
                F.array(*[F.lit(s) for s in STOPWORDS]), x
            ),
        )
    )
    mean_tok_len = F.length(F.regexp_replace(F.col("text"), " ", "")) / n_tokens
    stop_ratio = n_stop / n_tokens
    repetition = F.lit(1.0) - n_unique / n_tokens
    return t.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(repetition, 6).alias("repetition"),
        F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * (F.lit(1.0) - repetition),
            6,
        ).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language guess: argmax of marker-word hits per language,
    deterministic tie-break by language code; 'und' when no marker hits.
    """
    t = tokenize(docs)
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        F.array_distinct("tokens"),
                        F.array(*[F.lit(w) for w in LANG_MARKERS[lang]]),
                    )
                ).alias("hits"),
                F.lit(lang).alias("lang_code"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # array_max on struct compares field-by-field: highest hits, then
    # lexicographically greatest lang — invert code ordering for a
    # "smallest code wins ties" rule by sorting descending on hits.
    best = F.array_max(
        F.transform(
            scored,
            lambda s: F.struct(
                s.getField("hits").alias("hits"),
                # negate rank so ties pick the alphabetically-first code
                (-F.array_position(
                    F.array(*[F.lit(x) for x in sorted(LANG_MARKERS)]),
                    s.getField("lang_code"),
                )).alias("neg_rank"),
                s.getField("lang_code").alias("lang_code"),
            ),
        )
    )
    return t.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.when(best.getField("hits") > 0, best.getField("lang_code"))
        .otherwise(F.lit("und"))
        .alias("lang_guess"),
        best.getField("hits").cast("int").alias("marker_hits"),
    )


def tfidf_top_terms(
    docs: DataFrame, per: str = "lang", k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per group (default: per language).

    tf  = term occurrences within the group
    idf = ln(N_docs / df) over the whole corpus
    One explode, two aggregates, one broadcast join, one window.
    """
    toks = tokenize(docs).select(
        "doc_id", F.col(per).alias("grp"), F.explode("tokens").alias("term")
    )
    n_docs = docs.count()  # scalar; drives a literal, not a shuffle

    tf = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("grp", "term", "tf", "df", "tfidf", "rank")
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint of normalized text.

    Normalization: lower-case, collapse whitespace — so trivially
    reformatted duplicates collide. The whitespace class is written
    out explicitly (``[ \\t\\n\\r]``) rather than ``\\s`` so every
    engine (Java regex here, RE2 in DuckDB) collapses the identical
    character set — that is what makes `fp` cross-engine checkable.

    Adds two columns:
    - `fp`     — md5 hex of the normalized text: portable (every SQL
      engine has md5), so it carries a full value oracle.
    - `fp_xx`  — xxhash64 of the same text: cheaper 8-byte engine hash
      for in-Spark joins/dedup keys where portability doesn't matter.
    """
    normalized = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), "[ \t\n\r]+", " "
    )
    return docs.withColumn("fp", F.md5(normalized)).withColumn(
        "fp_xx", F.xxhash64(normalized)
    )


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/CCNet-style normalization ahead of dedup/fingerprinting.

    lower → strip every char outside [a-z0-9 ] → collapse whitespace
    runs → trim. Pure JVM regexp chain (whole-stage codegen, no UDF);
    adds `norm_text` + `norm_tokens` columns. Normalizing BEFORE
    shingling is what makes near-dup detection robust to punctuation /
    casing / spacing noise at corpus scale.
    """
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.trim(F.regexp_replace(stripped, " +", " "))
    return docs.withColumn("norm_text", collapsed).withColumn(
        "norm_tokens",
        F.when(F.col("norm_text") == "", F.lit(0)).otherwise(
            F.size(F.split(F.col("norm_text"), " "))
        ),
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """zlib compressed-size / raw-size per document — the standard
    repetitiveness screen (Gopher / RefinedWeb style): machine loops
    and boilerplate compress far below natural text, so a low ratio is
    a drop signal the n-gram heuristics can miss.

    zlib has no JVM-expression or DuckDB equivalent, so this is the
    honest pandas_udf case: Arrow-batched, one C-speed compress per
    document, no per-row Python object churn beyond the codec call.
    Deterministic for a fixed zlib version+level (pinned by exact-value
    tests), but NOT SQL-expressible — query registrations are
    rows-only by design. Adds ``raw_len`` (utf-8 bytes), ``zlib_len``,
    ``compression_ratio`` (6dp, 0.0 for empty docs).
    """
    from pyspark.sql.functions import pandas_udf

    def _zlen_batch(s):
        import zlib

        return s.fillna("").map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
        )

    # lambda-style registration: the module uses `from __future__ import
    # annotations`, which turns pd.Series hints into strings pyspark's
    # hint parser can't resolve here
    _zlen = pandas_udf(_zlen_batch, "long")

    raw_len = F.length(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
    return (
        docs.withColumn("raw_len", raw_len.cast("long"))
        .withColumn("zlib_len", _zlen(F.col(text_col)))
        .withColumn(
            "compression_ratio",
            F.when(F.col("raw_len") == 0, F.lit(0.0)).otherwise(
                F.round(F.col("zlib_len") / F.col("raw_len"), 6)
            ),
        )
    )


# GPT-2-style pre-tokenizer, restricted to the Java∩RE2-portable
# subset: the original pattern's `\s+(?!\S)` lookahead (RE2 has no
# lookaround) is dropped, so a token-preceding space attaches to the
# token and remaining whitespace runs count as one token — a
# deterministic, documented approximation. Contractions, letter runs,
# digit runs, punctuation runs, whitespace runs.
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_ish_token_count(
    docs: DataFrame, text_col: str = "text", out_col: str = "bpe_tokens"
) -> DataFrame:
    """Subword-ish token count from the BPE pre-tokenizer regex — the
    LLM-cost estimator's unit (whitespace words under-count by ~1.3×
    on punctuated text). Pure JVM regexp (codegen), and the identical
    pattern runs on RE2 engines for cross-engine checking.
    """
    return docs.withColumn(
        out_col,
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)).cast("long"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of `w` consecutive hashes, and keep the minimum of each
    window (rightmost on ties).

    Output: one row per selected fingerprint — (id, pos, fp) where
    `pos` is the 1-based k-gram position and `fp` the 16-hex-char
    md5 prefix of the k-gram. Selection guarantee: any verbatim match
    of at least w+k-1 tokens between two documents shares at least
    one fingerprint, at ~2/(w+1) of the full k-gram index size — the
    storage/recall dial between exact span dedup (operators/spans.py,
    every k-gram) and whole-doc hashing (fingerprint above, 1 row).

    Engine-portable by construction: hashes are md5 hex prefixes
    compared LEXICOGRAPHICALLY (fixed-length lowercase hex — total
    order identical in every engine, no base-16 parsing), so a SQL
    oracle reproduces the selection exactly (q173).

    Scale shape: everything is per-document array math inside
    codegen — no explode until the final fingerprint set, no shuffle
    at all; the output feeds an equi-join on `fp` for candidate
    pairing, never an all-pairs comparison.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    # project + spread first (round 14): the per-document md5 k-gram
    # build and window-min sweep are the CPU floor of the operator,
    # and a small docs parquet arrives as 1-3 input splits that the
    # two checkpoints would otherwise pin. Stats-gated no-op at scale.
    toks_df = spread(docs.select(id_col, text_col)).withColumn(
        "__toks", F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    toks = F.col("__toks")
    n_grams = F.size(toks) - (k - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, (i + d).cast("int")) for d in range(k)]
    )
    # staged columns, each referencing the previous ONCE per lambda
    # body: inlining a computed array into nested higher-order
    # lambdas multiplies the expression tree per reference (the
    # shingles() lesson squared) — the one-shot formulation hung the
    # analyzer even on 50 docs
    hashes_df = toks_df.withColumn(
        "__h",
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: F.substring(F.md5(gram(i)), 1, 16),
            ),
        ).otherwise(F.array().cast("array<string>")),
    ).localCheckpoint(eager=False)
    h = F.col("__h")
    n_windows = F.size(h) - (w - 1)
    mins_df = hashes_df.withColumn(
        "__mins",
        F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
                lambda j: F.array_min(F.slice(h, j, w)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    ).localCheckpoint(eager=False)
    mins = F.col("__mins")
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(mins), F.lit(1))),
            lambda j: F.struct(
                F.array_max(
                    F.filter(
                        F.sequence(j, j + (w - 1)),
                        lambda p: F.element_at(h, p.cast("int"))
                        == F.element_at(mins, j.cast("int")),
                    )
                ).alias("pos"),
                F.element_at(mins, j.cast("int")).alias("fp"),
            ),
        )
    )
    return (
        mins_df.withColumn(
            "__sel",
            F.when(F.size(mins) >= 1, sel).otherwise(
                F.array().cast("array<struct<pos:long,fp:string>>")
            ),
        )
        .select(F.col(id_col), F.explode("__sel").alias("__s"))
        .select(
            id_col,
            F.col("__s.pos").alias("pos"),
            F.col("__s.fp").alias("fp"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every document against a bag of query terms.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    idf(t)   = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))   (Lucene variant)

    Scale shape (100 TB): the token stream is filtered to the query's
    terms BEFORE any shuffle — the per-(doc,term) aggregate then runs
    over only matching tokens, so its exchange carries O(hits), not
    O(corpus tokens). Corpus stats (N, avgdl) are two scalars from one
    aggregate over per-doc lengths (no explode); the per-term df table
    is |query| rows, joined via broadcast. The result keeps every
    matching doc; callers compose `top_k` with an orderBy/limit
    (TakeOrderedAndProject — no global sort materialization).

    Returns: doc_id, score (rounded to 6 for cross-engine checkability),
    n_terms_hit.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # Dedupe, keeping order: a duplicated term would produce a second
    # identical tf row per hit, silently double-counting df AND adding
    # a duplicate per-term contribution to every score. BM25 has no
    # standard duplicate-term weighting; callers who want one should
    # weight explicitly.
    query_terms = list(dict.fromkeys(query_terms))
    toks_all = tokenize(docs, text_col=text_col).select(
        "doc_id", F.size("tokens").alias("dl"), "tokens"
    )
    # the token frame feeds BOTH the stats aggregate and the tf branch;
    # cut lineage so the corpus is tokenized once, not once per branch
    toks_all = toks_all.localCheckpoint(eager=False)
    # Corpus size and average doc length as a broadcast 1-row frame —
    # never driver-side: collecting them would split the query into two
    # jobs and re-scan the corpus. Both aggregates are exact integers
    # (token counts), so avgdl is ONE double division — bit-identical
    # in any engine — rather than an order-dependent double avg().
    stats = toks_all.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        (
            F.sum("dl").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avgdl"),
    )
    n_docs = F.col("__n_docs")
    avgdl = F.col("__avgdl")

    qset = F.array(*[F.lit(t) for t in query_terms])
    # tf per (doc, term): count matches inside the token array — no
    # corpus-wide explode; the only exploded axis is the |query| terms.
    tf = (
        toks_all.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "dl",
            "__n_docs",
            "__avgdl",
            F.explode(qset).alias("term"),
            F.size(
                F.filter("tokens", lambda x: x == F.col("term"))
            ).alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (n_docs - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl
    )
    # Per-term contribution is a pure double expression over identical
    # operands in every engine; rounding it at 6 absorbs cross-engine
    # ln() ULP noise, and the decimal sum (functions.determinism) makes
    # the per-doc reduction order-independent.
    contrib = F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / denom, 6)
    from ..functions.determinism import dsum

    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("__c", contrib)
        .groupBy("doc_id")
        .agg(
            dsum("__c", "score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity >= threshold,
    via an inverted term index (one shuffle on term) — never all
    pairs.

    Semantics: terms with df > max_df are dropped from EVERY vector
    (weights AND norms), so the result is the exact cosine on the
    df-capped vocabulary. The cap is the 100 TB lever — candidate
    pair generation is Σ_term df², and ubiquitous terms contribute
    pure noise to the metric while dominating that sum (the
    stop-shingle rule from operators/dedup.py applied to weighted
    similarity). max_df=None keeps every term (small/audit corpora).

    Cross-engine determinism: idf is rounded at 6 dp (absorbs ln()
    ULP noise), weights/products/squares are rounded at 6 and summed
    as DECIMAL(28,6) so dot products and norms are order-independent;
    sqrt and the final division are IEEE correctly-rounded, so a SQL
    oracle replaying the same expression tree matches bit-for-bit.

    Returns (doc_a, doc_b, cosine), doc_a < doc_b.
    """
    from ..functions.determinism import DEC

    # explode_outer, not explode (the shingle_index lesson): plain
    # explode gets an inferred size()>0 filter pushed below the
    # projection, re-evaluating the tokenize split per row.
    toks = (
        tokenize(docs, text_col=text_col)
        .select("doc_id", F.explode_outer("tokens").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    n_docs = docs.count()  # scalar → literal in the idf expression
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        df_ = df_.filter(F.col("df") <= max_df)
    # a term in EVERY doc has idf = ln(1) = 0 — zero weight in every
    # vector, so dropping it is exact AND keeps the most ubiquitous
    # (worst Σdf²) terms out of the pair join unconditionally
    df_ = df_.filter(F.col("df") < n_docs)
    idf6 = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    # one broadcast of the df-capped vocabulary; weights stay with
    # the (doc, term) rows — no second pass over the corpus
    w = (
        tf.join(F.broadcast(df_), "term")
        .withColumn("w", F.round(F.col("tf") * idf6, 6))
        .select("doc_id", "term", "w")
    )
    # Lineage cut: `w` feeds the norm aggregate and BOTH sides of the
    # pair join — without a cut the tokenize/explode/count chain runs
    # once per consumer, three times.
    w = w.localCheckpoint(eager=False)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.round(F.sum(F.round(F.col("w") * F.col("w"), 6).cast(DEC)), 6)
            .cast("double")
        ).alias("norm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.sum(F.round(F.col("wa") * F.col("wb"), 6).cast(DEC)), 6
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


# Java∩RE2-portable PII patterns (classes, \d, \b, bounded quantifiers
# — no backrefs/lookaround), shared with the q151 profiler.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b555-\d{4}\b", "[PHONE]"),
]


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Redact PII spans in-place and count them per document.

    patterns: (name, regex, replacement) triples applied IN ORDER —
    order matters when patterns could overlap (an earlier replacement
    removes text later patterns would have matched), so the order is
    part of the contract and must be replayed identically by any
    oracle. Counts are taken against the text state each pattern
    actually saw. Adds `redacted` plus one `n_<name>` column per
    pattern. Pure regexp_count/regexp_replace chain — whole-stage
    codegen, no UDF, embarrassingly parallel (the 100 TB shape:
    per-row work, zero shuffle).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("need at least one pattern")
    out = docs
    cur = F.col(text_col)
    for name, regex, repl in pats:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(cur, F.lit(regex)).cast("long")
        )
        cur = F.regexp_replace(cur, regex, repl)
    return out.withColumn("redacted", cur)
