"""Deduplication operators for training-data pipelines: four
signatures, one pair generator.

Every self-join near-dup turns a signature into buckets and emits its
candidate pairs through `bucket_pairs` (group by bucket → sorted member
set → chunked C(m,2) explode, one shuffle, no row above cap² pairs):

- shingle sets:   ngram_jaccard_pairs / ngram_containment_pairs bucket
                  on the shingle (inverted index), exact counts
- MinHash:        minhash_lsh_pairs buckets on banded signatures, then
                  verifies with exact shingle-set Jaccard
- 64-bit Hamming: hamming_banded_pairs buckets on pigeonhole bands and
                  verifies in the explode (SimHash here, pHash and the
                  audio fingerprint in multimodal.py) — lossless
- hyperplane signs: the cosine LSH of queries/llm_ops2.py q58 buckets
                  on sign patterns and verifies in the explode

Outside that generator: exact_dedup (hash-groupBy keep-first),
prefix_filter_jaccard_pairs (its prefix self-join is itself the pruning)
and the batch-vs-corpus joins, whose pairs cross two sets.

Scale notes (the reason for each design):
- exact: one shuffle on the dedup key; row_number not dropDuplicates,
  because dropDuplicates keeps an *arbitrary* row (first seen per
  partition) — non-deterministic under retries/repartition.
- bucket-pair cost is Σ bucket² not n². High-frequency shingles are the
  skew hazard; `max_shingle_df` drops shingles that occur in more than
  that many docs from the *index* (stop-shingles carry no dedup signal
  but create quadratic hot buckets at 100 TB), and PAIR_BUCKET_CAP
  bounds what any one bucket row may materialize.
- everything stays in JVM built-ins except the SimHash vote, an
  Arrow-batched pandas UDF (see `simhash`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..execution import parallelism, spread

# Default stop-shingle cap. Finite BY DEFAULT: a shingle shared by more
# than this many documents carries no dedup signal but costs O(df²)
# candidate pairs — an unbounded default is the footgun that melts a
# library caller's first 100 TB run. Pass max_shingle_df=None to opt
# back in to the exact unpruned index (small/audit corpora only).
DEFAULT_MAX_SHINGLE_DF = 1000


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lower-case whitespace tokenization → `tokens` array column."""
    return df.withColumn(
        "tokens", F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingle strings → `shingles` array column.

    Built with sequence+transform (JVM higher-order funcs), one pass,
    no explode until the caller asks for the inverted index.

    The token array is materialized as its own projection first: writing
    the split() inline inside the lambda would evaluate it once per
    element_at reference — O(doc_len²) work per document. As a separate
    multiply-referenced alias, CollapseProject keeps it single-eval.
    """
    toks_df = df.withColumn(
        "__toks", F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    toks = F.col("__toks")
    # slice(toks, i+1, n) + one concat_ws instead of n element_at
    # calls: one array bounds-check + bulk copy per shingle rather
    # than n indexed lookups each with its own cast — measured 2.4×
    # faster on the sf0.1 corpus (the shingle build is the CPU floor
    # of the whole near-dup family). Tail semantics are identical:
    # the final window (i = len-n) gets exactly n tokens, and a
    # shorter-than-n document yields its single partial shingle in
    # both forms.
    return toks_df.withColumn(
        "shingles",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    ).drop("__toks")


def exact_dedup(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep exactly one row per key, the first in ``order_cols`` order."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_index(
    docs: DataFrame, id_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """Inverted index (shingle → doc), stop-shingles pruned."""
    # explode_outer, not explode: the optimizer infers a size()>0 filter
    # from plain explode and pushes it below the shingle projection with
    # the whole O(len²) expression inlined — recomputing every shingle
    # array twice. explode_outer gets no inferred filter; the null rows
    # (empty docs) are dropped afterwards for the same semantics.
    idx = (
        shingles(docs, n=n)
        .select(F.col(id_col).alias("doc"), F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )
    if max_shingle_df is not None:
        w = Window.partitionBy("sh")
        idx = idx.withColumn("__df", F.count(F.lit(1)).over(w)).filter(
            F.col("__df") <= max_shingle_df
        ).drop("__df")
    return idx


# Hard cap on the members-per-side of any single pair-generation row:
# unchunked, one low-entropy bucket with 10⁵ members would build all
# C(m,2) ≈ 5·10⁹ pair structs inside ONE row before exploding — an
# executor OOM at scale no configuration can absorb. With the chunked
# explode in `bucket_pairs`, no row ever materializes more than cap²
# pair structs (~25 MB at the default), whatever the bucket size.
PAIR_BUCKET_CAP = 1024


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    member,
    pair_sql,
    spread_members: bool = False,
    cap: int | None = None,
    max_members: int | None = None,
) -> DataFrame:
    """Candidate pairs from bucket co-membership, via ONE shuffle — the
    one pair generator of every near-dup join.

    groupBy(bucket) → sorted set of ``member`` (an id column, or a
    struct whose first field is the id, so the sort is by id) →
    single-member buckets dropped → chunked explode of the C(m,2)
    combinations. ``pair_sql(x, y)`` renders the output pair struct
    from two member exprs; x precedes y in the bucket's sort order, so
    an id pair comes out with a < b. The result is that struct's
    fields, one row per (pair, shared bucket): the multiplicity
    ngram_jaccard_pairs' n_common count depends on.

    Chunking: each sorted member array is split into ⌈m/cap⌉
    contiguous chunks and one row is emitted per unordered chunk pair
    (ci ≤ cj), carrying ``ma`` = chunk ci and ``mb`` = chunk cj (NULL
    when ci = cj). Every member pair lands in exactly one such row —
    C(|ma|,2) within, |ma|·|mb| across — so the pair set and order are
    those of the unchunked explode, while no row ever holds more than
    cap² pair structs. A bucket with m ≤ cap is one row with ma = ms.
    ``cap=None`` reads PAIR_BUCKET_CAP at call time. The chunk fan-out
    is a codegen explode in the rollup's stage: no extra exchange.

    ``spread_members`` lays the member frame out over every core
    (`execution.spread`, a no-op for a large frame) before the
    explode. It pays when the pair expression does real work (the
    in-stage Hamming and cosine verifiers): the frame is one small row
    per bucket, so AQE coalesces it onto a couple of partitions and the
    quadratic fan-out runs nearly serially. Measured break-even-to-
    negative for the id-only shingle and MinHash callers.

    ``max_members`` drops every bucket with more members than that: a
    document-frequency cap for callers whose bucket size IS the df (the
    span index's stop grams), applied in the one grouping the pairs
    already need.
    """
    cap = PAIR_BUCKET_CAP if cap is None else cap
    keep = F.size("ms") >= 2
    if max_members is not None:
        keep = keep & (F.size("ms") <= max_members)
    members = (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(member)).alias("ms"))
        .filter(keep)
    )
    if spread_members:
        members = spread(members)
    nc = f"((size(ms) - 1) div {cap})"
    chunks = members.select(
        "ms",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {nc}), ci -> "
                f"transform(sequence(ci, {nc}), cj -> "
                f"named_struct('ci', ci, 'cj', cj))))"
            )
        ).alias("cp"),
    ).select(
        F.expr(f"slice(ms, cp.ci * {cap} + 1, {cap})").alias("ma"),
        F.expr(
            f"if(cp.ci = cp.cj, null, slice(ms, cp.cj * {cap} + 1, {cap}))"
        ).alias("mb"),
    )
    # The else-branch empty array covers a trailing one-member chunk;
    # CASE's lazy branch evaluation keeps the within-branch (whose
    # sequence would be descending) from ever running on it.
    within = (
        "flatten(transform(sequence(0, size(ma) - 2), i -> "
        "transform(sequence(i + 1, size(ma) - 1), j -> "
        + pair_sql(
            "element_at(ma, cast(i + 1 as int))",
            "element_at(ma, cast(j + 1 as int))",
        )
        + ")))"
    )
    cross = (
        "flatten(transform(ma, x -> transform(mb, y -> "
        + pair_sql("x", "y")
        + ")))"
    )
    pair = (
        f"case when mb is not null then {cross} "
        f"when size(ma) >= 2 then {within} "
        f"else array() end"
    )
    return chunks.select(F.explode(F.expr(pair)).alias("p")).select("p.*")


def _id_pairs(df: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b, once per shared bucket, for
    a (doc, *bucket_cols) frame."""
    return bucket_pairs(
        df, bucket_cols, "doc", lambda x, y: f"named_struct('a', {x}, 'b', {y})"
    ).toDF("doc_a", "doc_b")


def _shingle_overlap(
    docs: DataFrame, id_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for every doc pair sharing a
    shingle: the exact shared-shingle count from the inverted index
    (ONE bucket shuffle) beside each side's shingle count."""
    idx = shingle_index(spread(docs), id_col, n, max_shingle_df)
    sizes = idx.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        _id_pairs(idx, ["sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted shingle index.

    jaccard(a,b) = |A∩B| / (|A|+|B|-|A∩B|), computed from the count of
    co-occurring shingles per pair — bucket-pair generation on the
    shingle key, then a pair-level aggregate. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b; jaccard ships RAW —
    one IEEE division of exact integer counts is bit-identical on
    every engine and version (functions/determinism.py safe class).

    Shingles occurring in more than ``max_shingle_df`` docs are pruned
    from the index (finite by default — see DEFAULT_MAX_SHINGLE_DF;
    None opts in to the exact unpruned computation).
    """
    return (
        _shingle_overlap(docs, id_col, n, max_shingle_df)
        .withColumn(
            # raw: ONE IEEE division of exact int64 counts (the
            # determinism.py safe class); a ROUND(·,6) here would be
            # the cross-version hash-hazard shape
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_against(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Cross-set exact Jaccard: batch docs vs an EXISTING corpus.

    The incremental-ingestion workflow: a new batch arrives and must be
    deduplicated against everything already accepted — without re-pairing
    the corpus with itself. Candidate generation is an inverted-index
    equi-join on the shingle key (batch index ⋈ corpus index), so cost
    tracks shared-shingle buckets: Σ |b_bucket|·|c_bucket|, never
    |batch|·|corpus|. ``max_shingle_df`` prunes corpus stop-shingles
    (df computed on the corpus side — that's where the hot buckets
    come from as the corpus grows).

    Returns (batch_id, corpus_id, jaccard ≥ threshold). At 100 TB the
    corpus index is the thing you PERSIST between runs (bucketed by
    shingle), so each day's batch joins against it without a rebuild.
    """
    # one materialization per raw index: each feeds several consumers
    # (the stop set, the anti-join probe, sizes, the cross join), and
    # re-expanding the explode+distinct subtree per consumer multiplies
    # the plan (~30 planned exchanges without the cut). This is also
    # the operational shape: at scale the corpus index is persisted
    # between runs, not rebuilt per consumer — see save_shingle_index /
    # ngram_jaccard_pairs_against_index.
    idx_b = shingle_index(spread(batch), id_col, n, None).localCheckpoint(
        eager=False
    )
    idx_c = shingle_index(spread(corpus), id_col, n, None).localCheckpoint(
        eager=False
    )
    return _cross_index_pairs(idx_b, idx_c, threshold, max_shingle_df)


def _cross_index_pairs(
    idx_b: DataFrame,
    idx_c: DataFrame,
    threshold: float,
    max_shingle_df: int | None,
) -> DataFrame:
    """Batch-index × corpus-index Jaccard pairs (shared tail of the
    build-both and load-corpus-index paths)."""
    if max_shingle_df is not None:
        # one consistent shingle universe: stop-shingles are decided by
        # corpus document frequency, then dropped from BOTH indexes
        # (sizes and intersections all count the same universe).
        stop = (
            idx_c.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("sh")
        )
        idx_b = idx_b.join(F.broadcast(stop), "sh", "left_anti")
        idx_c = idx_c.join(F.broadcast(stop), "sh", "left_anti")
    sizes_b = idx_b.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes_c = idx_c.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    common = (
        idx_b.select(F.col("doc").alias("batch_id"), "sh")
        .join(idx_c.select(F.col("doc").alias("corpus_id"), "sh"), "sh")
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sb = sizes_b.select(F.col("doc").alias("batch_id"), F.col("n_sh").alias("n_b"))
    sc = sizes_c.select(F.col("doc").alias("corpus_id"), F.col("n_sh").alias("n_c"))
    return (
        common.join(sb, "batch_id")
        .join(sc, "corpus_id")
        .withColumn(
            # raw exact-operand division (see ngram_jaccard_pairs)
            "jaccard",
            F.col("n_common")
            / (F.col("n_b") + F.col("n_c") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def save_shingle_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Materialize the corpus shingle index (doc, sh) to parquet —
    build nightly, dedup batches against it all day without re-reading
    the corpus (the q126 workflow with the rebuild amortized away).

    Laid out clustered by the join key: repartition(sh) +
    sortWithinPartitions(sh) so each parquet file covers a narrow
    shingle range (footer min/max enable skipping) and a batch-side
    join shuffles only the batch. The index grows with corpus token
    count — parquet+zstd column of repeated short strings compresses
    heavily.
    """
    idx = shingle_index(spread(docs), id_col, n, None)
    (
        idx.repartition("sh")
        .sortWithinPartitions("sh")
        .write.mode("overwrite")
        .parquet(path)
    )


def load_shingle_index(spark, path: str) -> DataFrame:
    """Reload a saved corpus shingle index for cross-set dedup."""
    return spark.read.parquet(path)


def ngram_jaccard_pairs_against_index(
    batch: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """``ngram_jaccard_pairs_against`` with a PRE-BUILT corpus index
    (from save_shingle_index/load_shingle_index): only the incoming
    batch is shingled; the corpus side is a parquet scan. ``n`` must
    match the index's build-time shingle width (the index stores
    n-token shingles — a mismatch silently yields no candidates, so
    pass the same n; load path validates nothing else).
    """
    idx_b = shingle_index(spread(batch), id_col, n, None).localCheckpoint(
        eager=False
    )
    idx_c = corpus_index.localCheckpoint(eager=False)
    return _cross_index_pairs(idx_b, idx_c, threshold, max_shingle_df)


def minhash_signature(
    docs: DataFrame, num_hashes: int = 16, n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature column `sig` (array of num_hashes int64 minima).

    One-permutation hashing (Li/Owen/Zhang 2012): each shingle is
    hashed ONCE with xxhash64, the hash space is split into
    `num_hashes` bins by `pmod(h, num_hashes)`, and signature slot k
    is the minimum hash landing in bin k. This replaces the classic
    k-independent-permutations scheme (k full xxhash64-of-string
    passes per document — the dominant signature cost, since string
    hashing is O(bytes) while the bin pass is a long compare).

    Empty bins are densified deterministically from the global min
    (`xxhash64(global_min, k)`): identical shingle sets still map to
    identical signatures under any partitioning, and near-identical
    sets agree on densified slots whenever they agree on the global
    minimum — the property banded LSH needs.
    """
    with_sh = shingles(spread(docs), n=n)
    hashed = with_sh.withColumn(
        "__h", F.transform("shingles", lambda s: F.xxhash64(s))
    ).drop("shingles")
    gmin = F.array_min(F.col("__h"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.coalesce(
            F.array_min(
                F.filter(
                    F.col("__h"), lambda h: F.pmod(h, F.lit(num_hashes)) == k
                )
            ),
            F.xxhash64(gmin, k),
        ),
    )
    return hashed.withColumn("sig", sig).drop("__h")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact verification.

    Candidate pairs collide in ≥1 of `bands` bands (rows = num_hashes //
    bands, so a non-divisor leaves the trailing slots unbanded); every
    candidate is then verified with exact shingle-set Jaccard, so the
    output has no false positives — LSH only bounds recall. Pair
    enumeration is per-bucket, so the cost tracks bucket sizes, not n².
    ``num_hashes < 1`` or ``bands`` outside [1, num_hashes] raises
    ValueError before any job runs.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands must be in [1, num_hashes={num_hashes}], got {bands}"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(docs, num_hashes=num_hashes, n=n, id_col=id_col)

    banded = sigs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", bi * rows_per_band + ri + 1)
                                for ri in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")

    candidates = _id_pairs(banded, ["band", "bucket"]).distinct()
    candidates = candidates.localCheckpoint(eager=False)

    # exact verification: join shingle sets back on, Jaccard via
    # array_intersect (shingle arrays are bounded by doc length).
    # Shingle ONLY candidate docs (semi join) — candidates are a
    # vanishing fraction of the corpus, and this frame feeds both join
    # sides, so re-shingling the full corpus twice would dominate.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("__cid"))
        .unionByName(candidates.select(F.col("doc_b").alias("__cid")))
        .distinct()
    )
    sh = shingles(
        docs.join(
            cand_ids, F.col(id_col) == F.col("__cid"), "left_semi"
        ),
        n=n,
    ).select(F.col(id_col).alias("doc"), F.col("shingles"))
    sh = sh.localCheckpoint(eager=False)
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn(
            # raw exact-operand division (see ngram_jaccard_pairs)
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / (
                F.size("sh_a")
                + F.size("sh_b")
                - F.size(F.array_intersect("sh_a", "sh_b"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _simhash_udf():
    """Arrow-batched pandas UDF: token-hash array → 64-bit SimHash long.

    Per doc: bit-matrix of the int64 hashes, per-bit one-count, majority
    bit, packed into one signed long (two's complement, the pHash
    packing) so bit i of the long is the vote of bit i. numpy views the
    signed hashes as uint64 so >> is a logical shift; bit i extracted
    by &1 is identical to the JVM's arithmetic shiftright(h, i) & 1.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    # bound the unpacked bit matrix (64 B/hash after unpackbits) to
    # ~64 MB per sub-batch regardless of Arrow batch size / doc length
    budget = 1 << 20

    def votes(th):
        n = len(th)
        out = np.zeros(n, dtype=np.int64)
        arrs = [np.asarray(a, dtype="<i8") for a in th]
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=n)
        start = 0
        while start < n:
            end, tot = start, 0
            while end < n and (tot == 0 or tot + lens[end] <= budget):
                tot += lens[end]
                end += 1
            seg_lens = lens[start:end]
            nz = np.nonzero(seg_lens)[0]
            if nz.size == 0:
                start = end
                continue
            flat = np.concatenate([arrs[start + i] for i in nz])
            # bit j of column j == (h >> j) & 1: little-endian byte view
            # + bitorder="little" reproduces the arithmetic-shift bits
            bits_mat = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            offsets = np.zeros(nz.size, dtype=np.intp)
            np.cumsum(seg_lens[nz][:-1], out=offsets[1:])
            # reduceat is safe: every segment non-empty → offsets strictly
            # increasing; dtype widens the uint8 columns before summing
            ones = np.add.reduceat(bits_mat, offsets, axis=0, dtype=np.int64)
            maj = ones * 2 > seg_lens[nz][:, None]
            # the inverse of the unpack: column i → bit i of the long
            out[start + nz] = np.packbits(
                maj, axis=1, bitorder="little"
            ).view("<i8")[:, 0]
            start = end
        return pd.Series(out)

    # registered without annotations (see hyperplane_signatures note)
    return pandas_udf(votes, "long")


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long): 64-bit SimHash of each document — the
    signature frame shape of phash64 and audio_fingerprint64.

    Per-bit majority vote over token hashes. The hash family stays
    JVM-side (one xxhash64 per token — deterministic across
    runs/partitionings); the vote is an Arrow-batched pandas UDF. Both
    pure-SQL shapes lose badly here: a 64-way unrolled vote fold
    compiles a codegen tree whose JIT dominates, and compact
    higher-order lambdas are interpreted per element (~tokens×64
    closure calls per doc). One numpy bit-matrix per batch replaces
    both. Majority(+1) ⟺ ones*2 > n — identical bits to the ±1-vote
    form (ties → 0 in both). A pure map over the corpus: no shuffle.
    """
    hashed = tokenize(spread(docs)).withColumn(
        "__th", F.transform("tokens", lambda t: F.xxhash64(t))
    )
    return hashed.select(
        F.col(id_col).alias("id"),
        _simhash_udf()(F.col("__th")).alias("simhash"),
    )


def simhash_pairs(
    docs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every doc pair whose SimHashes differ
    in ≤ max_hamming bits, doc_a < doc_b: the lossless Hamming banding
    (hamming_banded_pairs) over `simhash`, so the result equals the
    all-pairs popcount scan for every max_hamming in [0, 15]."""
    band_layout(max_hamming)  # fail before planning the signature scan
    # one materialization: with band pruning the signature plan feeds
    # the cost aggregate AND the banding; without the cut the whole
    # tokenize→hash→vote pipeline runs twice. Signatures are tiny.
    sig = simhash(docs, id_col).localCheckpoint(eager=False)
    return hamming_banded_pairs(sig, max_hamming, "simhash").toDF(
        "doc_a", "doc_b", "hamming"
    )


def band_layout(max_hamming: int) -> tuple[int, int]:
    """(bands, width) for the pigeonhole-lossless banding of a 64-bit
    hash: the fewest equal bands with bands > max_hamming. Raises
    ValueError outside [0, 15]; the near-dup operators call it before
    they plan their signature scan."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    for bands, width in ((4, 16), (8, 8), (16, 4)):
        if max_hamming < bands:
            return bands, width
    raise ValueError(
        f"max_hamming={max_hamming} needs > 16 bands of a 64-bit "
        f"hash; use a brute-force scan instead"
    )


def hamming_banded_pairs(
    sig: DataFrame,
    max_hamming: int,
    hash_col: str,
) -> DataFrame:
    """Near-duplicate (id_a, id_b, hamming) pairs, id_a < id_b, over ANY
    64-bit signature frame (id, <hash_col> long) — the one join of the
    SimHash, pHash and audio-fingerprint near-dups, so every 64-bit
    signature gets the identical banding. ``max_hamming`` outside
    [0, 15] raises ValueError before any job runs.

    Band trick (pigeonhole, LOSSLESS for the Hamming metric): split
    the 64 bits into `bands` equal chunks with bands > max_hamming —
    any pair within distance max_hamming is identical in ≥ 1 chunk, so
    banded candidate generation has ZERO recall loss vs the O(n²)
    brute-force scan (pinned in tests/test_dedup.py,
    tests/test_multimodal.py and tests/test_audio_fp.py). Candidates
    are bucket co-members per (band, chunk) — ONE shuffle: the bucket
    rollup collects (doc, h) structs, so the exact XOR-popcount
    verification runs in the SAME stage the pairs are exploded in (no
    join-back; non-matches never reach a shuffle); only verified pairs
    hit the final cross-band distinct. The binary column never enters
    any exchange (signatures are id + one long, tiny at any corpus
    size).

    Band pruning (STILL lossless): pigeonhole needs only
    max_hamming + 1 bands — a pair differing in ≤ max_hamming bits
    can touch at most max_hamming of any max_hamming+1 kept bands, so
    ≥ 1 kept band stays identical. When the layout has more bands
    than that (e.g. 8 bands at max_hamming=4), the surplus is spent
    dropping the bands with the LARGEST candidate volume
    (Σ_buckets n·(n−1)/2, measured exactly in one bounded aggregate
    over the signature frame). This is what keeps low-entropy
    signatures scalable: a band over bit positions that are constant
    across the corpus (zero-padded tails, saturated filters) puts the
    WHOLE corpus in one bucket — an O(n²) explosion pruning removes
    without losing a single pair (pinned banded≡brute in
    tests/test_audio_fp.py at a pruned layout).

    ``sig`` should already be materialized (localCheckpoint) by the
    caller when it is expensive: with pruning, the signature plan
    feeds the cost aggregate and the banding.
    """
    bands, width = band_layout(max_hamming)

    mask = (1 << width) - 1
    banded = sig.select(
        F.col("id").alias("doc"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "h", "bb.band", "bb.chunk")
    keep = max_hamming + 1
    if keep < bands:
        # exact per-band candidate volume: bounded collect (≤ bands
        # rows); ties break on band index for determinism
        cost = {
            r["band"]: r["pairs"]
            for r in banded.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("band")
            .agg(
                F.sum(
                    F.col("n") * (F.col("n") - 1) / 2
                ).alias("pairs")
            )
            .collect()
        }
        kept = sorted(
            range(bands), key=lambda b: (cost.get(b, 0.0), b)
        )[:keep]
        banded = banded.filter(F.col("band").isin(kept))
    # The signature rides the bucket rollup as a (doc, h) struct, so
    # candidate pairs carry both hashes the moment they are exploded:
    # the popcount filter kills non-matches in the explode's stage.
    # collect_set of (doc, h) structs dedups per bucket (one hash per
    # id), the doc-first struct sort keeps id_a < id_b, and the final
    # distinct removes multi-band duplicates.
    pairs = bucket_pairs(
        banded,
        ["band", "chunk"],
        F.struct(F.col("doc"), F.col("h")),
        lambda x, y: (
            f"named_struct('id_a', {x}.doc, 'id_b', {y}.doc, "
            f"'hamming', bit_count({x}.h ^ {y}.h))"
        ),
        spread_members=True,
    )
    return (
        pairs
        # id_a != id_b: the (doc, h) struct rollup makes a self-pair
        # possible IF an id ever arrives with two different hashes;
        # every current caller emits one hash per id, so this is a
        # guard, not a semantic change.
        .filter(
            (F.col("hamming") <= max_hamming)
            & (F.col("id_a") != F.col("id_b"))
        )
        .distinct()
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Directed n-gram containment: |A∩B| / |A| per ordered pair.

    Jaccard punishes size mismatch — a 50-token doc quoted verbatim
    inside a 5000-token doc has near-zero Jaccard but containment ~1.0
    from the small side. Same inverted-index skeleton and cost model
    as ngram_jaccard_pairs (ONE bucket shuffle, stop-shingle cap);
    only the final arithmetic differs. Returns (doc_a, doc_b,
    containment_a, containment_b, jaccard) with doc_a < doc_b, kept
    when EITHER direction reaches ``threshold``; all ratios ship RAW
    (exact-operand IEEE divisions, the determinism.py safe class).
    """
    return (
        _shingle_overlap(docs, id_col, n, max_shingle_df)
        # raw exact-operand divisions (see ngram_jaccard_pairs)
        .withColumn("containment_a", F.col("n_common") / F.col("n_a"))
        .withColumn("containment_b", F.col("n_common") / F.col("n_b"))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("doc_a", "doc_b", "containment_a", "containment_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    threshold: tuple[int, int] = (2, 5),
    text_col: str = "text",
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the classic
    Chaudhuri/Bayardo–Ramakrishnan pruning): all pairs with shingle
    Jaccard ≥ num/den over the FULL shingle universe — zero recall
    loss, proven by the brute-force oracle (q249).

    Complementary to :func:`ngram_jaccard_pairs`, whose stop-shingle
    df-cap redefines Jaccard over a pruned universe to kill hot
    buckets. Prefix filtering keeps the exact semantics and sidesteps
    the same hot buckets STRUCTURALLY: shingles are globally ordered
    rarest-first (df asc, shingle asc — a total order), each document
    indexes only its first |s| − ⌈t·|s|⌉ + 1 shingles in that order,
    and any pair with J ≥ t provably shares its rarest common shingle
    inside BOTH prefixes — so the candidate join only ever buckets on
    RARE shingles; corpus boilerplate sorts last and never enters an
    index. Candidate volume is Σ (prefix-bucket)², then candidates are
    verified with an exact intersection count.

    The threshold is a FRACTION (num, den): the prefix length and the
    final acceptance test (n_common·den ≥ num·(|a|+|b|−n_common)) are
    all-integer, so no float boundary can flip membership between
    engines. One shuffle to rank shingles by rarity, one prefix
    self-join, one verification join — every stage strictly shrinks.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError("threshold must be a fraction in (0, 1]")
    # spread first: the shingle build is the CPU floor of the whole
    # family and the documents table often arrives as ONE file split.
    # explode_outer, not explode — the shingle_index lesson: plain
    # explode gets an inferred size()>0 filter pushed below the
    # projection with the whole O(len²) shingle expression inlined,
    # recomputing every shingle array twice.
    sh = (
        shingles(spread(df), n, text_col)
        .select(id_col, F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    sh = sh.localCheckpoint(eager=False)  # reused: df, prefix, verify
    sdf = sh.groupBy("s").agg(F.count(F.lit(1)).alias("sdf"))
    by_doc = Window.partitionBy(id_col)
    ranked = (
        sh.join(sdf, "s")
        .select(
            id_col,
            "s",
            F.row_number()
            .over(by_doc.orderBy("sdf", "s"))
            .alias("rn"),
            F.count(F.lit(1)).over(by_doc).alias("sz"),
        )
    )
    # prefix length |s| - ceil(num·|s|/den) + 1, all-integer ceil
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz")
        - F.expr(f"(({num} * sz + {den} - 1) div {den})")
        + F.lit(1)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # Lossless candidate pruning on top of the prefix share (both
    # classic, both integer-exact, so the verified OUTPUT is
    # unchanged): (1) length filter — J ≥ num/den forces
    # den·min(|a|,|b|) ≥ num·max(|a|,|b|); (2) positional filter —
    # the remaining-suffix overlap bound min(|a|−pa, |b|−pb)+1 must
    # reach the equivalent-overlap requirement α =
    # ceil(num·(|a|+|b|)/(num+den)) (J ≥ t ⟺ overlap ≥
    # t/(1+t)·(|a|+|b|)).
    sza, szb = F.col("a.sz"), F.col("b.sz")
    # integer ceil via div — a float quotient here could over-prune
    alpha = F.expr(
        f"(({num} * (a.sz + b.sz) + {num + den - 1}) div {num + den})"
    )
    # candidates join on xxhash64(s), not the shingle string: cheaper
    # shuffle keys, and a hash collision only ADDS a candidate that
    # exact verification discards — the output is unaffected.
    cand = (
        a.join(
            b,
            (F.xxhash64(F.col("a.s")) == F.xxhash64(F.col("b.s")))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.lit(den) * F.least(sza, szb)
               >= F.lit(num) * F.greatest(sza, szb))
            & (
                F.least(sza - F.col("a.rn"), szb - F.col("b.rn"))
                + F.lit(1)
                >= alpha
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    # Repartition the candidate pairs before verification:
    # the pair frame is tiny in BYTES (two ids per row), so AQE
    # coalesces it onto 1-4 partitions — and the per-pair
    # array_intersect over both full shingle arrays (the CPU floor of
    # verification: measured 7.7s serial vs 3.2s spread, end-to-end
    # 6.3→3.2s at sf0.1) then runs nearly serially. The stats-gated
    # spread cannot make this call: a self-join output's size
    # estimate is a row-product overestimate, so the gate always
    # skips. An explicit round-robin to parallelism is correct at
    # every scale — the shuffle moves two ids per row while the stage
    # it feeds does work proportional to pairs/core.
    cand = cand.repartition(parallelism(cand.sparkSession))
    # Verify with set arrays, not a re-exploded join: each candidate
    # pair carries both (sorted, distinct) shingle arrays and counts
    # the intersection in codegen — no pair×shingles shuffle.
    sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set("s")).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_sh"),
    )
    common = (
        cand.join(
            sets.select(
                F.col(id_col).alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n_sh").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n_sh").alias("sb"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_common",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
    )
    union_sz = F.col("sa") + F.col("sb") - F.col("n_common")
    return (
        common.filter(F.col("n_common") * den >= num * union_sz)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            # raw exact-operand division (see ngram_jaccard_pairs)
            (F.col("n_common").cast("double") / union_sz).alias(
                "jaccard"
            ),
        )
    )
