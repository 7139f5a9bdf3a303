"""Second batch of [EXT] ops: map/struct functions, embedding near-dup
pairs (exact + LSH), salted aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, MapType, StringType

from ..catalog import load_table
from ..operators.dedup import bucket_pairs
from ..operators.similarity import dot, with_norm
from ..operators.skew import salted_agg
from . import query


# ---------------------------------------------------------------------------
# Map/struct functions: from_json→map, map_keys/values, struct pack +
# field access, to_json round trip.
# ---------------------------------------------------------------------------
@query(
    "q37_map_struct_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')::INT AS k_val,
           1::INT AS n_keys,
           'k' AS first_key,
           event_type || ':' || json_extract_string(props, '$.k') AS packed,
           '{"t":"' || event_type || '"}' AS as_json
    FROM events
    WHERE event_id < 1000
    ORDER BY event_id
    """,
)
def q37_map_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), MapType(StringType(), IntegerType()))
    packed = F.struct(F.col("event_type").alias("t"), m.getItem("k").alias("k"))
    return (
        ev.filter(F.col("event_id") < 1000)
        .select(
            "event_id",
            m.getItem("k").alias("k_val"),
            F.size(F.map_keys(m)).alias("n_keys"),
            F.element_at(F.map_keys(m), 1).alias("first_key"),
            F.concat_ws(":", packed.getField("t"),
                        packed.getField("k").cast("string")).alias("packed"),
            F.to_json(F.struct(F.col("event_type").alias("t"))).alias("as_json"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Embedding near-duplicate pairs, exact (bounded subset → oracle-able).
# The full-corpus scale path is q58 below.
# ---------------------------------------------------------------------------
@query(
    "q57_cosine_near_dup_exact",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 300)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6)::DOUBLE AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def q57_cosine_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    v = with_norm(emb).select(
        F.col("vec_id"), F.col("__vec").alias("e"), F.col("__norm").alias("n")
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb")
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    # the id test first: the join condition's AND short-circuits, so
    # the interpreted dot product runs only on pairs with id_a < id_b
    return (
        a.join(F.broadcast(b), (F.col("id_a") < F.col("id_b")) & (cos >= 0.3))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup at scale: LSH-bucketed candidate pairs, exact
# cosine verification — rows-only (hash-dependent recall), recall
# pinned against q57 in tests.
# ---------------------------------------------------------------------------
@query("q58_cosine_near_dup_lsh")
def q58_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hyperplane_signatures

    emb = load_table(spark, sf_dir, "embeddings")
    # 5 planes × 12 tables: pair recall ≥0.6 vs the q57 exact subset
    # at sf0.1 (tests/test_ann_recall_sf01.py)
    sig_udf = hyperplane_signatures(dim=64, n_planes=5, n_tables=12)
    banded = with_norm(emb).select(
        F.col("vec_id"),
        F.col("__vec").alias("e"),
        F.col("__norm").alias("n"),
        F.posexplode(sig_udf(F.col("embedding"))).alias("tbl", "bucket"),
    )
    # In-stage verification (the hamming_banded_pairs shape): the
    # vector+norm ride the bucket rollup as a (doc, e, n) struct, so
    # the exact cosine evaluates IN the C(m,2)-explode stage and only
    # verified pairs reach the cross-table distinct — no join-back to
    # re-attach vectors, and no distinct of the unverified candidate
    # set (guide §2.3/§2.4). The doc-first struct sort keeps
    # id_a < id_b, and the final distinct removes multi-table
    # duplicates. Scale note: the rollup exchange carries each vector
    # n_tables times where an id-only rollup would carry ids — the
    # trade-off of §8 ("move heavy bytes once") taken in reverse
    # because it deletes two corpus-wide shuffles; the member spread
    # keeps the quadratic verify stage on every core and no-ops at
    # scale.
    pairs = bucket_pairs(
        banded,
        ["tbl", "bucket"],
        F.struct(F.col("vec_id").alias("doc"), F.col("e"), F.col("n")),
        lambda a, b: (
            f"named_struct("
            f"'id_a', {a}.doc, 'id_b', {b}.doc, "
            f"'cosine', round(aggregate(zip_with({a}.e, {b}.e, "
            f"(xx, yy) -> xx * yy), 0.0D, (acc, v) -> acc + v)"
            f" / ({a}.n * {b}.n), 6))"
        ),
        spread_members=True,
    )
    return (
        pairs.filter(F.col("cosine") >= 0.3)
        .distinct()
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# IVF ANN — the DEFAULT ANN path (ann_topk dispatches here): Lloyd-
# refined inverted-file cells, recall ≥0.7 pinned vs brute force in
# tests/test_similarity.py along with partitioning-invariance of the
# cell assignment. rows-only (approximate by design).
# ---------------------------------------------------------------------------
@query("q90_ivf_ann_topk")
def q90_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    # operator defaults = the documented default ANN dial
    return ann_topk(queries_df, emb, k=10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Salted two-phase aggregation — identical results to a plain groupBy
# (oracle checks that), with the skew-proof physical shape.
# ---------------------------------------------------------------------------
@query(
    "q59_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*)::BIGINT AS n_items,
           ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 6)::DOUBLE AS sum_qty,
           MAX(l_extendedprice)::DOUBLE AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q59_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.determinism import DEC

    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("ps"),
            F.max("l_extendedprice").alias("pm"),
        ],
        final_aggs=[
            F.sum("pc").alias("n_items"),
            F.round(F.sum("ps"), 6).cast("double").alias("sum_qty"),
            # raw: MAX selects an exact source double (r14)
            F.max("pm").alias("max_price"),
        ],
        salt_buckets=16,
        salt_source="l_orderkey",
    ).orderBy("l_returnflag")
