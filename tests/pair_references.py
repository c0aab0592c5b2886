"""Spark-expression references for the pair-scoring operators.

Production computes MinHash band signatures in NumPy behind
``mapInArrow`` (``dedup._arrow_minhash_bands``) and SemDeDup pair
cosines in NumPy behind ``applyInPandas``
(``semdedup._pandas_cluster_pairs``). The spellings here compute the
same values with plain Spark expressions and joins; the parity tests
require the production paths to match them bit for bit. :func:`cosine`
is the per-pair spelling of ``similarity.pair_cosine`` (norms taken
per pair, not rounded) that the exact-ranking tests score with.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.dedup import jaccard
from alternating_least_squares_spark.functions.semdedup import assign_clusters
from alternating_least_squares_spark.functions.similarity import (
    _safe_ratio,
    vec_dot,
    vec_norm,
)
from alternating_least_squares_spark.functions.textfns import shingles


def minhash_signature(
    shingle_col: Column, n_hashes: int = 32, prehashed: bool = False
) -> Column:
    """n-permutation MinHash signature → array<long> of length
    ``n_hashes`` over a (distinct) shingle array column.

    Permutation ``j`` is a full 64-bit rehash ``h_j(x) = xxhash64(j, x)``
    of the shingle's xxhash64 long, so the slots are independent
    min-wise draws: P[min_j(A) == min_j(B)] = Jaccard(A, B) per slot
    (Broder 1997). An arithmetic family ``a_j·x + b_j`` is monotone in
    x, which makes every slot pick the same shingle (a rank-1
    signature that banding cannot amplify).

    Pass ``prehashed=True`` when ``shingle_col`` already holds
    xxhash64 longs."""
    base = (
        shingle_col
        if prehashed
        else F.transform(shingle_col, lambda s: F.xxhash64(s))
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.array_min(
            F.transform(base, lambda h: F.xxhash64(j, h))
        ),
    )


def band_hashes(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: split the signature into ``bands`` groups of
    ``rows_per_band`` values; each band hashes to one bucket key
    (band index mixed in so band 0 and band 1 never collide).
    Two docs with Jaccard s share ≥1 band with probability
    1 − (1 − s^r)^b — the classic S-curve."""
    return F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(signature, b * rows_per_band + 1, rows_per_band))
            for b in range(bands)
        ]
    )


def lsh_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """``(_id, _hs, _bands)`` as ``dedup.lsh_signatures`` returns it,
    computed with :func:`minhash_signature` and :func:`band_hashes`."""
    rows_per_band = n_hashes // bands
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("_sh"),
    ).withColumn("_hs", F.transform("_sh", lambda s: F.xxhash64(s)))
    return (
        base.withColumn(
            "_sig", minhash_signature(F.col("_hs"), n_hashes, prehashed=True)
        )
        .select(
            "_id",
            "_hs",
            band_hashes(F.col("_sig"), bands, rows_per_band).alias("_bands"),
        )
    )


def string_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """``(id_a, id_b, jaccard)`` for every pair in ``pairs``, with
    Jaccard rounded to 6 decimals over the raw k-shingle STRING sets
    (no hashing), the form an ANSI-SQL oracle can reproduce."""
    sh = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(F.col(text_col), k)).alias("_sh"),
    )
    left = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_v_a"))
    right = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_v_b"))
    return (
        pairs.select("id_a", "id_b")
        .join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("_v_a"), F.col("_v_b")), 6).alias("jaccard"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine of two vector columns, NULL when a norm is 0."""
    return _safe_ratio(vec_dot(a, b), vec_norm(a) * vec_norm(b))


def semantic_dup_pairs(
    emb: DataFrame,
    threshold: float,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``semdedup.semantic_dup_pairs`` on pinned ``centroids`` as one
    intra-cluster self-join scored with ``vec_dot`` and ``F.round``."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    narrow = assign_clusters(emb, centroids, vec_col).select(
        F.col(id_col).alias("_id"),
        "cluster",
        vec_d.alias("_v"),
        vec_norm(F.col(vec_col)).alias("_n"),
    )
    # one materialization: the self-join below reads it twice
    assigned = narrow.localCheckpoint(eager=True)
    a = assigned.select(
        F.col("_id").alias("id_a"), "cluster",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), "cluster",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, "cluster")  # intra-cluster only
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(
                _safe_ratio(
                    vec_dot(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
