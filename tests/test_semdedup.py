"""SemDeDup (semantic dedup) on PLANTED clusters with known ground
truth — the rows-only registry entry's evidence, mirroring the
planted-pair pattern of test_dedup.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.semdedup import (
    assign_clusters,
    semantic_dedup,
    semantic_dup_pairs,
)
from tests import pair_references as ref

DIM = 8
# two well-separated planted centroids plus an origin-ish decoy
C0 = [10.0] + [0.0] * (DIM - 1)
C1 = [0.0, 10.0] + [0.0] * (DIM - 2)


def _vec(base, jitter_axis, eps):
    v = list(base)
    v[jitter_axis] += eps
    return [float(x) for x in v]


def _corpus(spark):
    rows = [
        # cluster 0: two semantic dups of each other + one distinct
        (0, _vec(C0, 2, 0.01)),
        (1, _vec(C0, 3, 0.01)),        # cos(0,1) ≈ 1 → dup pair
        (2, _vec(C0, 2, 8.0)),         # same cluster, cos ≈ 0.78 → kept
        # cluster 1: an exact duplicate pair + a singleton
        (10, _vec(C1, 4, 0.02)),
        (11, _vec(C1, 4, 0.02)),       # identical → cos 1.0
        (12, _vec(C1, 5, 7.0)),
        # zero vector: undefined cosine, never a duplicate
        (20, [0.0] * DIM),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_assign_clusters_argmin_and_tiebreak(spark):
    emb = _corpus(spark)
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, [C0, C1]).collect()
    }
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == got[12] == 1
    # zero vector is equidistant-ish? dist to C0 = dist to C1 = 100 →
    # lexicographic struct min breaks the tie to the LOWEST index
    assert got[20] == 0


def test_semantic_dup_pairs_planted(spark):
    emb = _corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): (r["cluster"], r["cosine"])
        for r in semantic_dup_pairs(
            emb, threshold=0.95, centroids=[C0, C1]
        ).collect()
    }
    assert set(pairs) == {(0, 1), (10, 11)}
    assert pairs[(0, 1)][0] == 0 and pairs[(0, 1)][1] >= 0.999
    assert pairs[(10, 11)][1] == 1.0
    # cross-cluster pairs are structurally impossible; verify the
    # in-cluster non-dup stayed below threshold
    assert not any(2 in p or 12 in p or 20 in p for p in pairs)


def test_semantic_dedup_keeps_lowest_id(spark):
    emb = _corpus(spark)
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            emb, threshold=0.95, centroids=[C0, C1]
        ).collect()
    )
    assert kept == [0, 2, 10, 12, 20]


def test_no_all_pairs_outside_clusters(spark):
    """Candidate generation is bounded by cluster: the pandas path
    groups on cluster with NO join at all and never plans a
    CartesianProduct."""
    emb = _corpus(spark)
    pairs = semantic_dup_pairs(emb, threshold=0.9, centroids=[C0, C1])
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    assert "FlatMapGroupsInPandas" in plan


def _pairs_vs_reference(emb, threshold, centroids):
    got = sorted(
        map(
            tuple,
            semantic_dup_pairs(
                emb, threshold=threshold, centroids=centroids
            ).collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            ref.semantic_dup_pairs(
                emb, threshold=threshold, centroids=centroids
            ).collect(),
        )
    )
    return got, exp


def test_pandas_pairs_bit_identical_to_join(spark):
    """The pandas pair path must emit the SAME (id_a, id_b, cluster,
    cosine) rows as the self-join reference in
    ``tests/pair_references.py`` — including equal cosine doubles (the
    sequential-k accumulation replicates the HOF fold's rounding
    order)."""
    got, exp = _pairs_vs_reference(_corpus(spark), 0.5, [C0, C1])
    assert got == exp and len(got) > 0


def test_pandas_pairs_duplicate_id_never_self_pairs(spark):
    """A vec_id that appears twice in one cluster must not pair with
    itself: the pandas path emits no (id, id) row and the same multiset
    of rows as the self-join reference, whose id_a < id_b filter drops
    it."""
    base = _corpus(spark)
    emb = base.unionByName(base.filter(F.col("vec_id") == 10))
    got, exp = _pairs_vs_reference(emb, 0.5, [C0, C1])
    assert not any(r[0] == r[1] for r in got)
    assert got == exp and len(got) > 0


def test_pandas_pairs_round_half_up_on_decimal_tie(spark):
    """Cosine 0.0005045 is a decimal tie at 6 places, but
    0.0005045·1e6 = 504.49999999999994 in binary. Spark's round(x, 6)
    applies HALF_UP to the decimal string and gives 0.000505, so the
    pair meets threshold 0.000505; a binary floor(|x|·1e6 + 0.5)
    rounding gives 0.000504 and would drop it."""
    c = 0.0005045
    a = [1.0] + [0.0] * (DIM - 1)
    b = [c, math.sqrt(1.0 - c * c)] + [0.0] * (DIM - 2)
    emb = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    got, exp = _pairs_vs_reference(emb, 0.000505, [C0])
    assert got == exp == [(1, 2, 0, 0.000505)]


def test_trained_centroids_path_recall_floor(spark):
    """End-to-end with MLlib-trained centroids (no pinned vocabulary):
    planted exact duplicates MUST still be caught — identical vectors
    share a cluster under any argmin assignment."""
    base = _corpus(spark)
    dupes = base.filter(F.col("vec_id").isin(0, 10)).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    emb = base.unionByName(dupes)
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(emb, n_centroids=3, threshold=0.999).collect()
    )
    assert 100 not in kept and 110 not in kept
    assert set(kept) >= {0, 10}


def test_semantic_dedup_scores_pairs_once(spark):
    """The keep-one filter must not copy the pair pass into each branch
    of a union input (an anti join is pushed through a union; sm01's
    corpus plus planted copies is one): the plan holds ONE
    FlatMapGroupsInPandas."""
    base = _corpus(spark)
    copies = base.filter(F.col("vec_id").isin(0, 10)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    kept = semantic_dedup(
        base.unionByName(copies), threshold=0.999, centroids=[C0, C1]
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    # 1 and 11 duplicate 0 and 10, as do the copies 1000 and 1010
    assert {r["vec_id"] for r in kept.collect()} == {0, 2, 10, 12, 20}
