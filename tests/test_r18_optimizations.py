"""Focused tests for the round-18 optimization internals.

Two operator rewrites changed HOW results are computed (never what):

* fixed-sweep graph loops early-exit at the fixpoint — bit-identical
  by monotonicity+idempotence, asserted here by running the same
  input at an exact round budget and at a budget far past the
  diameter;
* co-purchase pair generation moved from a self-equi-join to basket
  form (``registry._basket_pairs``) — identical pair multiset,
  asserted against the join spelling on a random basket table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators.graph import (
    bfs_distances,
    components_fixed,
    kcore,
    sssp,
)
from alternating_least_squares_spark.registry import _basket_pairs
from tests.conftest import hash_min_paths


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


# two chains (diameter 4) + a triangle + an isolated edge
CHAIN_EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 5),
    (10, 11), (11, 12), (12, 13),
    (20, 21), (21, 22), (20, 22),
    (30, 31),
]


def test_components_fixed_early_exit_matches_full_budget(spark, monkeypatch):
    e = _edges(spark, CHAIN_EDGES)
    for path in hash_min_paths(monkeypatch):
        exact = {
            (r["vertex"], r["component"])
            for r in components_fixed(e, rounds=5).collect()
        }
        # 50 >> diameter: the loop must early-exit AND return the same
        # labels the 5-round (>= diameter) sweep produced
        far = {
            (r["vertex"], r["component"])
            for r in components_fixed(e, rounds=50).collect()
        }
        assert far == exact, path
        # sanity: the chain collapsed to its minimum
        assert (5, 1) in far and (13, 10) in far and (22, 20) in far, path


def test_kcore_fixed_early_exit_matches_full_budget(spark):
    e = _edges(spark, CHAIN_EDGES)
    exact = {
        (r["vertex"], r["core_degree"])
        for r in kcore(e, k=2, rounds=6).collect()
    }
    far = {
        (r["vertex"], r["core_degree"])
        for r in kcore(e, k=2, rounds=60).collect()
    }
    assert far == exact
    # only the triangle survives the 2-core peel of chains
    assert {v for v, _ in far} == {20, 21, 22}


def test_bfs_fixed_early_exit_matches_full_budget(spark):
    e = _edges(spark, CHAIN_EDGES)
    src = spark.createDataFrame([(1,), (20,)], "vertex long")
    exact = {
        (r["vertex"], r["hops"])
        for r in bfs_distances(e, src, rounds=4).collect()
    }
    far = {
        (r["vertex"], r["hops"])
        for r in bfs_distances(e, src, rounds=40).collect()
    }
    assert far == exact
    assert (5, 4) in far and (21, 1) in far


def test_sssp_fixed_early_exit_matches_full_budget(spark):
    w = spark.createDataFrame(
        [(a, b, (a + b) % 3 + 1) for a, b in CHAIN_EDGES],
        "a long, b long, weight long",
    )
    src = spark.createDataFrame([(1,), (20,)], "vertex long")
    exact = {
        (r["vertex"], r["dist"])
        for r in sssp(w, src, rounds=6).collect()
    }
    far = {
        (r["vertex"], r["dist"])
        for r in sssp(w, src, rounds=60).collect()
    }
    assert far == exact


def test_sssp_fixed_budget_below_diameter_unaffected(spark):
    # the early exit must NOT fire before the budget when the budget
    # is the binding constraint (fixed-sweep semantics preserved)
    w = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "a long, b long, weight long"
    )
    src = spark.createDataFrame([(1,)], "vertex long")
    got = {
        (r["vertex"], r["dist"]) for r in sssp(w, src, rounds=1).collect()
    }
    assert got == {(1, 0), (2, 1)}  # one relaxation reaches one hop


@pytest.mark.parametrize("seed", [7, 21])
def test_basket_pairs_matches_self_join(spark, seed):
    # random (key, item) rows WITH duplicates — collect_set must dedup
    # exactly like the join spelling's pre-distinct
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(12), rng.randrange(9))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = sorted(
        (r["a"], r["b"]) for r in _basket_pairs(df).collect()
    )
    li = df.distinct()
    want = sorted(
        (r["a"], r["b"])
        for r in li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .collect()
    )
    assert got == want  # multiset equality, per-key pairs once each
