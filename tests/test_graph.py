"""Integer PageRank (operators/graph.py, round 5) on hand-computed
graphs — the oracle entry (gr01) covers engine parity; these pin the
arithmetic itself."""

from __future__ import annotations

import pytest

from alternating_least_squares_spark.checkpoint import (
    release_local_checkpoint as _release,
)
from alternating_least_squares_spark.operators.graph import pagerank
from tests.conftest import hash_min_paths


def test_pagerank_hand_computed_two_iterations(spark):
    # 1 -> {2,3}, 2 -> 3, 3 -> 1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["id"]: r["pr_us"] for r in pagerank(edges, iterations=2).collect()}
    # iter1: sums 1:1e6, 2:5e5, 3:1.5e6 -> 1_000_000 / 575_000 / 1_425_000
    # iter2: sums 1:1_425_000, 2:500_000, 3:1_075_000
    assert got == {1: 1_361_250, 2: 575_000, 3: 1_063_750}


def test_pagerank_dangling_node_and_duplicate_edges(spark):
    # duplicate edge must not double-count; node 2 is dangling (its
    # mass leaks, documented semantics)
    edges = spark.createDataFrame(
        [(1, 2), (1, 2)], "src long, dst long"
    )
    got = {r["id"]: r["pr_us"] for r in pagerank(edges, iterations=1).collect()}
    assert got == {1: 150_000, 2: 1_000_000}


def test_pagerank_validates_inputs(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edges, damping_pct=101)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)


def test_triangle_counts_hand_computed(spark, monkeypatch):
    """gr03 on a planted graph: one order holding parts {1,2,3,4}
    builds K4 (4 triangles, each vertex in 3); a 2-part order adds an
    edge but no triangle; overlapping orders must not double-count
    (order 3 repeats the {1,2} edge)."""
    import alternating_least_squares_spark.registry as R
    from alternating_least_squares_spark.registry import queries

    li = spark.createDataFrame(
        [(1, p) for p in (1, 2, 3, 4)]
        + [(2, 10), (2, 11)]
        + [(3, 1), (3, 2)],
        "l_orderkey long, l_partkey long",
    )
    real_load = R.load_table
    monkeypatch.setattr(
        R, "load_table",
        lambda sp, sf, name: li if name == "lineitem"
        else real_load(sp, sf, name),
    )
    got = {
        r["part"]: r["n_triangles"]
        for r in queries()["gr03_triangles"](spark, "ignored").collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_hub_guard_drops_hub_and_bounds_wedges(spark):
    """Planted hub (VERDICT r6 #6): vertex 100 connects to 20 leaves
    (degree 20 ≫ cap), on top of a clean K4 on {1,2,3,4}. With
    max_degree=5 the hub's edges are dropped BEFORE the wedge join —
    the wedge count is bounded by the K4's (vs 20·19/2=190 hub wedges
    uncapped) — and the below-threshold K4 result is bit-identical to
    the uncapped run restricted to those vertices."""
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
        vertex_degrees,
    )

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    hub = [(100, 100 + i) for i in range(1, 21)]
    edges = spark.createDataFrame(k4 + hub, "a long, b long")

    capped = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(edges, max_degree=5).collect()
    }
    # hub vertex gone, K4 untouched
    assert capped == {1: 3, 2: 3, 3: 3, 4: 3}
    uncapped = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    assert {k: v for k, v in uncapped.items() if k <= 4} == capped

    # the wedge fan-out is actually bounded: count 2-paths through
    # each mid vertex on the capped edge set (the join input), and
    # the report side names exactly the planted hub
    dropped = {
        r["vertex"]
        for r in vertex_degrees(edges)
        .filter("degree > 5")
        .collect()
    }
    assert dropped == {100}
    capped_edges = edges.join(
        spark.createDataFrame([(100,)], "a long"), "a", "left_anti"
    ).filter("b <> 100")
    n_wedges = (
        capped_edges.alias("e1")
        .join(
            capped_edges.alias("e2").selectExpr("a as b", "b as c"), "b"
        )
        .count()
    )
    assert n_wedges <= 4 * 5 * 5  # |V|·cap² bound from the docstring


def test_triangle_hub_guard_validates_cap(spark):
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="max_degree"):
        triangle_counts(edges, max_degree=1)


from hypothesis import given, settings, strategies as st

edge_set = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, cap=st.integers(min_value=2, max_value=6))
def test_triangle_counts_match_brute_force(spark, raw, cap):
    """Any random graph, any cap: the adjacency-intersection
    formulation must produce exactly the brute-force per-vertex
    triangle counts, both uncapped and with the hub guard applied
    to the same (brute-force-filtered) vertex set."""
    from collections import Counter
    from itertools import combinations

    from alternating_least_squares_spark.operators import graph
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})

    def brute(edge_list):
        es = set(edge_list)
        verts = sorted({v for e in edge_list for v in e})
        counts = Counter()
        for x, y, z in combinations(verts, 3):
            if {(x, y), (y, z), (x, z)} <= es:
                counts[x] += 1
                counts[y] += 1
                counts[z] += 1
        return dict(counts)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(df).collect()
    }
    assert got == brute(edges)

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    capped_edges = [
        (a, b) for a, b in edges if deg[a] <= cap and deg[b] <= cap
    ]
    got_capped = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(df, max_degree=cap).collect()
    }
    assert got_capped == brute(capped_edges)

    # the scale path (shuffled-hash joins, no adjacency broadcast)
    # must be result-identical to the gated fast path
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
        got_shuffled = {
            r["part"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }
    assert got_shuffled == brute(edges)


def test_triangle_scale_path_matches_broadcast_on_planted_graph(
    spark, monkeypatch
):
    """Deterministic twin of the property test's scale-path check on
    a denser planted graph (K6 ∪ K4 sharing vertex 5 + a pendant):
    both join strategies, same counts."""
    from alternating_least_squares_spark.operators import graph
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
    )

    k6 = [(a, b) for a in range(6) for b in range(6) if a < b]
    k4 = [(a, b) for a in (5, 10, 11, 12) for b in (5, 10, 11, 12) if a < b]
    df = spark.createDataFrame(
        sorted(set(k6 + k4 + [(12, 99)])), "a long, b long"
    )
    fast = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(df).collect()
    }
    # a zero size gate forces the shuffled-hash scale path
    monkeypatch.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
    scale = {
        r["part"]: r["n_triangles"]
        for r in triangle_counts(df).collect()
    }
    # K6: C(5,2)=10 per vertex; K4: 3 per vertex; vertex 5 is in both
    expect = {v: 10 for v in range(6)} | {10: 3, 11: 3, 12: 3}
    expect[5] = 13
    assert fast == expect
    assert scale == expect


def test_edge_neighborhood_scores_hand_computed(spark, monkeypatch):
    """gr04's operator on K4 + pendant: every K4 edge has the 2 other
    vertices in common (union = 3+3-2=4 ... with endpoints in each
    other's neighborhoods); the pendant edge shares nothing."""
    from alternating_least_squares_spark.operators import graph
    from alternating_least_squares_spark.operators.graph import (
        edge_neighborhood_scores,
    )

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    df = spark.createDataFrame(k4 + [(4, 9)], "a long, b long")
    got = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in edge_neighborhood_scores(df).collect()
    }
    # K4 edge (1,2): N(1)={2,3,4}, N(2)={1,3,4} -> common {3,4}=2,
    # union = 3+3-2 = 4 -> 0.5. Edges at vertex 4 (deg 4): e.g. (1,4):
    # N(1)={2,3,4} (3), N(4)={1,2,3,9} (4) -> common {2,3}=2 / 5 = 0.4
    assert got[(1, 2)] == (2, 0.5)
    assert got[(1, 4)] == (2, 0.4)
    assert got[(4, 9)] == (0, 0.0)
    assert len(got) == 7

    monkeypatch.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
    scale = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in edge_neighborhood_scores(df).collect()
    }
    assert scale == got


def test_edge_neighborhood_scores_hub_cap(spark):
    """max_degree drops the hub from edges, degrees, and
    neighborhoods alike (same semantics as gr03)."""
    from alternating_least_squares_spark.operators.graph import (
        edge_neighborhood_scores,
    )

    k3 = [(1, 2), (1, 3), (2, 3)]
    hub = [(4, 100 + i) for i in range(10)] + [(1, 4)]
    df = spark.createDataFrame(k3 + hub, "a long, b long")
    got = {
        (r["a"], r["b"]): (r["common"], r["jaccard"])
        for r in edge_neighborhood_scores(df, max_degree=3).collect()
    }
    # vertex 4 (degree 11) is gone entirely; clean K3 remains:
    # each edge: common 1, union 2+2-1 = 3... N(1)={2,3}, N(2)={1,3}
    # -> common {3} = 1, union = 2+2-1 = 3 -> 0.333333
    assert got == {
        (1, 2): (1, 0.333333),
        (1, 3): (1, 0.333333),
        (2, 3): (1, 0.333333),
    }


def test_kcore_hand_computed(spark):
    """A 4-clique with a pendant chain: the 3-core is exactly the
    clique (peeling the chain cascades), and every survivor reports
    its in-core degree."""
    from alternating_least_squares_spark.operators.graph import kcore

    # clique {1,2,3,4} + chain 4-5-6
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["vertex"]: r["core_degree"]
           for r in kcore(df, k=3, rounds=7).collect()}  # |V| + 1
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_fixed_sweep_matches_fixpoint_once_deep_enough(spark):
    """A budget >= the peel depth equals the structural |V|+1 budget
    — and a too-shallow budget is the documented mid-peel snapshot,
    not an error."""
    from alternating_least_squares_spark.operators.graph import kcore

    # chain 0-1-2-3-4-5 plus a triangle 10,11,12: 2-core = triangle,
    # and the chain needs multiple cascading rounds to vanish
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (11, 12)]
    df = spark.createDataFrame(edges, "a long, b long")
    n_vertices = len({v for e in edges for v in e})
    full = {(r["vertex"], r["core_degree"])
            for r in kcore(df, k=2, rounds=n_vertices + 1).collect()}
    assert full == {(10, 2), (11, 2), (12, 2)}
    deep = {(r["vertex"], r["core_degree"])
            for r in kcore(df, k=2, rounds=6).collect()}
    assert deep == full
    shallow = {(r["vertex"], r["core_degree"])
               for r in kcore(df, k=2, rounds=1).collect()}
    # one peel only removes the chain ENDS (0 and 5)
    assert (1, 1) in shallow and (10, 2) in shallow


def test_kcore_validates_and_guards(spark):
    from alternating_least_squares_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        kcore(df, k=0, rounds=3)


def test_deep_paths_converge_within_a_structural_budget(spark):
    """Deep graphs need deep budgets, and the structural |V|+1 budget
    always suffices: a long path at k=2 peels one vertex off each end
    per round (62 rounds here), and a seed at the end of a path has
    eccentricity |V|-1 (62 here). Both must reach the fixpoint."""
    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
        kcore,
    )

    # 124-vertex path: k=2 peels both ends -> 62 changing rounds
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(123)], "a long, b long"
    )
    # a path has no 2-core
    assert kcore(path, k=2, rounds=124 + 1).count() == 0
    # seed at one end of a 63-vertex path: eccentricity 62
    seeds = spark.createDataFrame([(0,)], "vertex long")
    sub = spark.createDataFrame(
        [(i, i + 1) for i in range(62)], "a long, b long"
    )
    got = {r["vertex"]: r["hops"] for r in
           bfs_distances(sub, seeds, rounds=63 + 1).collect()}
    assert len(got) == 63 and got[62] == 62


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, k=st.integers(min_value=1, max_value=4))
def test_kcore_matches_brute_force(spark, raw, k):
    """Any random graph, any k: the distributed peel must equal the
    sequential reference peel (vertex set AND in-core degrees)."""
    from collections import Counter

    from alternating_least_squares_spark.operators.graph import kcore

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})

    def brute(edge_list, kk):
        es = set(edge_list)
        while True:
            deg = Counter()
            for a, b in es:
                deg[a] += 1
                deg[b] += 1
            drop = {v for v, d in deg.items() if d < kk}
            if not drop:
                return {(v, d) for v, d in deg.items()}
            es = {(a, b) for a, b in es
                  if a not in drop and b not in drop}
            if not es:
                return set()

    df = spark.createDataFrame(edges, "a long, b long")
    n_vertices = len({v for e in edges for v in e})
    got = {(r["vertex"], r["core_degree"])
           for r in kcore(df, k=k, rounds=n_vertices + 1).collect()}
    assert got == brute(edges, k)


def test_bfs_distances_hand_computed(spark):
    """Chain 1-2-3-4 with seed {1}: hops are positional; vertex 6 in a
    separate component is absent from the output (never NULL-padded)."""
    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "a long, b long"
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")
    got = {r["vertex"]: r["hops"]
           for r in bfs_distances(edges, seeds, rounds=7).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_fixed_sweep_truncates_then_matches(spark):
    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")
    two = {r["vertex"]: r["hops"]
           for r in bfs_distances(edges, seeds, rounds=2).collect()}
    assert two == {1: 0, 2: 1, 3: 2}  # level 3 not expanded yet
    five = {r["vertex"]: r["hops"]
            for r in bfs_distances(edges, seeds, rounds=5).collect()}
    assert five == {1: 0, 2: 1, 3: 2, 4: 3}


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, smod=st.integers(min_value=2, max_value=4))
def test_bfs_matches_brute_force(spark, raw, smod):
    from collections import deque

    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    verts = sorted({v for e in edges for v in e})
    seed_list = [v for v in verts if v % smod == 0]

    def brute():
        adj = {v: set() for v in verts}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        dist = {v: 0 for v in seed_list}
        q = deque(seed_list)
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return dist

    df = spark.createDataFrame(edges, "a long, b long")
    seeds = spark.createDataFrame([(v,) for v in seed_list] or [(None,)],
                                  "vertex long").filter("vertex IS NOT NULL")
    got = {
        r["vertex"]: r["hops"]
        for r in bfs_distances(df, seeds, rounds=len(verts) + 1).collect()
    }
    assert got == brute()


def test_iterative_graph_ops_keep_lineage_flat(spark):
    """The scale contract of every iterative graph operator: after R
    rounds the RETURNED frame's plan hangs off a checkpointed RDD scan
    (round N never replays rounds 1..N-1). Losing a localCheckpoint
    turns the lineage into an R-deep join tree — this asserts the
    final optimized plan contains NO Join at all (the last round's
    joins are materialized behind the checkpoint) for kcore and
    bfs_distances, and exactly the final rank projection for
    pagerank."""
    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
        kcore,
        pagerank,
    )

    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "a long, b long"
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    core_plan = optimized(kcore(edges, k=2, rounds=3))
    assert "Join" not in core_plan, core_plan
    bfs_plan = optimized(bfs_distances(edges, seeds, rounds=3))
    assert "Join" not in bfs_plan, bfs_plan
    from alternating_least_squares_spark.operators.graph import sssp

    sssp_plan = optimized(
        sssp(
            edges.withColumn("weight", F.lit(1).cast("long")),
            seeds,
            rounds=3,
        )
    )
    assert "Join" not in sssp_plan, sssp_plan
    pr_plan = optimized(
        pagerank(
            edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            iterations=3,
        )
    )
    assert "Join" not in pr_plan, pr_plan


def test_clustering_coefficients_hand_computed(spark):
    """K4 with a pendant: clique members have cc=1 over their three
    clique neighbors... except vertex 4, whose pendant edge dilutes
    it to 2*3/(4*3)=0.5; the pendant itself (degree 1) is absent and
    a triangle-free degree-2 vertex reports 0.0."""
    from alternating_least_squares_spark.operators.graph import (
        clustering_coefficients,
    )

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5),          # pendant on 4
             (6, 7), (7, 8)]  # triangle-free path
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["vertex"]: (r["degree"], r["n_triangles"],
                         r["clustering_coeff"])
           for r in clustering_coefficients(df).collect()}
    assert got == {
        1: (3, 3, 1.0), 2: (3, 3, 1.0), 3: (3, 3, 1.0),
        4: (4, 3, 0.5), 7: (2, 0, 0.0),
    }


@settings(max_examples=8, deadline=None)
@given(raw=edge_set)
def test_edge_neighborhood_scores_match_brute_force(spark, raw):
    """Any random graph: per-edge common-neighbor counts and Jaccard
    from the oriented-credit formulation must equal the brute-force
    neighborhood intersection, on BOTH join strategies."""
    from alternating_least_squares_spark.operators import graph
    from alternating_least_squares_spark.operators.graph import (
        edge_neighborhood_scores,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})

    def brute():
        nbrs: dict[int, set[int]] = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        out = {}
        for a, b in edges:
            common = len(nbrs[a] & nbrs[b])
            union = len(nbrs[a]) + len(nbrs[b]) - common
            out[(a, b)] = (common, round(common / union, 6))
        return out

    df = spark.createDataFrame(edges, "a long, b long")
    # the default gate broadcasts; a zero gate forces shuffled-hash
    for limit in (graph.BROADCAST_EDGE_LIMIT, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "BROADCAST_EDGE_LIMIT", limit)
            got = {
                (r["a"], r["b"]): (r["common"], r["jaccard"])
                for r in edge_neighborhood_scores(df).collect()
            }
        assert got == brute(), f"BROADCAST_EDGE_LIMIT={limit}"


@settings(max_examples=6, deadline=None)
@given(raw=edge_set)
def test_clustering_coefficients_match_brute_force(spark, raw):
    from collections import Counter
    from itertools import combinations

    from alternating_least_squares_spark.operators.graph import (
        clustering_coefficients,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})

    def brute():
        es = set(edges)
        verts = sorted({v for e in edges for v in e})
        tri = Counter()
        for x, y, z in combinations(verts, 3):
            if {(x, y), (y, z), (x, z)} <= es:
                tri[x] += 1
                tri[y] += 1
                tri[z] += 1
        deg = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        return {
            v: (d, tri[v], round(2.0 * tri[v] / (d * (d - 1)), 6))
            for v, d in deg.items()
            if d >= 2
        }

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["vertex"]: (r["degree"], r["n_triangles"],
                      r["clustering_coeff"])
        for r in clustering_coefficients(df).collect()
    }
    assert got == brute()


def test_components_fixed_hand_computed(spark, monkeypatch):
    """gr08's operator on a two-component path + triangle fixture:
    every vertex labels with its component's minimum id; the path
    needs diameter rounds (hash-min moves the min ONE hop/round)."""
    from alternating_least_squares_spark.operators.graph import (
        components_fixed,
    )

    edges = spark.createDataFrame(
        # component A: path 1-2-3-4 (diameter 3);
        # component B: triangle 10-11-12
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "a: long, b: long",
    )
    for path in hash_min_paths(monkeypatch):
        got = {
            r["vertex"]: r["component"]
            for r in components_fixed(edges, rounds=3).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}, path
        # one round is NOT enough for the path — vertex 4 still sees
        # only vertex 3's initial label (fixed-sweep is honest about it)
        partial = {
            r["vertex"]: r["component"]
            for r in components_fixed(edges, rounds=1).collect()
        }
        assert partial[4] == 3 and partial[2] == 1, path


def test_hash_min_fixpoint_at_the_budget_edge(spark, monkeypatch):
    """A 5-chain needs 4 rounds to carry the minimum to its end and a
    5th that changes nothing: a budget of 5 reaches the fixpoint, a
    budget of 4 has the same labels but never saw a quiet round."""
    from alternating_least_squares_spark.operators.graph import _hash_min

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a: long, b: long"
    )
    for path in hash_min_paths(monkeypatch):
        for rounds, fixpoint in ((4, False), (5, True)):
            labels, owned, reached = _hash_min(edges, rounds)
            got = {r["vertex"]: r["component"] for r in labels.collect()}
            assert got == {v: 1 for v in range(1, 6)}, (path, rounds)
            assert reached is fixpoint, (path, rounds)
            assert (owned == set()) is (path == "driver"), path
            _release(labels, owned)


def test_hash_min_empty_duplicate_and_self_loop_edges(spark, monkeypatch):
    """An empty edge set gives no labels and reaches its fixpoint in
    the first round; duplicate edges (either direction) count once and
    a self-loop keeps its vertex. Both paths return the edge id type."""
    from alternating_least_squares_spark.operators.graph import (
        _hash_min,
        components_fixed,
    )

    empty = spark.createDataFrame([], "a: int, b: int")
    messy = spark.createDataFrame(
        [(2, 1), (1, 2), (1, 2), (3, 3), (4, 3), (7, 7)], "a: int, b: int"
    )
    for path in hash_min_paths(monkeypatch):
        labels, owned, reached = _hash_min(empty, 3)
        assert labels.collect() == [] and reached, path
        assert [f.dataType.simpleString() for f in labels.schema] == [
            "int", "int"
        ], path
        got = components_fixed(messy, rounds=4)
        assert [f.dataType.simpleString() for f in got.schema] == [
            "int", "int"
        ], path
        assert {r["vertex"]: r["component"] for r in got.collect()} == {
            1: 1, 2: 1, 3: 3, 4: 3, 7: 7
        }, path


def test_hash_min_null_ids_run_distributed(spark):
    """An edge set with a NULL id skips the driver path (its labels
    come back on a checkpoint the caller owns), whatever its size."""
    from alternating_least_squares_spark.operators.graph import _hash_min

    edges = spark.createDataFrame(
        [(1, 2), (2, None)], "a: long, b: long"
    )
    labels, owned, _ = _hash_min(edges, 3)
    assert owned
    assert {r["vertex"]: r["component"] for r in labels.collect()}[2] == 1
    _release(labels, owned)


def test_gr08_job_count(spark):
    """gr08 at SF_SMALL runs its hash-min rounds on the driver, so its
    jobs no longer grow with the rounds: 5 (19 when every round ran as
    Spark jobs)."""
    from alternating_least_squares_spark.registry import (
        q_gr08_connected_components,
    )
    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    group = "test_gr08_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = q_gr08_connected_components(spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5


def test_gr08_fixed_sweep_equals_live_convergence(spark):
    """GR08_ROUNDS must cover the support graph's component diameter
    at the test SF: the fixed sweep must equal the converged
    components, computed here by a pure-Python union-find (each
    vertex labeled with its component's minimum id)."""
    from alternating_least_squares_spark.registry import (
        _support_edges,
        q_gr08_connected_components,
    )
    from tests.conftest import SF_SMALL

    got = {
        (r["part"], r["component"])
        for r in q_gr08_connected_components(spark, SF_SMALL).collect()
    }
    parent: dict[int, int] = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for r in _support_edges(spark, SF_SMALL).collect():
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        # union by minimum id: every root is its component's minimum
        parent[max(ra, rb)] = min(ra, rb)
    closure = {(v, find(v)) for v in parent}
    assert got == closure and got


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, rounds=st.integers(min_value=1, max_value=12))
def test_components_fixed_matches_bounded_python_replay(spark, raw, rounds):
    """gr08 property: on any random graph and ANY round budget, the
    DataFrame hash-min must equal a sequential Python replay of the
    same bounded propagation — including honest under-sweeps where
    the budget is below the component diameter."""
    from alternating_least_squares_spark.operators.graph import (
        components_fixed,
    )

    edges = spark.createDataFrame(
        [(a, b) for a, b in sorted(raw)], "a: long, b: long"
    )
    # hypothesis reuses one function-scoped monkeypatch across
    # examples, so each example undoes its own gate change
    with pytest.MonkeyPatch.context() as mp:
        got = {
            path: {
                r["vertex"]: r["component"]
                for r in components_fixed(edges, rounds=rounds).collect()
            }
            for path in hash_min_paths(mp)
        }

    und = set()
    for a, b in raw:
        und.add((a, b))
        und.add((b, a))
    labels = {v: v for v, _ in und}
    for _ in range(rounds):
        nxt = dict(labels)
        for a, b in und:
            if labels[a] < nxt[b]:
                nxt[b] = labels[a]
        labels = nxt
    assert got == {"driver": labels, "distributed": labels}


def test_label_propagation_hand_computed(spark):
    """gr09's operator on two triangles joined by a bridge: LPA keeps
    the triangles as DISTINCT communities (the differentiator vs
    components, which would merge everything reachable), because the
    bridge carries one vote while each triangle's internal majority
    carries two."""
    from alternating_least_squares_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "a: long, b: long",
    )
    got = {
        r["vertex"]: r["community"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    # and a |V|+1 budget lands on the same answer
    full = {
        r["vertex"]: r["community"]
        for r in label_propagation(edges, rounds=7).collect()
    }
    assert full == got


def test_label_propagation_skips_rounds_after_fixpoint(spark):
    """Once a round changes no label, label_propagation stops: a budget
    far past the fixpoint runs the same Spark jobs as one just past it,
    with the same result."""
    from alternating_least_squares_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "a: long, b: long",
    )
    sc = spark.sparkContext
    runs = []
    for rounds in (7, 70):
        group = f"test_label_propagation_skips_rounds_after_fixpoint_{rounds}"
        sc.setJobGroup(group, group)
        try:
            got = {
                r["vertex"]: r["community"]
                for r in label_propagation(edges, rounds=rounds).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        runs.append((got, len(sc.statusTracker().getJobIdsForGroup(group))))
    (short, short_jobs), (long, long_jobs) = runs
    assert short == long == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    assert short_jobs == long_jobs


def test_gr09_fixed_sweep_equals_live_convergence(spark):
    """GR09_ROUNDS must cover the support graph's LPA convergence
    depth at the test SF: the registry's budget must equal a budget
    four times as large."""
    from alternating_least_squares_spark.operators.graph import (
        label_propagation,
    )
    from alternating_least_squares_spark.registry import (
        GR09_ROUNDS,
        _support_edges,
        q_gr09_label_propagation,
    )
    from tests.conftest import SF_SMALL

    got = {
        (r["part"], r["community"])
        for r in q_gr09_label_propagation(spark, SF_SMALL).collect()
    }
    far = {
        (r["vertex"], r["community"])
        for r in label_propagation(
            _support_edges(spark, SF_SMALL), rounds=4 * GR09_ROUNDS
        ).collect()
    }
    assert got == far and got


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, rounds=st.integers(min_value=1, max_value=8))
def test_label_propagation_matches_python_replay(spark, raw, rounds):
    """gr09 property: on any random graph and ANY round budget, the
    DataFrame LPA must equal a sequential Python replay of the same
    deterministic synchronous update (self-vote + neighbor votes,
    argmax by (count DESC, label ASC)) — including honest
    under-sweeps."""
    from collections import Counter

    from alternating_least_squares_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(a, b) for a, b in sorted(raw)], "a: long, b: long"
    )
    got = {
        r["vertex"]: r["community"]
        for r in label_propagation(edges, rounds=rounds).collect()
    }

    und = set()
    for a, b in raw:
        und.add((a, b))
        und.add((b, a))
    vertices = {v for e in und for v in e}
    nbrs = {v: {u for (u, w) in und if w == v} for v in vertices}
    labels = {v: v for v in vertices}
    for _ in range(rounds):
        nxt = {}
        for v in vertices:
            votes = Counter([labels[v]] + [labels[u] for u in nbrs[v]])
            nxt[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    assert got == labels


def test_iterative_loops_release_superseded_checkpoints(spark, monkeypatch):
    """Round-13 storage hygiene: a 10-round Pregel loop must leave
    O(1) checkpoint generations pinned, not one per round —
    localCheckpoint blocks survive DataFrame.unpersist() and used to
    accumulate per call (measured 9 orphaned persistent RDDs per
    components_fixed run; in a long session that pressure inflated
    unrelated queries 2-4x). The rotation releases each superseded
    generation once its successor is materialized; only the final
    state (still readable by the caller) and the one-shot input
    checkpoints may remain."""
    from alternating_least_squares_spark.operators.graph import (
        components_fixed,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(20, 21), (21, 22)],
        "a: long, b: long",
    )
    jsc = spark.sparkContext._jsc

    for path in hash_min_paths(monkeypatch):
        before = len(jsc.getPersistentRDDs())
        components_fixed(edges, rounds=10).write.format("noop").mode(
            "overwrite"
        ).save()
        leaked = len(jsc.getPersistentRDDs()) - before
        # only the final labels may stay pinned (the returned DataFrame
        # reads them; the driver path's own no checkpoint); the graph,
        # the seed, and ten superseded generations must all have been
        # released
        assert leaked <= (0 if path == "driver" else 2), (path, leaked)

    before = len(jsc.getPersistentRDDs())
    label_propagation(edges, rounds=16).write.format("noop").mode(
        "overwrite"
    ).save()
    leaked = len(jsc.getPersistentRDDs()) - before
    assert leaked <= 4, leaked


def _py_ktruss(edges, k):
    """Sequential reference peel: drop edges with support < k-2 until
    stable; returns {edge: support-in-truss}."""
    es = set(edges)
    while True:
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {(a, b): len(nbrs[a] & nbrs[b]) for a, b in es}
        keep = {e for e in es if sup[e] >= k - 2}
        if keep == es:
            return sup
        es = keep


@settings(max_examples=8, deadline=None)
@given(raw=edge_set, k=st.integers(min_value=3, max_value=5))
def test_ktruss_matches_brute_force(spark, raw, k):
    """Any random graph, any k: the distributed support peel must
    equal the sequential reference peel (edge set AND in-truss
    supports)."""
    from alternating_least_squares_spark.operators.graph import ktruss

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss(df, k, rounds=len(edges) + 1).collect()
    }
    assert got == _py_ktruss(edges, k)


def test_ktruss_fixed_sweep_matches_fixpoint_once_deep_enough(spark):
    """A budget >= the peel depth equals the structural |E|+1 budget
    (extra rounds change nothing once converged)."""
    from alternating_least_squares_spark.operators.graph import ktruss

    # two 4-cliques sharing a vertex plus a pendant path: the path
    # peels immediately, the cliques survive k=4 (support 2 inside)
    clique1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    clique2 = [(a, b) for a in range(3, 7) for b in range(a + 1, 7)]
    path = [(7, 8), (8, 9)]
    df = spark.createDataFrame(
        sorted(set(clique1 + clique2 + path)), "a long, b long"
    )
    n_edges = len(set(clique1 + clique2 + path))
    full = sorted(
        (r["a"], r["b"], r["support"])
        for r in ktruss(df, 4, rounds=n_edges + 1).collect()
    )
    fixed = sorted(
        (r["a"], r["b"], r["support"])
        for r in ktruss(df, 4, rounds=6).collect()
    )
    assert full == fixed
    assert len(full) == len(clique1) + len(clique2)


def test_ktruss_validates_guards_and_releases(spark):
    from alternating_least_squares_spark.operators.graph import ktruss

    df = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "a long, b long",
    )
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss(df, k=2, rounds=7)
    # the gr03 hub cap comes with its guard: capping below 2 would
    # silently empty the truss
    with pytest.raises(ValueError, match="max_degree must be >= 2"):
        ktruss(df, k=4, rounds=7, max_degree=1)
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    ktruss(df, k=4, rounds=7).write.format("noop").mode(
        "overwrite"
    ).save()
    # only the final generation + final scoring pass may stay pinned
    assert len(jsc.getPersistentRDDs()) - before <= 3


def test_ktruss_runs_no_count_jobs(spark):
    """ktruss's edge counts ride its checkpoints as ``observe``
    metrics, so the call runs no count() job. The fixture peels
    twice (the fan's support-1 edges, then its stranded spine) and
    stops at round 3. Its jobs are 3 outside the loop (the input
    checkpoint and the collect) plus 11 per round (edge_support's two
    checkpoints and the rotated edge set); round 3 reaches the
    fixpoint, so its supports are returned with no further scoring
    pass. A count() costs 2 jobs here (partial count + final), so one
    per round plus the initial one would add 8."""
    from alternating_least_squares_spark.operators.graph import ktruss

    cliques = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [
        (a, b) for a in range(3, 7) for b in range(a + 1, 7)
    ]
    fan = [(10, 11), (11, 12), (10, 12), (12, 13), (11, 13), (13, 14),
           (12, 14)]
    edges = sorted(set(cliques + fan))
    df = spark.createDataFrame(edges, "a long, b long")
    sc = spark.sparkContext
    group = "test_ktruss_runs_no_count_jobs"
    sc.setJobGroup(group, group)
    try:
        got = {
            (r["a"], r["b"]): r["support"]
            for r in ktruss(df, 4, rounds=len(edges) + 1).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _py_ktruss(edges, 4)
    assert len(got) == len(cliques)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3 + 3 * 11


def test_sssp_hand_computed_weighted_beats_hops(spark):
    """Chain 1-2-3 at weight 2 each vs direct 1-3 at weight 5: the
    2-hop path wins at cost 4 (exactly what hop-count BFS cannot
    express); a separate component is absent, never NULL-padded;
    parallel edges keep the cheapest weight."""
    from alternating_least_squares_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 2), (1, 3, 5), (1, 3, 9), (7, 8, 1)],
        "a long, b long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")
    got = {
        r["vertex"]: r["dist"]
        for r in sssp(edges, seeds, rounds=6).collect()  # |V| + 1
    }
    assert got == {1: 0, 2: 2, 3: 4}


def test_sssp_fixed_sweep_truncates_then_matches(spark):
    """rounds=R is the min-plus prefix: after 1 round the chain end
    still carries the direct edge's higher cost, corrected once the
    cheaper 2-hop relaxation arrives."""
    from alternating_least_squares_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 2), (1, 3, 5)], "a long, b long, weight long"
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")
    one = {r["vertex"]: r["dist"]
           for r in sssp(edges, seeds, rounds=1).collect()}
    assert one == {1: 0, 2: 2, 3: 5}  # direct edge seen, chain not yet
    three = {r["vertex"]: r["dist"]
             for r in sssp(edges, seeds, rounds=3).collect()}
    assert three == {1: 0, 2: 2, 3: 4}


def test_sssp_validates_and_guards(spark):
    from alternating_least_squares_spark.operators.graph import sssp

    seeds = spark.createDataFrame([(1,)], "vertex long")
    with pytest.raises(ValueError, match="positive non-NULL"):
        sssp(
            spark.createDataFrame([(1, 2, 0)], "a long, b long, weight long"),
            seeds,
            rounds=3,
        )
    with pytest.raises(ValueError, match="positive non-NULL"):
        sssp(
            spark.createDataFrame(
                [(1, 2, None)], "a long, b long, weight long"
            ),
            seeds,
            rounds=3,
        )


def test_gr11_fixed_sweep_equals_live_fixpoint(spark):
    """The GR11_ROUNDS=10 unroll must BE the fixpoint on the real
    fixture (measured hop depth 4 at sf0.001): it equals the
    structural |V|+1 budget — the gr05/gr08 pinning discipline that
    keeps the oracle hash meaning 'true distances', not 'prefix of a
    loop'."""
    from alternating_least_squares_spark.operators.graph import sssp
    from alternating_least_squares_spark.registry import (
        GR11_ROUNDS,
        GR11_SEED_MOD,
        _support_weighted_edges,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    edges = _support_weighted_edges(spark, SF_SMALL)
    seeds = (
        edges.select(F.col("a").alias("vertex"))
        .unionAll(edges.select(F.col("b").alias("vertex")))
        .distinct()
        .filter(F.col("vertex") % GR11_SEED_MOD == 0)
    )
    n_vertices = (
        edges.select(F.col("a").alias("v"))
        .union(edges.select(F.col("b").alias("v")))
        .distinct()
        .count()
    )
    fixed = {(r["vertex"], r["dist"])
             for r in sssp(edges, seeds, rounds=GR11_ROUNDS).collect()}
    full = {(r["vertex"], r["dist"])
            for r in sssp(edges, seeds, rounds=n_vertices + 1).collect()}
    assert n_vertices + 1 > GR11_ROUNDS
    assert fixed and fixed == full


@settings(max_examples=8, deadline=None)
@given(
    raw=edge_set,
    smod=st.integers(min_value=2, max_value=4),
    wseed=st.integers(min_value=0, max_value=999),
)
def test_sssp_matches_brute_force_dijkstra(spark, raw, smod, wseed):
    """Any random graph with deterministic weights 1-4: the
    level-synchronous min-plus relaxation must equal textbook
    Dijkstra exactly."""
    import heapq

    from alternating_least_squares_spark.operators.graph import sssp

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    weighted = [
        (a, b, (a * 7 + b * 13 + wseed) % 4 + 1) for a, b in edges
    ]
    verts = sorted({v for e in edges for v in e})
    seed_list = [v for v in verts if v % smod == 0]

    def brute():
        adj = {v: [] for v in verts}
        for a, b, w in weighted:
            adj[a].append((b, w))
            adj[b].append((a, w))
        dist = {v: 0 for v in seed_list}
        pq = [(0, v) for v in seed_list]
        heapq.heapify(pq)
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj[u]:
                if d + w < dist.get(v, float("inf")):
                    dist[v] = d + w
                    heapq.heappush(pq, (d + w, v))
        return dist

    df = spark.createDataFrame(weighted, "a long, b long, weight long")
    seeds = spark.createDataFrame(
        [(v,) for v in seed_list] or [(None,)], "vertex long"
    ).filter("vertex IS NOT NULL")
    got = {
        r["vertex"]: r["dist"]
        for r in sssp(df, seeds, rounds=len(verts) + 1).collect()
    }
    assert got == brute()


def test_sssp_rejects_fractional_weights(spark):
    """Review r16: a fractional weight would be silently truncated by
    the long cast (2.9 -> 2, 0.5 -> 0) — reject it as loudly as a
    non-positive one."""
    from alternating_least_squares_spark.operators.graph import sssp

    seeds = spark.createDataFrame([(1,)], "vertex long")
    with pytest.raises(ValueError, match="positive non-NULL integer"):
        sssp(
            spark.createDataFrame(
                [(1, 2, 2.9)], "a long, b long, weight double"
            ),
            seeds,
            rounds=3,
        )
    # integral-valued doubles are fine
    got = {
        r["vertex"]: r["dist"]
        for r in sssp(
            spark.createDataFrame(
                [(1, 2, 2.0)], "a long, b long, weight double"
            ),
            seeds,
            rounds=3,
        ).collect()
    }
    assert got == {1: 0, 2: 2}
