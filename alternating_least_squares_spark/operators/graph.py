"""Iterative graph analytics: PageRank in exact integer arithmetic,
triangles and k-truss, k-core, BFS/SSSP, label propagation and the
hash-min connected components shared with ``functions/dedup.py``.

Spark-first shape: each iteration is ONE equi-join (state →
out-edges) plus ONE keyed aggregation (messages → destination), the
Pregel message-passing pattern expressed as DataFrames; a per-round
``localCheckpoint`` keeps lineage flat so iteration N doesn't replay
iterations 1..N-1. The one exception is :func:`_hash_min`, whose
rounds run in NumPy on the driver when the symmetric edge set is at
most :data:`MAX_DRIVER_EDGES` edges: a small graph's rounds spend
their time in job scheduling, not compute.

PageRank's determinism contract (oracle-ready, the a17 micro-unit
idea taken all the way): ranks live in integer micro-units and EVERY
op is integer — ``contrib = pr DIV outdeg`` (truncating long
division; operands are nonnegative so it's floor), damping is
``(damping_pct · Σcontrib) DIV 100``. There is no floating point
anywhere, so any engine computes bit-identical ranks in any partition
order. The classic float formulation is order-dependent under
parallel summation and can never hash-match across engines.

Semantics notes: dangling nodes (no out-edges) leak their rank mass
(the common simplification — no uniform redistribution), and the
floor divisions shave at most ``outdeg`` µunits per node per round;
both are deterministic and documented rather than hidden.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alternating_least_squares_spark.checkpoint import (
    local_checkpoint_owned,
    release_local_checkpoint as _release,
    rotate_local_checkpoint,
)

INIT_US = 1_000_000  # one unit of rank, in micro-units


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list.

    ``edges``: columns ``src``, ``dst`` (duplicates allowed — they are
    deduplicated; parallel edges would double-count contributions).
    Returns ``(id, pr_us)`` with ranks in micro-units.

    ``damping_pct``: integer percentage (85 = the classic 0.85). The
    per-node base term is ``(100 - damping_pct) · INIT_US DIV 100``.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be 0..100, got {damping_pct}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e, _own_e = local_checkpoint_owned(
        edges.select("src", "dst").distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes, _own_n = local_checkpoint_owned(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    base = (100 - damping_pct) * INIT_US // 100
    pr = nodes.withColumn("pr", F.lit(INIT_US).cast("long"))
    _owned: set[int] | None = None
    for _ in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("id", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pr DIV deg").alias("c"),
            )
        )
        summed = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(summed, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(s, 0)) DIV 100"
                    )
                ).cast("long").alias("pr"),
            )
        )
        # rotate: release the previous round's checkpoint blocks
        pr, _owned = rotate_local_checkpoint(pr, _owned)
    # the final pr is materialized; the inputs are no longer read
    _release(pr, (_own_e or set()) | (_own_n or set()))
    return pr.select("id", F.col("pr").alias("pr_us"))


def vertex_degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex of an oriented edge list
    (columns ``a``, ``b`` with a < b, distinct): one union + keyed
    count. This is also the drop-REPORT side of the triangle hub
    guard — ``vertex_degrees(e).filter(F.col("degree") > cap)`` is
    exactly the set :func:`triangle_counts` excludes, so a pipeline
    can persist/alert on what was capped instead of losing it
    silently."""
    return (
        edges.select(F.col("a").alias("vertex"))
        .unionAll(edges.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("degree"))
    )


#: The one selector of the adjacency join strategy in
#: :func:`_oriented_intersections`: broadcast when |E| (== total out-neighbor
#: array elements under the degree orientation) is at most this many.
#: 8M edges ≈ 64 MB of array longs + |V| row overhead — comfortably
#: inside executor/driver budgets at any cluster size, and ~7× the
#: sf0.1 co-purchase graph so the measured fast path still fires
#: locally. Above it the plan falls back to shuffled-hash joins.
BROADCAST_EDGE_LIMIT = 8_000_000


def _drop_hubs(edges: DataFrame, max_degree: int | None) -> DataFrame:
    """The triangle-family hub cap: drop every edge touching a vertex
    of degree > ``max_degree`` (``None`` keeps all edges)."""
    if max_degree is None:
        return edges
    if max_degree < 2:
        raise ValueError(
            f"max_degree must be >= 2 (got {max_degree}); a "
            "degree-1 vertex can never close a triangle, so "
            "capping below 2 silently empties the result"
        )
    hubs = (
        vertex_degrees(edges)
        .filter(F.col("degree") > max_degree)
        .select("vertex")
    )
    return edges.join(
        hubs.withColumnRenamed("vertex", "a"), "a", "left_anti"
    ).join(hubs.withColumnRenamed("vertex", "b"), "b", "left_anti")


def _oriented_intersections(
    edges: DataFrame,
    max_degree: int | None,
    owned_out: list[int] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of :func:`triangle_counts` and
    :func:`edge_neighborhood_scores`: hub-cap → degree-ordered
    orientation → out-adjacency arrays → per-base-edge common
    out-neighbor intersection. Returns ``(capped_edges, degrees,
    per_edge)`` where ``per_edge`` is ``(u, v, _ws)`` for every
    oriented edge whose endpoints share ≥1 common out-neighbor — each
    triangle {x ≺ y ≺ z} appears exactly once, at base edge (x, y)
    with z ∈ ``_ws``. See :func:`triangle_counts` for the scale
    contract (array width ≤ √(2|E|); broadcast vs shuffled-hash joins,
    chosen by |E| against :data:`BROADCAST_EDGE_LIMIT`)."""
    edges = _drop_hubs(edges, max_degree)
    # two consumers (degree count + orientation join) → materialize.
    # The blocks are read by the RETURNED plans, so they cannot be
    # released here; loop callers (ktruss) pass ``owned_out`` and
    # release each round's generation once its successor is
    # materialized — one-shot callers (gr03/gr04) leave them pinned
    # for the session, the same accepted cost as their final result.
    # |E| for the broadcast gate rides the checkpoint materialization
    # as an observe metric — no separate count job.
    obs_e = Observation()
    e, _own_e = local_checkpoint_owned(
        edges.select("a", "b").observe(
            obs_e, F.count(F.lit(1)).alias("_n")
        )
    )
    # |E| == total out-array elements, exactly the thing being shipped
    broadcast = obs_e.get["_n"] <= BROADCAST_EDGE_LIMIT
    deg = vertex_degrees(e)

    def _attach_deg(df: DataFrame, side: str) -> DataFrame:
        d = deg.select(
            F.col("vertex").alias(side), F.col("degree").alias(f"_d{side}")
        )
        d = F.broadcast(d) if broadcast else d.hint("SHUFFLE_HASH")
        return df.join(d, side)

    # orient low-(degree, id) → high; a < b already, so ties keep a→b
    oriented = (
        _attach_deg(_attach_deg(e, "a"), "b")
        .select(
            F.when(F.col("_db") < F.col("_da"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("u"),
            F.when(F.col("_db") < F.col("_da"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("v"),
        )
    )
    # consumers: adj build + stream
    oriented, _own_o = local_checkpoint_owned(oriented)
    if owned_out is not None:
        owned_out.extend(_own_e)
        owned_out.extend(_own_o)
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))

    def _probe(side: str, out: str) -> DataFrame:
        a = adj.select(F.col("u").alias(side), F.col("nbrs").alias(out))
        return F.broadcast(a) if broadcast else a.hint("SHUFFLE_HASH")

    per_edge = (
        oriented.join(_probe("u", "_nu"), "u")
        .join(_probe("v", "_nv"), "v")
        .select("u", "v", F.array_intersect("_nu", "_nv").alias("_ws"))
        .filter(F.size("_ws") > 0)
    )
    return e, deg, per_edge


def triangle_counts(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Per-vertex triangle counts over an oriented edge list
    (columns ``a``, ``b``, a < b, distinct) → ``(part, n_triangles)``
    for every vertex in ≥1 triangle.

    Formulation: DEGREE-ORDERED per-edge common-neighbor intersection
    (the Latapy / "forward" algorithm, standard in distributed
    triangle counting). Orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one; build OUT-neighbor
    adjacency arrays (one groupBy); join each oriented edge (u, v) to
    both endpoints' out-arrays and score
    ``ws = N⁺(u) ∩ N⁺(v)`` with the codegen ``array_intersect``.
    Each triangle {x ≺ y ≺ z} is found exactly once — at its base
    edge (x, y) with z in the intersection — so the per-vertex count
    is exact without any ÷2: the base endpoints each gain |ws| and
    every w ∈ ws gains 1.

    Degree ordering bounds every out-array STRUCTURALLY at √(2|E|)
    elements — an out-degree of d implies d neighbors of degree ≥ d,
    so d² ≤ 2|E| — and the total intersect work at
    Σ_{(u,v)∈E} min(deg u, deg v) ≤ O(|E|^1.5), the arboricity bound.

    The join strategy is chosen by size alone: the adjacency table
    broadcasts while |E| ≤ :data:`BROADCAST_EDGE_LIMIT` (both probes
    then run in one codegen stage and the arrays never serialize —
    measured 6 s vs 22 s at sf0.1 against a sort-merge plan). Beyond
    the gate both probes take a ``SHUFFLE_HASH`` hint: the adjacency
    side builds a hash map per partition and the edge stream
    hash-partitions WITHOUT sorting, so the array-carrying rows are
    never buffered through a sort. Nothing in the scale path is
    bounded by driver or single-executor memory.

    ``max_degree`` remains the hub SEMANTICS guard: vertices whose
    total degree exceeds the cap are dropped up front, bounding the
    quadratic intersect work at the capped-graph arboricity no matter
    how degenerate the graph (one celebrity SKU with degree 10⁶ alone
    costs 10¹² wedge-equivalents). Dropped hubs lose their triangle
    counts AND their neighbors lose triangles through them —
    deterministic, SQL-expressible semantics (the gr03 oracle
    replicates the cap), and the hub set is reportable via
    :func:`vertex_degrees`."""
    e, _deg, per_edge = _oriented_intersections(edges, max_degree)
    # HOF-free attribution (higher-order lambdas run interpreted):
    # explode the intersection into one row per TRIANGLE (u, v, w),
    # then explode the plain 3-element vertex array — two codegen
    # Generates, each triangle contributes exactly +1 to each corner,
    # and the map-side partial count collapses the rows before the
    # single exchange.
    tri = per_edge.select("u", "v", F.explode("_ws").alias("w"))
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def edge_neighborhood_scores(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Per-EDGE neighborhood similarity over an oriented edge list
    (columns ``a``, ``b``, a < b, distinct) → ``(a, b, common,
    jaccard)`` for every edge: ``common = |N(a) ∩ N(b)|`` (the edge's
    embeddedness — how many triangles contain it) and ``jaccard =
    common / |N(a) ∪ N(b)|`` with ``|N(a) ∪ N(b)| = deg(a) + deg(b) −
    common`` (≥ 2 always: each endpoint is in the other's
    neighborhood, so the division is safe). This is the
    common-neighbors / Jaccard link score of the link-prediction and
    community-detection literature, scored on existing edges — tie
    strength for edge-pruning and cluster seeding.

    Shares :func:`triangle_counts`'s degree-ordered machinery (same
    √(2|E|) array bound, same size-gated broadcast / shuffled-hash
    strategy) and counts common neighbors through
    :func:`_edge_common_counts`. Edges in no triangle report
    common = 0 via the left join back to the edge list.
    ``max_degree`` is the same hub-cap semantics as gr03 (dropped
    hubs vanish from edges, degrees, and neighborhoods alike)."""
    e, deg, per_edge = _oriented_intersections(edges, max_degree)
    cn = _edge_common_counts(per_edge)
    da = deg.select(F.col("vertex").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("vertex").alias("b"), F.col("degree").alias("_db"))
    return (
        e.join(cn, ["a", "b"], "left")
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.coalesce("common", F.lit(0)).cast("long").alias("common"),
            F.round(
                F.coalesce("common", F.lit(0))
                / (
                    F.col("_da") + F.col("_db")
                    - F.coalesce("common", F.lit(0))
                ),
                6,
            ).alias("jaccard"),
        )
    )


def _edge_common_counts(per_edge: DataFrame) -> DataFrame:
    """``(a, b, common)`` for every edge in ≥ 1 triangle, from the
    once-per-triangle base-edge stream of
    :func:`_oriented_intersections`: each triangle {x ≺ y ≺ z} found
    at base edge (u, v) with z ∈ ``_ws`` contributes +1 to all THREE
    of its edges — the base edge gains |ws| and the two (endpoint, w)
    edges gain 1 — so common-neighbor counts come from the bounded
    out-arrays without ever joining full undirected neighborhoods.
    Shared by :func:`edge_neighborhood_scores` (gr04) and
    :func:`edge_support` (the k-truss peel primitive)."""
    def _key(x, y):  # canonical (a, b) = (min, max) edge key
        return F.struct(
            F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
        )

    # HOF-free (higher-order lambdas run interpreted): one row per
    # TRIANGLE via a codegen explode, then each triangle contributes
    # +1 to its three edges through a plain 3-struct array.
    tri = per_edge.select("u", "v", F.explode("_ws").alias("w"))
    contrib = tri.select(
        F.explode(
            F.array(
                _key(F.col("u"), F.col("v")),
                _key(F.col("u"), F.col("w")),
                _key(F.col("v"), F.col("w")),
            )
        ).alias("_c")
    )
    return (
        contrib.select("_c.a", "_c.b")
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common"))
    )


def edge_support(
    edges: DataFrame,
    max_degree: int | None = None,
    owned_out: list[int] | None = None,
) -> DataFrame:
    """Triangle SUPPORT per edge over an oriented edge list (columns
    ``a``, ``b``, a < b, distinct) → ``(a, b, support)`` for EVERY
    edge — how many triangles contain it, 0 for edges in none (the
    left join back to the edge list). This is the peel primitive of
    :func:`ktruss`; it rides the same degree-ordered machinery as
    :func:`triangle_counts` (√(2|E|) array bound, size-gated
    broadcast vs shuffled-hash, hub-cap semantics), and the same
    once-per-triangle attribution as :func:`edge_neighborhood_scores`
    minus the degree arithmetic. ``owned_out`` forwards to
    :func:`_oriented_intersections` so loop callers can release the
    two internal checkpoints each round."""
    e, _deg, per_edge = _oriented_intersections(edges, max_degree, owned_out)
    cn = _edge_common_counts(per_edge)
    return e.join(cn, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("common", F.lit(0)).cast("long").alias("support"),
    )


def ktruss(
    edges: DataFrame,
    k: int,
    rounds: int,
    max_degree: int | None = None,
) -> DataFrame:
    """k-truss decomposition by support peeling (Cohen 2008, the
    standard community-core refinement of k-core: every edge of the
    k-truss lies in ≥ k−2 triangles WITHIN the truss, so each
    surviving tie is socially reinforced by k−2 mutual contacts):
    repeatedly compute per-edge triangle support and drop every edge
    whose support is < k−2. Input is an oriented undirected edge list
    (columns ``a``, ``b``, a < b; deduplicated here). Returns ``(a,
    b, support)`` — the surviving edges with their support INSIDE the
    surviving edge set.

    Runs at most ``rounds`` peel rounds — well-defined whether or not
    the fixpoint has been reached, so an unrolled-SQL oracle states
    the result exactly, and when ``rounds`` ≥ the data's peel depth
    it IS the k-truss (``len(edges) + 1`` is always enough: every
    non-terminal round removes ≥ 1 edge). Rounds after the fixpoint
    are skipped: the peel only removes edges, so an unchanged edge
    count makes every remaining round a no-op and the result equals
    the full sweep bit for bit. The edge counts ride the input and
    per-round checkpoints as ``observe`` metrics — no count jobs.
    The round that reaches the fixpoint kept every edge, so its
    supports are returned as they stand; only a budget spent before
    the fixpoint costs a final scoring pass.

    Scale shape: each round is one :func:`edge_support` pass over a
    SHRINKING edge set — the degree-ordered intersection bounds the
    round at O(|E|^1.5) work with √(2|E|)-bounded arrays, and the
    peel depth is single digits on real co-purchase data, so the
    decomposition is R bounded shuffle rounds with per-round rotating
    checkpoints (no lineage growth, ≤ 1 superseded generation pinned
    at a time). ``max_degree`` is the gr03 hub-cap semantics, applied
    ONCE to the input (dropped hubs vanish from the graph before the
    first peel; the oracle replicates the cap)."""
    if k < 3:
        raise ValueError(
            f"k must be >= 3 (got {k}): a 2-truss is the whole graph "
            "(support >= 0 always holds), so smaller k silently "
            "degenerates to a no-op"
        )
    min_support = k - 2
    e = _drop_hubs(edges.select("a", "b").distinct(), max_degree)
    obs0 = Observation()
    e, _owned = local_checkpoint_owned(
        e.observe(obs0, F.count(F.lit(1)).alias("_n"))
    )
    n_prev = obs0.get["_n"]
    for _ in range(rounds):
        _own_round: list[int] = []
        sup = edge_support(e.select("a", "b"), None, _own_round)
        obs = Observation()
        e, _owned = rotate_local_checkpoint(
            sup.filter(F.col("support") >= min_support)
            .observe(obs, F.count(F.lit(1)).alias("_n")),
            _owned,
        )
        # the new edge set is materialized; this round's internal
        # checkpoints (oriented edges + input copy) are no longer read
        _release(e, set(_own_round))
        n_new = obs.get["_n"]
        if n_new == n_prev:
            # fixpoint: the round kept every edge, so its supports are
            # the supports inside the truss; the final generation stays
            # pinned — the returned DataFrame reads it
            return e
        n_prev = n_new
    # budget spent before the fixpoint: score the survivors within the
    # last edge set; the final generation and this pass's internal
    # checkpoints stay pinned (the kcore/gr03 discipline)
    return edge_support(e.select("a", "b"))


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983 /
    Batagelj–Zaveršnik, the degeneracy workhorse behind community
    cores, fraud-ring triage, and graph sparsification): repeatedly
    drop every vertex whose current degree is < ``k``. Input is an
    oriented undirected edge list (columns ``a``, ``b``, a < b;
    deduplicated here). Returns ``(vertex, core_degree)`` — the
    surviving vertices with their degree inside the surviving edge
    set.

    Runs at most ``rounds`` peels — well-defined whether or not the
    fixpoint was reached, so an unrolled-SQL oracle states the result
    exactly, and when ``rounds`` ≥ the data's peel depth it IS the
    k-core (``|V| + 1`` is always enough: every non-terminal peel
    removes ≥ 1 vertex). Peels after the fixpoint are skipped: the
    peel is monotone (edges only leave), so an unchanged edge count
    makes every remaining round a no-op and the result equals the
    full sweep bit for bit. The edge counts ride the input and
    per-round checkpoints as ``observe`` metrics — no count jobs.

    Distributed shape: each round is one union-degree aggregation
    plus two semi-joins on the vertex key — all hash-partitioned on
    vertex/edge keys, linear in |E|, no adjacency arrays, nothing
    broadcast, nothing quadratic (peeling needs no neighbor
    intersection, unlike gr03). Per-round ``localCheckpoint`` keeps
    lineage flat so round N never replays rounds 1..N-1 — at 100 TB
    the work is R bounded shuffles of a shrinking edge set.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    obs0 = Observation()
    e, _owned = local_checkpoint_owned(
        edges.select("a", "b")
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("_n"))
    )
    n_prev = obs0.get["_n"]
    for _ in range(rounds):
        deg = vertex_degrees(e)
        keep = deg.filter(F.col("degree") >= k).select("vertex")
        obs = Observation()
        e, _owned = rotate_local_checkpoint(
            e.join(
                keep.withColumnRenamed("vertex", "a"), "a", "left_semi"
            )
            .join(
                keep.withColumnRenamed("vertex", "b"), "b", "left_semi"
            )
            .observe(obs, F.count(F.lit(1)).alias("_n")),
            _owned,
        )
        n_new = obs.get["_n"]
        if n_new == n_prev:
            break  # fixpoint: no edge left this round, none ever will
        n_prev = n_new
    return vertex_degrees(e).select(
        "vertex", F.col("degree").cast("long").alias("core_degree")
    )


def bfs_distances(
    edges: DataFrame, sources: DataFrame, rounds: int
) -> DataFrame:
    """Multi-source BFS hop distances — "distance to the nearest
    seed", the level-synchronous frontier expansion behind
    reachability, influence radius, and distance-to-POI features.
    ``edges`` is an oriented undirected edge list (``a``, ``b``;
    symmetrized here), ``sources`` a DataFrame with a ``vertex``
    column. Returns ``(vertex, hops)`` for every vertex reached —
    unreached vertices are absent, not NULL-padded.

    Expands at most ``rounds`` levels — well-defined at any budget,
    equal to the fixpoint once ``rounds`` ≥ the seeds' eccentricity
    (``|V| + 1`` is always enough: every continuing level reaches
    ≥ 1 new vertex), and exactly what an unrolled-SQL oracle states.
    Levels after frontier exhaustion are skipped: an empty frontier
    makes every remaining level a no-op, so the result is
    bit-identical. The frontier size rides each level's checkpoint as
    an ``observe`` metric — no count jobs.

    Distributed shape: each level is ONE frontier→edges equi-join +
    distinct + ONE anti-join against the visited set — all
    hash-partitioned on the vertex key, linear in the touched edges
    per level (never |V|·|E|); per-round ``localCheckpoint`` keeps
    lineage flat. Level-synchronous BFS is the standard scale
    formulation (Pregel/GraphX do exactly this); hop counts are
    integers, so results are bit-identical at any parallelism.
    """
    sym, _own_sym = local_checkpoint_owned(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        .distinct()
    )
    dist, _owned_d = local_checkpoint_owned(
        sources.select("vertex")
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )
    frontier = dist.select("vertex")
    _owned_f: set[int] | None = None
    for r in range(1, rounds + 1):
        obs = Observation()
        nxt, _owned_f = rotate_local_checkpoint(
            sym.join(
                frontier.withColumnRenamed("vertex", "u"), "u"
            )
            .select(F.col("v").alias("vertex"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("_n")),
            _owned_f,
        )
        if not obs.get["_n"]:
            break  # frontier exhausted: the remaining levels are no-ops
        dist, _owned_d = rotate_local_checkpoint(
            dist.unionByName(
                nxt.withColumn("hops", F.lit(r).cast("long"))
            ),
            _owned_d,
        )
        frontier = nxt
    # dist is materialized; the graph and the last frontier are no
    # longer read by the returned result
    _release(dist, (_own_sym or set()) | (_owned_f or set()))
    return dist


def sssp(edges: DataFrame, sources: DataFrame, rounds: int) -> DataFrame:
    """Weighted multi-source single-source shortest paths by
    level-synchronous Bellman-Ford relaxation — :func:`bfs_distances`
    with an integer edge cost in place of the unit hop. ``edges`` is
    an oriented undirected edge list (``a``, ``b``, ``weight`` —
    positive integers, validated loudly: a non-positive weight breaks
    Bellman-Ford's termination bound); ``sources`` a DataFrame with a
    ``vertex`` column. Returns ``(vertex, dist)`` — the minimum total
    weight to the nearest seed — for every vertex reached; unreached
    vertices are absent, never NULL-padded. Parallel edges keep their
    cheapest weight (min on symmetrize).

    Relaxes at most ``rounds`` times — well-defined at any budget,
    equal to the fixpoint once ``rounds`` ≥ the hop depth of the
    shortest-path forest (which can exceed the BFS eccentricity: a
    cheaper path may use more hops; ``|V| + 1`` is always enough under
    positive weights), and exactly what the unrolled-SQL oracle
    states. Rounds past the fixpoint are skipped: min-plus relaxation
    is idempotent there, so the result equals the full sweep bit for
    bit. The improved-count rides each round's checkpoint as an
    ``observe`` metric — no count jobs.

    Distributed shape: each round is ONE frontier→edges equi-join +
    ONE min-groupBy on the vertex key — linear in touched edges, all
    hash-partitioned on vertex, never |V|·|E| (the relaxation is
    against the FULL dist table, so a round is a self-contained
    min-plus step; no visited-set anti-join is needed because min()
    is idempotent on already-final distances). Per-round rotating
    ``localCheckpoint`` keeps lineage flat and storage bounded."""
    # materialize the (possibly expensive) edge derivation ONCE: the
    # validation scan and the symmetrize both read this checkpoint,
    # not two executions of the caller's plan
    e0, _own_e = local_checkpoint_owned(
        edges.select("a", "b", "weight")
    )
    if (
        e0.filter(
            F.col("weight").isNull()
            | (F.col("weight") <= 0)
            # a fractional weight would be silently truncated by the
            # long cast below — reject it with the same loudness
            | (F.col("weight") != F.col("weight").cast("long"))
        ).limit(1).count()
    ):
        _release(e0, _own_e)
        raise ValueError(
            "sssp requires positive non-NULL integer weights: a "
            "non-positive weight voids Bellman-Ford's termination "
            "bound, and a fractional one would be silently truncated"
        )
    sym, _own_sym = local_checkpoint_owned(
        e0.select(
            F.col("a").alias("u"), F.col("b").alias("v"), "weight"
        )
        .unionAll(
            e0.select(
                F.col("b").alias("u"), F.col("a").alias("v"), "weight"
            )
        )
        .groupBy("u", "v")
        .agg(F.min("weight").cast("long").alias("w"))
    )
    _release(sym, _own_e)  # superseded by the symmetrized checkpoint
    dist, _own_d = local_checkpoint_owned(
        sources.select("vertex")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(rounds):
        relaxed = sym.join(
            dist.withColumnRenamed("vertex", "u"), "u"
        ).select(
            F.col("v").alias("vertex"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        # tag the self rows so the min-aggregate also yields the
        # PREVIOUS distance: a row improved iff it is new (_prev NULL)
        # or strictly closer (distances only decrease)
        obs = Observation()
        nxt, _own_n = local_checkpoint_owned(
            dist.withColumn("_self", F.lit(True))
            .unionByName(relaxed.withColumn("_self", F.lit(False)))
            .groupBy("vertex")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_self"), F.col("dist"))).alias(
                    "_prev"
                ),
            )
            .observe(
                obs,
                F.sum(
                    (
                        F.col("_prev").isNull()
                        | (F.col("dist") < F.col("_prev"))
                    ).cast("long")
                ).alias("_improved"),
            )
            .select("vertex", "dist")
        )
        improved = obs.get["_improved"]
        _release(dist, _own_d)
        dist, _own_d = nxt, _own_n
        if not improved:
            break  # fixpoint: the remaining rounds are no-ops
    # dist is materialized; the graph is no longer read by the result
    _release(dist, _own_sym or set())
    return dist


def clustering_coefficients(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Local clustering coefficient per vertex — the triangle
    statistic communities are screened by: ``cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1))`` for every vertex with degree ≥ 2 (cc is
    undefined below that), 0.0 for triangle-free vertices. Returns
    ``(vertex, degree, n_triangles, clustering_coeff)``.

    Rides :func:`_oriented_intersections` unchanged — same degree-
    ordered √(2|E|) array bound, same size-gated broadcast /
    shuffled-hash strategy, same ``max_degree`` hub-drop semantics
    (degrees here are POST-cap degrees, so the ratio stays
    consistent with the triangles that survived the cap) — plus one
    left join of the per-vertex triangle credits back onto the
    degree table."""
    e, deg, per_edge = _oriented_intersections(edges, max_degree)
    # HOF-free contribution stream — see :func:`triangle_counts` (one
    # row per triangle, +1 per corner via a plain 3-array explode).
    tri_rows = per_edge.select("u", "v", F.explode("_ws").alias("w"))
    tri = (
        tri_rows.select(
            F.explode(F.array("u", "v", "w")).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "vertex", "left")
        .select(
            "vertex",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
                6,
            ).alias("clustering_coeff"),
        )
    )


# Largest symmetric edge set (both directions, deduplicated) whose
# hash-min rounds run on the driver. This is a driver-memory bound, not
# a speed crossover: on a random graph of average degree 4 (4 vCPUs,
# `local[4]`, rounds to the fixpoint, least CPU of 3 runs, CPU of the
# driver process and the JVM) the driver path won at every size
# measured, in wall / CPU seconds
#     edges     driver         distributed
#     100k      1.0 / 3.3      6.4 / 12.6
#     1M        2.7 / 6.7      23.5 / 69.1
#     4M        11.9 / 23.8    67.6 / 243.0
# while the driver's Python peak RSS grew from 149 MB to 214 MB at 1M
# edges and 429 MB at 4M (the JVM's peak was the same on both paths).
# d11's and gr08's graphs are below it at every testdata scale.
MAX_DRIVER_EDGES = 1_000_000


def _hash_min(
    edges: DataFrame, rounds: int
) -> tuple[DataFrame, set[int], bool]:
    """The hash-min round loop behind :func:`components_fixed` and
    ``functions.dedup.dedup_components``. ``edges``: columns ``a``,
    ``b`` (undirected; deduplicated here). Runs at most ``rounds``
    synchronous rounds — each vertex takes the minimum of its own and
    its neighbors' labels — and returns
    ``(labels, owned, reached_fixpoint)``: ``labels`` is
    ``(vertex, component)``, typed like the edge ids, ``owned`` the
    block ids of the checkpoint it reads (empty on the driver path),
    and ``reached_fixpoint`` is true only when a round inside the
    budget changed no label. Labels only ever decrease and a round is
    idempotent at the fixpoint, so stopping there gives the labels of
    running every round. Rounds needed = component diameter, NOT
    log |V|: hash-min moves the minimum one hop per round.

    The symmetric edges are checkpointed once; ``observe`` metrics on
    that checkpoint count them and their NULL ids at no extra job. An
    integer-id edge set of at most :data:`MAX_DRIVER_EDGES` edges with
    no NULL id is collected once over Arrow and its rounds run in
    NumPy (``np.minimum.at`` over the directed edges); labels are
    integers, so the result equals the distributed loop's exactly.
    Larger graphs run the distributed loop: per round ONE vertex-keyed
    equi-join (labels onto out-edges) and ONE groupBy-min on a rotated
    localCheckpoint, whose changed count rides that checkpoint as an
    ``observe`` metric, so the stop test costs no job."""
    seen = Observation()
    e, own_e = local_checkpoint_owned(
        edges.select("a", "b")
        .unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .observe(
            seen,
            F.count(F.lit(1)).alias("_edges"),
            F.count_if(F.col("a").isNull() | F.col("b").isNull()).alias(
                "_null_ids"
            ),
        )
    )
    size = seen.get
    id_type = e.schema["a"].dataType
    if (
        size["_edges"] <= MAX_DRIVER_EDGES
        and not size["_null_ids"]
        and isinstance(id_type, T.IntegralType)
    ):
        return _hash_min_driver(e, own_e, id_type, rounds)
    labels, owned = local_checkpoint_owned(
        e.select(F.col("a").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("component"))
    )
    reached_fixpoint = False
    for _ in range(rounds):
        neighbor = e.join(
            labels, e.a == labels.vertex
        ).select(F.col("b").alias("vertex"), "component")
        # tag the self row so the aggregate also yields the PREVIOUS
        # label; new < prev on any row == this round changed something
        # (labels only ever decrease). Every vertex has a self row, so
        # _prev is never NULL.
        merged = (
            labels.withColumn("_self", F.lit(True))
            .unionByName(neighbor.withColumn("_self", F.lit(False)))
            .groupBy("vertex")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_self"), F.col("component"))).alias(
                    "_prev"
                ),
            )
        )
        obs = Observation()
        labels, owned = rotate_local_checkpoint(
            merged.observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("_prev")).cast("long")
                ).alias("_changed"),
            ).select("vertex", "component"),
            owned,
        )
        if not obs.get["_changed"]:
            reached_fixpoint = True
            break
    # the final labels are materialized; the graph is no longer read
    _release(labels, own_e)
    return labels, owned, reached_fixpoint


def _hash_min_driver(
    e: DataFrame, own_e: set[int], id_type: T.DataType, rounds: int
) -> tuple[DataFrame, set[int], bool]:
    """:func:`_hash_min`'s rounds in NumPy on the checkpointed
    symmetric edges ``e``: one Arrow collect, no Spark job per round.
    Releases ``e``'s checkpoint; the labels come back as an Arrow-built
    frame that owns no checkpoint."""
    t = e.toArrow()
    _release(e, own_e)
    vertex, src = np.unique(t["a"].to_numpy(), return_inverse=True)
    dst = np.searchsorted(vertex, t["b"].to_numpy())
    labels = vertex.copy()
    reached_fixpoint = False
    for _ in range(rounds):
        new = labels.copy()
        np.minimum.at(new, dst, labels[src])
        if np.array_equal(new, labels):
            reached_fixpoint = True
            break
        labels = new
    schema = T.StructType(
        [T.StructField("vertex", id_type), T.StructField("component", id_type)]
    )
    arrow_type = t.schema.field("a").type
    out = pa.table(
        {
            "vertex": pa.array(vertex, arrow_type),
            "component": pa.array(labels, arrow_type),
        }
    )
    return e.sparkSession.createDataFrame(out, schema), set(), reached_fixpoint


def components_fixed(edges: DataFrame, rounds: int) -> DataFrame:
    """Connected components by hash-min label propagation with a
    budget of ``rounds`` rounds: the result equals running exactly
    ``rounds`` rounds, so an unrolled SQL oracle (gr08, v07) states it
    bit for bit whether or not the fixpoint falls inside the budget.
    The loop stops early at the fixpoint (see :func:`_hash_min`).

    ``edges``: columns ``a``, ``b`` (undirected; deduplicated here).
    Returns ``(vertex, component)`` with component = the minimum
    vertex id reachable within ``rounds`` hops."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    return _hash_min(edges, rounds)[0]


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007, the near-linear community baseline behind modularity
    seeding, spam-cluster triage, and catalog grouping): every vertex
    starts labeled with its own id and each round adopts the most
    frequent label among its neighbors' current labels PLUS its own —
    ties broken by the minimum label. The self-vote and the min
    tie-break make the update fully deterministic (classic LPA breaks
    ties randomly, which can never hash-match across engines) and damp
    the 2-cycle oscillation synchronous LPA is prone to on bipartite
    structures. Input is an undirected edge list (columns ``a``,
    ``b``; symmetrized and deduplicated here). Returns ``(vertex,
    community)`` — community = the round-``rounds`` label.

    Returns the label after ``rounds`` rounds — well-defined whether or
    not the fixpoint was reached, so an unrolled-SQL oracle states the
    result exactly. Rounds AFTER the fixpoint are SKIPPED (as in
    :func:`components_fixed`): the update is deterministic, so once a
    round changes no label every remaining round is the identity and
    the result is bit-identical to running all ``rounds``. Each
    vertex's own label rides the argmax aggregate, and the changed
    count is an ``observe`` metric on the round's checkpoint — no
    count action. A graph that oscillates (synchronous LPA's 2-cycles)
    runs the whole budget.

    Distributed shape: per round ONE vertex-keyed equi-join (labels
    onto out-edges) + ONE (vertex, label) count + ONE vertex-keyed
    deterministic argmax (min of a (-count, label) struct — partial
    aggregation applies, unlike a row_number window which would sort),
    all hash-partitioned on vertex/edge keys, linear in |E|; no
    adjacency arrays, nothing broadcast. Per-round ``localCheckpoint``
    keeps lineage flat — at 100 TB the work is R bounded shuffles of a
    fixed-size label table.
    """
    e = edges.select("a", "b")
    e, _own_e = local_checkpoint_owned(
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    labels, _owned = local_checkpoint_owned(
        e.select(F.col("a").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
    )
    for _ in range(rounds):
        neighbor = e.join(
            labels, e.a == labels.vertex
        ).select(F.col("b").alias("vertex"), "label", F.lit(False).alias("_self"))
        # self-vote + neighbor votes; the self tag carries the vertex's
        # current label through to the argmax (every vertex has one
        # self row, so _prev is never NULL)
        votes = (
            labels.withColumn("_self", F.lit(True))
            .unionByName(neighbor)
            .groupBy("vertex", "label")
            .agg(F.count(F.lit(1)).alias("cnt"), F.max("_self").alias("_self"))
        )
        best = votes.groupBy("vertex").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("label").alias("label"),
                )
            ).alias("_best"),
            F.max(F.when(F.col("_self"), F.col("label"))).alias("_prev"),
        )
        obs = Observation()
        labels, _owned = rotate_local_checkpoint(
            best.observe(
                obs,
                F.sum(
                    (F.col("_best.label") != F.col("_prev")).cast("long")
                ).alias("_changed"),
            ).select("vertex", F.col("_best.label").alias("label")),
            _owned,
        )
        if not obs.get["_changed"]:
            break  # fixpoint: the remaining rounds are identity
    # the final labels are materialized; the graph is no longer read
    _release(labels, _own_e)
    return labels.select("vertex", F.col("label").alias("community"))
