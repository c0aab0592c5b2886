"""Cosine nearest-neighbor search over embedding columns.

One scoring contract serves every vector search in the package
(LSH and PCA top-k here, :mod:`.ivf`, :mod:`.pq`, the v-family
registry queries): a candidate pair scores :func:`pair_cosine`, the
exact cosine from the two vectors and their per-row norms, rounded to
6 decimals and NULL when a norm is 0; a top-k search keeps
:func:`rank_topk`'s rows, ranked by (cosine desc, neighbor_id asc).
The searches differ only in how they generate candidate pairs.

The candidate generator here is **random-hyperplane LSH** (the 100 TB
path, Charikar 2002 / Indyk–Motwani 1998): T hash tables × p planes; a
vector's bucket in a table is the sign pattern of its projections onto
that table's planes. Neighbors collide in ≥1 table with probability
1 − (1 − (1 − θ/π)^p)^T. The planes are DETERMINISTIC literals
(seeded ±1 Rademacher components derived from md5 in Python at plan
build time), so results are reproducible and the whole pipeline
stays in JVM codegen — no Python UDFs, no randomness at runtime.
The candidate join is an equi-join on (table, bucket) — never an
all-pairs crossJoin of the corpus.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alternating_least_squares_spark.functions.width import spread_if_narrow


def _vec_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def vec_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_vec_double(a), _vec_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_vec_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _safe_ratio(num: Column, den: Column) -> Column:
    """num/den, NULL when den == 0. Spark 4's default ANSI mode makes
    /0 a runtime ERROR — one all-zero embedding would otherwise abort
    every scoring query that touches it (cosine of a zero vector is
    undefined; NULL sorts last under desc and fails >= filters, which
    is exactly the drop-it behavior a scorer wants)."""
    return F.when(den != 0, num / den)


def pair_cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The pair score of every vector search: cosine of vectors ``a``
    and ``b`` from their norms ``na``/``nb`` (:func:`vec_norm`, taken
    once per row, not once per candidate pair), rounded to 6 decimals,
    NULL when a norm is 0."""
    return F.round(_safe_ratio(vec_dot(a, b), na * nb), 6)


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best rows of ``scored`` (``query_id``,
    ``neighbor_id``, ``cosine``), with their ``rank``: cosine
    descending, NULL last, ties to the lowest neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def _normed_sides(
    queries: DataFrame, emb: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(query_id, _eq, _nq)`` and ``(neighbor_id, _en, _nn)``: each
    vector with its norm as a per-ROW scalar, so pair scoring is a
    single dot traversal instead of dot + two norm aggregates —
    interpreted HOF cost is per array element, and candidate pairs
    outnumber rows by orders of magnitude."""
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_eq"),
            vec_norm(F.col(vec_col)).alias("_nq"),
        ),
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_en"),
            vec_norm(F.col(vec_col)).alias("_nn"),
        ),
    )


def _score_sides(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine) of :func:`_normed_sides` pairs."""
    return cand.select(
        "query_id",
        "neighbor_id",
        pair_cosine(
            F.col("_eq"), F.col("_en"), F.col("_nq"), F.col("_nn")
        ).alias("cosine"),
    )


def rademacher_planes(
    n_tables: int, n_planes: int, dim: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic ±1 plane components: md5(seed:table:plane:dim)
    parity. Pure Python at plan-build time — the executors only ever
    see literal arrays."""
    out = []
    for t in range(n_tables):
        table = []
        for p in range(n_planes):
            comps = []
            for d in range(dim):
                h = hashlib.md5(f"{seed}:{t}:{p}:{d}".encode()).hexdigest()
                comps.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
            table.append(comps)
        out.append(table)
    return out


def with_lsh_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_tables: int = 3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Append (table, bucket) rows: one output row per input row per
    hash table. Narrow (generator) — no shuffle.

    Plan-size discipline: each Rademacher plane is +-1 per dimension,
    so a plane is BIT-PACKED into one long (bit d set -> +1). The
    whole plane family is n_tables x n_planes literal longs instead of
    n_tables x n_planes x dim literal doubles — the unpacked literal
    form made the expression tree large enough that whole-stage
    codegen compile dominated cold runs. A projection is then one
    aggregate pass adding +-x_d by bit test (also one HOF pass per
    plane instead of zip_with + aggregate = two).

    Evaluation shape: the double-cast vector lands in a materialized
    ``_ed`` column and the projections in a materialized ``_projs``
    column; each is referenced many times downstream, which is what
    stops Catalyst's CollapseProject from inlining the O(dim)
    aggregates into per-element lambdas (that inlining is quadratic).
    """
    planes = rademacher_planes(n_tables, n_planes, dim, seed)
    if dim <= 64:
        words = []
        for t in range(n_tables):
            for p in range(n_planes):
                w = 0
                for d, comp in enumerate(planes[t][p]):
                    if comp > 0:
                        w |= 1 << d
                if w >= 1 << 63:
                    w -= 1 << 64
                words.append(w)
        planes_lit = F.array(*[F.lit(w) for w in words])
        # try_element_at + coalesce: a vector shorter than dim reads
        # as zero-padded (matching the zip_with fallback below) instead
        # of throwing INVALID_ARRAY_INDEX under Spark 4's ANSI mode
        elem = lambda d: F.coalesce(  # noqa: E731
            F.try_element_at(F.col("_ed"), (d + 1).cast("integer")),
            F.lit(0.0),
        )
        projs = F.transform(
            planes_lit,
            lambda w: F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0.0),
                lambda acc, d: acc
                + F.when(F.getbit(w, d) == 1, elem(d)).otherwise(-elem(d)),
            ),
        )
    else:
        # beyond 64 dims a plane no longer fits one long; fall back to
        # literal sign arrays + zip_with (bigger expression tree, same
        # math; zip_with null-pads short vectors — coalesce keeps the
        # zero-padding contract)
        planes_lit = F.array(
            *[
                F.lit(planes[t][p])
                for t in range(n_tables)
                for p in range(n_planes)
            ]
        )
        projs = F.transform(
            planes_lit,
            lambda pl: F.aggregate(
                F.zip_with(
                    # zip_with pads the SHORTER side with NULL: a short
                    # vector pads x (→ zero-pad), a LONG vector pads the
                    # plane s (coalesce keeps the ≤64-dim path's
                    # ignore-extra-dims contract instead of a NULL bucket
                    # that silently drops the row from every bucket join)
                    pl,
                    F.col("_ed"),
                    lambda s, x: F.coalesce(s, F.lit(0.0))
                    * F.coalesce(x, F.lit(0.0)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    tables = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.cast("integer").alias("table"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.when(
                    F.element_at(
                        F.col("_projs"),
                        (t * F.lit(n_planes) + i + 1).cast("integer"),
                    )
                    >= 0,
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ).alias("bucket"),
        ),
    )
    return (
        emb.withColumn("_ed", _vec_double(F.col(vec_col)))
        .select("*", projs.alias("_projs"))
        .select("*", F.explode(tables).alias("_tb"))
        .select(
            "*",
            F.col("_tb.table").alias("table"),
            F.col("_tb.bucket").alias("bucket"),
        )
        .drop("_tb", "_ed", "_projs")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any table,
    scored with exact cosine, ranked per query. Plan: two narrow
    bucket passes + one equi-join on (table, bucket) + window top-k.
    No corpus×corpus crossJoin anywhere.

    Tuning: collision prob per table is (1 − θ/π)^n_planes. SHALLOW
    buckets (few planes, more tables — the defaults) for generic
    top-k where the best neighbor may only be moderately similar;
    DEEP buckets (more planes) only when hunting near-duplicates —
    that is what :func:`embedding_near_dup_pairs` uses. Measured on
    the sf0.001 testdata (weakly-similar random-ish vectors):
    recall@1 = 9/10 at p=2/t=6, 7/10 at p=3/t=4, 1/10 at p=6/t=3."""
    q, corpus = _normed_sides(queries, emb, id_col, vec_col)
    qb = with_lsh_buckets(q, "_eq", n_tables, n_planes, dim, seed)
    cb = with_lsh_buckets(
        spread_if_narrow(corpus), "_en", n_tables, n_planes, dim, seed
    )
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_eq", "_en", "_nq", "_nn")
        .distinct()
    )
    return rank_topk(_score_sides(cand), k)


def pca_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_components: int = 16,
    exhaustive: bool = False,
    n_tables: int = 8,
    n_planes: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Dimensionality-reduced cosine top-k: MLlib PCA projects the
    corpus and the queries into ``n_components`` dims, then top-k runs
    in the reduced space — the per-pair dot cost drops
    dim/n_components× (64→16 = 4×) at a small recall cost.

    By default the reduced vectors go to :func:`lsh_topk` with
    ``dim=n_components`` (shallow buckets: few planes, many tables —
    the generic top-k tuning), so the default path is a bucket
    equi-join and never Q×N, even if a caller hands the whole corpus
    as the query set. ``exhaustive=True`` opts into the
    crossJoin rerank — exact in the reduced space, affordable only for
    explicit bounded query sets.

    Scale posture: ``PCA.fit`` reduces to a d×d Gramian (d = original
    dim, 64 here) built in one distributed pass — independent of row
    count, so fitting is cheap even at 100 TB (or fit on a sample);
    bucketing the reduced vectors makes the plane projections
    n_components-wide too, so candidate generation is cheaper than
    LSH on the raw vectors.
    Rows-only check: eigenvector sign/rotation is
    implementation-defined, so scores are not oracle-comparable."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    def features(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            array_to_vector(_vec_double(F.col(vec_col))).alias("_f"),
        )

    corpus = features(emb)
    model = PCA(k=n_components, inputCol="_f", outputCol="_p").fit(corpus)

    def project(df: DataFrame) -> DataFrame:
        return model.transform(df).select(
            id_col, vector_to_array(F.col("_p")).alias(vec_col)
        )

    red_c, red_q = project(corpus), project(features(queries))
    if not exhaustive:
        return lsh_topk(
            red_c, red_q, id_col, vec_col, k, n_tables, n_planes,
            n_components, seed,
        )
    q, c = _normed_sides(red_q, red_c, id_col, vec_col)
    cand = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    return rank_topk(_score_sides(cand), k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 3,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup detection: LSH bucket collisions →
    exact cosine ≥ threshold, id_a < id_b. Same scalable join shape as
    the MinHash text dedup."""
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_e"),
        vec_norm(F.col(vec_col)).alias("_n"),
    )
    base = spread_if_narrow(base)
    b = with_lsh_buckets(base, "_e", n_tables, n_planes, dim, seed)
    pairs = (
        b.alias("a")
        .join(b.alias("b"), ["table", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._e").alias("_ea"),
            F.col("b._e").alias("_eb"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        pair_cosine(
            F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb")
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def int_vec_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two long-array columns — the
    verify primitive of :func:`exact_cosine_threshold_join`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def exact_cosine_threshold_join(
    vectors: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "vec_id",
    vec_col: str = "q",
    n_centroids: int = 16,
    max_train_rows: int = 100_000,
    owned_out: list[int] | None = None,
) -> DataFrame:
    """EXACT cosine-threshold self-join over INTEGER vectors with
    STRUCTURAL recall 1 — the missing rung between the probabilistic
    ANN ladder (s01/s03/s06: recall < 1 by design) and quadratic
    brute force: every pair with cosine ≥ t_num/t_den is returned,
    guaranteed by geometry rather than by hash luck, and nothing is
    float-trusted on the accept path.

    Returns ``(id_a, id_b, dot, na2, nb2)`` with id_a < id_b — the
    exact integer TERMS of the cosine (the q04/w09 emit-the-terms
    discipline: cosine = dot/√(na2·nb2) is the only inexact step and
    is left to the consumer), for every pair with
    ``dot > 0 ∧ dot²·t_den² ≥ t_num²·na2·nb2`` (the threshold compare
    cross-multiplied into exact DECIMAL(38,0) arithmetic — no sqrt,
    no float, boundary pairs at cosine == t included deterministically
    on both engines). Zero vectors are excluded (cosine undefined —
    they can never reach a positive threshold).

    Candidate generation is an angular multi-probe coarse quantizer
    with a COMPLETENESS guarantee (the d13 pigeonhole discipline, in
    metric form): centroids train driver-side on a bounded
    deterministic sample (the FAISS/pq.py recipe) and ride the plan
    as literals; each vector gets its primary cell (min angle, ties
    to lowest index) and PROBES every centroid within
    ``angle(x, c) ≤ angle(x, primary) + 2·arccos(t)``. Proof that a
    qualifying pair (x, y) always meets: with θ = angle(x, y) ≤
    arccos(t) and the angular triangle inequality,
    ``angle(y, c_y) ≤ angle(y, c_x) ≤ θ + angle(x, c_x)`` (c_y is y's
    minimum), so ``angle(x, c_y) ≤ θ + angle(y, c_y) ≤
    2·arccos(t) + angle(x, c_x)`` — x probes y's primary cell.
    Angles are computed in floats, but float slop (padded by 1e-9)
    can only ADD probe cells: completeness is structural, precision
    is owned by the exact integer verify, so no rounding anywhere can
    change the result.

    Scale shape: assignment/probing is per-row codegen over literal
    centroids (no centroid join in the plan); the candidate join is
    one cell-keyed equi-join of slim (cell, id) streams; vectors
    rejoin by id for the verify. Work scales with how well the
    centroids carve the corpus at the given threshold — the sweet
    spot is the high-threshold near-dup regime (t ≥ 0.9, probe cone
    ≤ ~52°); as t → 0 the probe cone widens toward all cells and the
    join honestly degrades toward quadratic, which is what an EXACT
    join at a loose threshold costs. Input magnitude contract: the
    integer dot/norm terms must fit a long (|x| ≤ int8-ish components
    at any dim ≤ a few thousand is fine); the threshold compare
    itself runs in DECIMAL(38,0) and cannot overflow.
    """
    import math

    from alternating_least_squares_spark.checkpoint import (
        local_checkpoint_owned,
    )
    from alternating_least_squares_spark.functions.pq import (
        train_coarse_centroids,
    )

    if not 0 < t_num < t_den:
        raise ValueError(
            f"threshold must satisfy 0 < t_num < t_den (got "
            f"{t_num}/{t_den}): cosine thresholds at or below 0 void "
            "the dot > 0 accept contract, and >= 1 is the exact-dup "
            "path"
        )
    qlong = F.transform(F.col(vec_col), lambda x: x.cast("long"))
    base = vectors.select(
        F.col(id_col).alias("_id"), qlong.alias("_q")
    ).withColumn("_n2", int_vec_dot(F.col("_q"), F.col("_q")))
    base = spread_if_narrow(base.filter(F.col("_n2") > 0))
    # three consumers (centroid sample, probe pass, two verify joins)
    base, _own = local_checkpoint_owned(base)
    if owned_out is not None:
        owned_out.extend(_own)
    cents = [
        c
        for c in train_coarse_centroids(
            base,
            "_q",
            n_centroids=n_centroids,
            id_col="_id",
            max_train_rows=max_train_rows,
        )
        if any(v != 0.0 for v in c)
    ]
    theta = math.acos(t_num / t_den)
    margin = 2.0 * theta + 1e-9

    lit_c = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in cents]
    )
    angles = F.transform(
        lit_c,
        lambda c: F.acos(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(-1.0),
                    vec_dot(F.col("_q"), c)
                    / (
                        F.sqrt(F.col("_n2").cast("double"))
                        * F.sqrt(vec_dot(c, c))
                    ),
                ),
            )
        ),
    )
    assigned = base.select(
        "_id", angles.alias("_ang")
    ).withColumn("_amin", F.array_min("_ang"))
    primary = assigned.select(
        "_id",
        (F.array_position(F.col("_ang"), F.col("_amin")) - 1)
        .cast("int")
        .alias("_cell"),
    )
    probes = assigned.select(
        "_id",
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("_ang"),
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda a, i: F.struct(
                        a.alias("d"), i.cast("int").alias("cell")
                    ),
                ),
                lambda s: s["d"] <= F.col("_amin") + F.lit(margin),
            )
        ).alias("_p"),
    ).select("_id", F.col("_p.cell").alias("_cell"))
    cand = (
        probes.alias("a")
        .join(primary.alias("b"), "_cell")
        .filter(F.col("a._id") != F.col("b._id"))
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
        .distinct()
    )
    left = base.select(
        F.col("_id").alias("id_a"),
        F.col("_q").alias("_qa"),
        F.col("_n2").alias("na2"),
    )
    right = base.select(
        F.col("_id").alias("id_b"),
        F.col("_q").alias("_qb"),
        F.col("_n2").alias("nb2"),
    )
    dot = int_vec_dot(F.col("_qa"), F.col("_qb"))
    dec = "decimal(38,0)"
    scored = (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .select("id_a", "id_b", dot.alias("dot"), "na2", "nb2")
    )
    keep = (F.col("dot") > 0) & (
        F.col("dot").cast(dec)
        * F.col("dot").cast(dec)
        * F.lit(t_den * t_den).cast(dec)
        >= F.lit(t_num * t_num).cast(dec)
        * F.col("na2").cast(dec)
        * F.col("nb2").cast(dec)
    )
    return scored.filter(keep).select("id_a", "id_b", "dot", "na2", "nb2")
