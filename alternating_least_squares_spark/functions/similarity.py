"""Cosine nearest-neighbor search over embedding columns.

One scoring contract serves every vector search in the package
(LSH and PCA top-k here, :mod:`.ivf`, :mod:`.pq`, the v-family
registry queries, :mod:`.semdedup`): a candidate pair scores
:func:`pair_cosine`, the exact cosine from the two vectors and their
per-row norms, rounded to 6 decimals and NULL when a norm is 0; a
top-k search keeps :func:`rank_topk`'s rows, ranked by (cosine desc,
neighbor_id asc). The searches differ only in how they generate
candidate pairs. :func:`seq_dot` and :func:`round6` spell the same
arithmetic in NumPy, bit for bit.

The candidate generator here is **random-hyperplane LSH** (the 100 TB
path, Charikar 2002 / Indyk–Motwani 1998): T hash tables × p planes; a
vector's bucket in a table is the sign pattern of its projections onto
that table's planes. Neighbors collide in ≥1 table with probability
1 − (1 − (1 − θ/π)^p)^T. The planes are DETERMINISTIC literals
(seeded ±1 Rademacher components derived from md5 in Python at plan
build time), so results are reproducible with no randomness at
runtime. The candidate join is an equi-join on (table, bucket) —
never an all-pairs crossJoin of the corpus.

:func:`lsh_topk` and :func:`embedding_near_dup_pairs` run on one of
two paths with the same rows:

* **driver**, when the input fits :data:`MAX_DRIVER_VECTORS` vectors
  of up to ``max(dim, 64)`` components with integer ids and at most
  :data:`MAX_DRIVER_PAIRS` bucket collisions: one bounded Arrow
  collect, then projections, buckets, candidate pairs, scores and the
  rank or threshold in NumPy (:func:`_lsh_search_driver`). The search
  runs when it is called and returns an Arrow-built frame of its rows.
  A small search's Spark plan spends its time in planning, codegen and
  scheduling, not in compute.
* **Spark**, otherwise: two narrow bucket passes in JVM codegen (no
  Python UDFs), the (table, bucket) equi-join, :func:`pair_cosine`
  and :func:`rank_topk` or the threshold filter, as a lazy plan. An
  input whose plan Spark estimates larger than the driver collect
  holds, or cannot estimate, goes here without running a job.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``Σ_k a[k]·b[k]`` over the FIRST axis, folded in ascending k as
    ``acc + a_k·b_k`` with one rounding per multiply and per add: the
    fold order of :func:`vec_dot`'s ``aggregate(zip_with(...))``, so
    the doubles are Spark's. ``a[k]`` and ``b[k]`` broadcast, so
    ``(d, n)`` against ``(d, n)`` gives n pair dots and ``(d, m, 1)``
    against ``(d, 1, n)`` an m × n block."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for k in range(a.shape[0]):
        acc += a[k] * b[k]
    return acc


def round6(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles: HALF_UP (away from zero) on
    the decimal of ``Double.toString(x)``, NaN and ±inf unchanged, and
    never a negative zero.

    sign·⌊|x|·1e6 + 0.5⌋/1e6 agrees with Spark except within a few ulps
    of a .5 boundary, where the binary product can land on the wrong
    side (0.0005045·1e6 = 504.49999999999994); those are re-rounded
    from the shortest repr, the string Spark's BigDecimal reads."""
    x = np.asarray(x, dtype=np.float64)
    s = np.abs(x) * 1e6
    with np.errstate(invalid="ignore"):
        out = np.sign(x) * np.floor(s + 0.5) / 1e6 + 0.0
        ties = np.flatnonzero(np.abs(s - np.floor(s) - 0.5) < 1e-6)
    for i in ties:
        out.flat[i] = float(
            Decimal(repr(float(x.flat[i]))).quantize(
                Decimal("1e-6"), ROUND_HALF_UP
            )
        )
    return out


def np_pair_cosine(
    dot: np.ndarray, na: np.ndarray, nb: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`pair_cosine` from :func:`seq_dot` dots and per-row norms:
    ``(cosine, defined)``, where ``defined`` is false where Spark's
    cosine is NULL (a zero norm product)."""
    den = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        return round6(dot / den), den != 0


# Largest number of vectors (query rows plus corpus rows) whose LSH
# search runs on the driver. This is a driver-memory bound, not a speed
# crossover. lsh_topk with 20 queries against a random corpus of dim 64
# (4 vCPUs, `local[4]`, a 1 GB driver heap, the default 4 tables x 3
# planes; CPU seconds of the driver process plus the JVM, least of 3
# runs, collect included; peak RSS of each process, Python's above the
# idle session's 139 MB):
#     vectors   driver CPU   Spark CPU   Python RSS   JVM RSS, driver / Spark
#     1k        1.0          3.3         +16 MB       501 / 745 MB
#     10k       1.5          6.5         +90 MB       642 / 1,085 MB
#     100k      3.0          31.4        +223 MB      1,150 / 1,551 MB
#     200k      5.1          60.4        +373 MB      1,647 / 1,632 MB
#     400k      out of heap  not run     -            -
#     1M        out of heap  395, 1 run  -            - / 1,905 MB
# The collect ends in one task that returns every vector as one result,
# so at 400k the 1 GB heap ran out; the gate sits 4x below that. It
# bounds components, not rows: a search collects at most
# MAX_DRIVER_VECTORS * 64 // max(dim, 64) rows, and a vector longer than
# max(dim, 64) components sends it to Spark. s01, s02 and s05 hold at
# most 2,100 vectors of 64 components at every testdata scale.
MAX_DRIVER_VECTORS = 100_000

# Largest number of (table, bucket) collisions, before deduplication,
# that the driver path scores: each costs ~60 bytes of index and score
# arrays. More collisions (a corpus-sized query set against shallow
# buckets) send the search to Spark after the collect.
MAX_DRIVER_PAIRS = 4_000_000

# Pairs per scoring block on the driver: two (dim x block) gathers.
_PAIR_BLOCK = 1 << 16


def _estimated_bytes(df: DataFrame) -> int:
    """Spark's size estimate of ``df``'s optimized plan: file bytes
    scaled by column widths for a scan, sums and products above it,
    and ``spark.sql.defaultSizeInBytes`` (Long.MaxValue) when a source,
    such as a frame built from a Python list, has no estimate. Planning
    only; no job runs."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _collect_vectors(
    sides: list[DataFrame], id_col: str, vec_col: str, dim: int
) -> pa.Table | None:
    """``(_side, _id, _v)`` of every row of ``sides`` (tagged 0, 1, …)
    in one bounded Arrow collect, the vectors cast to double element by
    element as :func:`_vec_double` casts them. The collect holds at
    most ``MAX_DRIVER_VECTORS * 64`` components: rows of up to ``width
    = max(dim, 64)`` components, each vector cut at ``width + 1``.

    None, with no job run, when an id is not an integer or Spark
    estimates the input larger than that bound (an unknown estimate
    counts as larger, as it does for a broadcast); None after the
    collect when there are more rows or a longer vector."""
    if not all(
        isinstance(df.schema[id_col].dataType, T.IntegralType)
        for df in sides
    ):
        return None
    width = max(dim, 64)
    gate = MAX_DRIVER_VECTORS * 64 // width
    tagged = reduce(
        DataFrame.unionByName,
        [
            df.select(
                F.lit(i).alias("_side"),
                F.col(id_col).cast("long").alias("_id"),
                F.slice(F.col(vec_col), 1, width + 1)
                .cast("array<double>")
                .alias("_v"),
            )
            for i, df in enumerate(sides)
        ],
    )
    if _estimated_bytes(tagged) > 8 * gate * width:
        return None
    t = tagged.limit(gate + 1).toArrow()
    longest = pc.max(pc.list_value_length(t["_v"])).as_py() or 0
    return t if t.num_rows <= gate and longest <= width else None


def _vector_matrix(
    v: pa.ChunkedArray, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``(X, lengths, vnull, enull)`` of a ``list<double>`` column:
    ``X`` is (max(width, longest), n), vector i zero-padded down column
    i with NULL elements read as 0; ``vnull`` marks a NULL vector and
    ``enull`` a vector holding a NULL element."""
    arr = v.combine_chunks()
    n = len(arr)
    vnull = arr.is_null().to_numpy(zero_copy_only=False)
    lengths = arr.value_lengths().fill_null(0).to_numpy().astype(np.int64)
    flat = arr.flatten()
    enull = np.zeros(n, dtype=bool)
    if flat.null_count:
        np.logical_or.at(
            enull,
            np.repeat(np.arange(n), lengths),
            flat.is_null().to_numpy(zero_copy_only=False),
        )
        flat = flat.fill_null(0.0)
    X = np.zeros((max(width, int(lengths.max(initial=0))), n))
    # a boolean mask fills in row-major order of the (n, width) view,
    # the order of the flattened lists
    X.T[np.arange(X.shape[0]) < lengths[:, None]] = flat.to_numpy()
    return X, lengths, vnull, enull


def _lsh_buckets_np(
    X: np.ndarray,
    vnull: np.ndarray,
    n_tables: int,
    n_planes: int,
    dim: int,
    seed: int,
) -> np.ndarray:
    """(n, n_tables) buckets of :func:`with_lsh_buckets` for the
    columns of :func:`_vector_matrix`'s ``X``: projections folded over
    d ascending as ``acc + (±x_d)``, then ``acc*2 + (proj >= 0)`` per
    plane, with Spark's NaN ≥ 0. Up to 64 dims only the first ``dim``
    components project (a NULL vector projects 0, all bits 1); past 64
    ``X`` holds ``dim`` rows, a shorter vector zero-padded as the
    literal-plane path pads it (a NULL vector projects NULL, all bits
    0)."""
    planes = np.array(rademacher_planes(n_tables, n_planes, dim, seed))
    S = planes.reshape(n_tables * n_planes, dim)
    if dim <= 64:
        X = X[:dim]
    proj = seq_dot(X[:, None, :], S.T[:, :, None])
    bits = (proj >= 0) | np.isnan(proj)
    if dim > 64:
        bits[:, vnull] = False
    buckets = np.zeros((n_tables, X.shape[1]), dtype=np.int64)
    for p in range(n_planes):
        buckets = buckets * 2 + bits[p::n_planes]
    return buckets.T


def _bucket_pairs(
    qb: np.ndarray, cb: np.ndarray
) -> tuple[np.ndarray, np.ndarray] | None:
    """Distinct (query row, corpus row) index pairs that share a bucket
    in some table; None past :data:`MAX_DRIVER_PAIRS` collisions."""
    per_table = []
    total = 0
    for t in range(qb.shape[1]):
        order = np.argsort(cb[:, t], kind="stable")
        sorted_cb = cb[order, t]
        lo = np.searchsorted(sorted_cb, qb[:, t], "left")
        cnt = np.searchsorted(sorted_cb, qb[:, t], "right") - lo
        total += int(cnt.sum())
        if total > MAX_DRIVER_PAIRS:
            return None
        qi = np.repeat(np.arange(len(qb)), cnt)
        offs = np.arange(len(qi)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        per_table.append(qi * len(cb) + order[np.repeat(lo, cnt) + offs])
    key = np.unique(np.concatenate(per_table, dtype=np.int64))
    return key // max(len(cb), 1), key % max(len(cb), 1)


def _distinct_rows(
    rows: np.ndarray, ids: np.ndarray, vectors: pa.ChunkedArray
) -> np.ndarray:
    """``rows`` less repeats of an equal (id, vector) row, as the Spark
    path's ``.distinct()`` over the candidate pairs collapses them:
    NULLs group together, as do NaNs and ±0.0. Only rows whose id
    repeats are compared."""
    ids_r = ids[rows]
    uniq, counts = np.unique(ids_r, return_counts=True)
    dup = np.isin(ids_r, uniq[counts > 1])
    if not dup.any():
        return rows

    def element(x: float | None) -> object:
        return x if x is None else "NaN" if x != x else x + 0.0

    seen, keep = set(), np.ones(len(rows), dtype=bool)
    for i in np.flatnonzero(dup):
        v = vectors[int(rows[i])].as_py()
        key = (int(ids_r[i]), v if v is None else tuple(map(element, v)))
        keep[i] = key not in seen
        seen.add(key)
    return rows[keep]


def _lsh_search_driver(
    t: pa.Table,
    k: int | None,
    threshold: float | None,
    n_tables: int,
    n_planes: int,
    dim: int,
    seed: int,
) -> pa.Table | None:
    """The driver path of :func:`lsh_topk` (``k``: rows tagged 0 are
    queries, 1 the corpus) and of :func:`embedding_near_dup_pairs`
    (``threshold``: one side, paired with itself, ``id_a < id_b``), on
    :func:`_collect_vectors`' table. Each step keeps the Spark path's
    order of operations, so the cosines are the same doubles: the
    (table, bucket) candidates, deduplicated per distinct (id, vector)
    row; :func:`seq_dot` and :func:`np_pair_cosine`, NULL where either
    vector is NULL, holds a NULL element or the lengths differ (Spark's
    zip_with pads with NULL); then ``rank_topk``'s order (cosine desc,
    NaN first as Spark orders it, NULL last, then neighbor_id) or
    ``cosine >= threshold`` (NaN passes, NULL fails). Returns the
    result's columns, or None past :data:`MAX_DRIVER_PAIRS`."""
    side = t["_side"].to_numpy()
    id_null = t["_id"].is_null().to_numpy(zero_copy_only=False)
    ids = t["_id"].fill_null(0).to_numpy()
    X, lengths, vnull, enull = _vector_matrix(t["_v"], dim)
    buckets = _lsh_buckets_np(X, vnull, n_tables, n_planes, dim, seed)

    # a NULL id fails both the != and the < pair filter
    def side_rows(tag: int) -> np.ndarray:
        return _distinct_rows(
            np.flatnonzero((side == tag) & ~id_null), ids, t["_v"]
        )

    q = side_rows(0)
    c = q if threshold is not None else side_rows(1)
    pairs = _bucket_pairs(buckets[q], buckets[c])
    if pairs is None:
        return None
    a, b = q[pairs[0]], c[pairs[1]]
    keep = ids[a] < ids[b] if threshold is not None else ids[a] != ids[b]
    a, b = a[keep], b[keep]
    norms = np.sqrt(seq_dot(X, X))
    cos = np.empty(len(a))
    defined = np.empty(len(a), dtype=bool)
    for i in range(0, len(a), _PAIR_BLOCK):
        ab, bb = a[i : i + _PAIR_BLOCK], b[i : i + _PAIR_BLOCK]
        # np.take keeps each gathered component row contiguous
        cos[i : i + len(ab)], defined[i : i + len(ab)] = np_pair_cosine(
            seq_dot(np.take(X, ab, axis=1), np.take(X, bb, axis=1)),
            norms[ab],
            norms[bb],
        )
    bad = vnull | enull
    defined &= ~bad[a] & ~bad[b] & (lengths[a] == lengths[b])
    if threshold is not None:
        keep = defined & ((cos >= threshold) | np.isnan(cos))
        return pa.table(
            {"id_a": ids[a[keep]], "id_b": ids[b[keep]], "cosine": cos[keep]}
        )
    # class 0 = NaN (Spark's largest double), 1 = a number, 2 = NULL
    cls = np.where(~defined, 2, np.where(np.isnan(cos), 0, 1))
    order = np.lexsort(
        (ids[b], np.where(cls == 1, -cos, 0.0), cls, ids[a])
    )
    qid = ids[a[order]]
    start = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]])
    rank = np.arange(len(qid)) + 1 - np.repeat(
        start, np.diff(np.r_[start, len(qid)])
    )
    top = order[rank <= k]
    return pa.table(
        {
            "query_id": ids[a[top]],
            "neighbor_id": ids[b[top]],
            "cosine": pa.array(cos[top], mask=~defined[top]),
            "rank": rank[rank <= k],
        }
    )


def _driver_search(
    sides: list[DataFrame],
    names: tuple[str, str],
    id_col: str,
    vec_col: str,
    k: int | None,
    threshold: float | None,
    n_tables: int,
    n_planes: int,
    dim: int,
    seed: int,
) -> DataFrame | None:
    """The driver path's rows of :func:`lsh_topk` (``sides`` = queries,
    corpus; ``k``) or :func:`embedding_near_dup_pairs` (``sides`` =
    the corpus; ``threshold``), run now, as an Arrow-built frame whose
    id columns ``names``, ``cosine`` and, for a top-k, ``rank`` have
    the Spark path's types and nullability. None when the search does
    not fit the driver."""
    t = _collect_vectors(sides, id_col, vec_col, dim)
    out = (
        None
        if t is None
        else _lsh_search_driver(t, k, threshold, n_tables, n_planes, dim, seed)
    )
    if out is None:
        return None
    # a self-join's two id columns both come from its one side
    fields = [
        T.StructField(name, f.dataType, f.nullable)
        for name, f in zip(names, (df.schema[id_col] for df in sides * 2))
    ] + [T.StructField("cosine", T.DoubleType())]
    if k is not None:
        fields.append(T.StructField("rank", T.LongType(), False))
    return sides[0].sparkSession.createDataFrame(out, T.StructType(fields))


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
    scored with exact cosine, ranked per query. No corpus×corpus
    crossJoin anywhere.

    A small search runs on the driver when called and returns its rows
    as a materialized frame (module docstring); a larger one returns
    the lazy Spark plan: two narrow bucket passes + one equi-join on
    (table, bucket) + window top-k. Both give the same rows.

    Tuning: collision prob per table is (1 − θ/π)^n_planes. SHALLOW
    buckets (few planes, more tables — the defaults) for generic
    top-k where the best neighbor may only be moderately similar;
    DEEP buckets (more planes) only when hunting near-duplicates —
    that is what :func:`embedding_near_dup_pairs` uses. Measured on
    the sf0.001 testdata (weakly-similar random-ish vectors):
    recall@1 = 9/10 at p=2/t=6, 7/10 at p=3/t=4, 1/10 at p=6/t=3."""
    found = _driver_search(
        [queries, emb], ("query_id", "neighbor_id"), id_col, vec_col,
        k, None, n_tables, n_planes, dim, seed,
    )
    if found is not None:
        return found
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
    the MinHash text dedup. A small input runs on the driver when
    called and returns its rows as a materialized frame (module
    docstring); a larger one returns the lazy Spark plan. Both give
    the same rows."""
    found = _driver_search(
        [emb], ("id_a", "id_b"), id_col, vec_col,
        None, threshold, n_tables, n_planes, dim, seed,
    )
    if found is not None:
        return found
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
