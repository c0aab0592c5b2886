"""Coordinate-form matrix & vector operators (SURVEY.md §2.A).

The reference (`cassandra-codes/alternating-least-squares`,
``src/cost_allocation/core.clj``) represents a matrix as nested
Clojure vectors and a vector as a flat vector, all driver-memory,
single-threaded. Here the canonical representations are:

* **matrix**: DataFrame ``(r: long, c: long, v: double)`` — coordinate
  (COO) form. Scales to 100 TB: every op below is either a narrow
  projection or a single keyed shuffle (groupBy/window/join on ``r``
  or ``c``).
* **vector**: DataFrame ``(id: long, v: double)``.

Zero cells MAY be absent (sparse). Operators that are only meaningful
on dense matrices (``laplace_smooth``, ``normalize_matrix``) require
the densify contract — see :func:`densify`.

No Python UDFs anywhere in this module: every expression is a native
``pyspark.sql.functions`` column, so the whole file stays inside
whole-stage codegen and is Catalyst-optimizable.

Reference parity notes cite ``core.clj`` line numbers per operator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Conventional column names.
R, C, V, ID = "r", "c", "v", "id"


# ---------------------------------------------------------------------------
# construction


def cmap(
    f: Callable[[Column, Column], Column],
    xs: DataFrame,
    ys: DataFrame,
) -> DataFrame:
    """A1 — outer "cross map": ``M[i,j] = f(xs[i], ys[j])``.

    Reference: ``cmap`` at ``core.clj:5-9`` (nested for/mapv over the
    Cartesian product).

    Spark shape: crossJoin of the two vectors. At scale one side is a
    marginal (thousands of rows at most) so Spark broadcasts it; the
    result is produced without any shuffle of the big side.
    """
    a = xs.select(F.col(ID).alias(R), F.col(V).alias("_x"))
    b = ys.select(F.col(ID).alias(C), F.col(V).alias("_y"))
    return a.crossJoin(F.broadcast(b)).select(
        R, C, f(F.col("_x"), F.col("_y")).alias(V)
    )


def seed_matrix(xs: DataFrame, ys: DataFrame) -> DataFrame:
    """A14 — rank-1 outer product ``M[i,j] = xs[i] * ys[j]``.

    Reference: ``seed-matrix`` at ``core.clj:78-80`` (built there as a
    degenerate ``mmult`` of an n×1 by a 1×m). The rank-1 structure is
    the reason the reference never materializes a dense seed for the
    cost ETL; we keep that: the crossJoin broadcasts the small side
    and never shuffles.
    """
    return cmap(lambda x, y: x * y, xs, ys)


def ones_matrix(spark, n_rows: int, n_cols: int) -> DataFrame:
    """C9 — constant matrix (the 73×22 all-ones dummy, ``core.clj:189``)."""
    rows = spark.range(n_rows).select(F.col("id").alias(R))
    cols = spark.range(n_cols).select(F.col("id").alias(C))
    return rows.crossJoin(F.broadcast(cols)).select(R, C, F.lit(1.0).alias(V))


def densify(matrix: DataFrame, fill: float = 0.0) -> DataFrame:
    """Materialize implicit zero cells: domain(r) × domain(c) left-joined
    with the sparse data, absent cells filled with ``fill``.

    Needed before ``laplace_smooth`` / ``normalize_matrix`` whose
    semantics touch every cell (SURVEY.md §4.2). The domains are
    distinct-key projections (one shuffle each, tiny results) and the
    fill join shuffles once on (r, c).
    """
    rows = matrix.select(R).distinct()
    cols = matrix.select(C).distinct()
    # no forced broadcast: the column domain is bounded for the
    # flagship (24 hours) but UNBOUNDED for a generic matrix — at
    # coordinate scale a forced hint OOMs the driver. AQE broadcasts
    # at runtime when the domain is actually small.
    dense_keys = rows.crossJoin(cols)
    return dense_keys.join(matrix, [R, C], "left").select(
        R, C, F.coalesce(F.col(V), F.lit(float(fill))).alias(V)
    )


# ---------------------------------------------------------------------------
# vector ops


def dot(a: DataFrame, b: DataFrame) -> DataFrame:
    """A2 — dot product. Reference ``dot`` at ``core.clj:11-16``.

    Returns a 1-row DataFrame ``(dot: double)``. Equi-join on id then
    a global sum: the join shuffles on id (or broadcasts if one side
    is small), the agg is partial+final (map-side combine).
    """
    av = a.select(ID, F.col(V).alias("_a"))
    bv = b.select(ID, F.col(V).alias("_b"))
    return (
        av.join(bv, ID)
        .agg(F.sum(F.col("_a") * F.col("_b")).alias("dot"))
    )


def diff_vector(a: DataFrame, b: DataFrame) -> DataFrame:
    """A3 — element-wise subtraction. Reference ``core.clj:18-21``."""
    av = a.select(ID, F.col(V).alias("_a"))
    bv = b.select(ID, F.col(V).alias("_b"))
    return av.join(bv, ID).select(ID, (F.col("_a") - F.col("_b")).alias(V))


def l2_norm(a: DataFrame) -> DataFrame:
    """A4 — √(Σ v²). Reference ``core.clj:23-26``."""
    return a.agg(F.sqrt(F.sum(F.pow(F.col(V), F.lit(2)))).alias("l2_norm"))


def rmse(observed: DataFrame, predicted: DataFrame) -> DataFrame:
    """A5 — residual L2 norm of (observed − predicted).

    Reference ``rmse`` at ``core.clj:28-30``. NOTE: despite the name
    the reference does **not** divide by n — it is ‖o−p‖₂, and we
    keep that semantics for parity (SURVEY.md §2 A5).
    """
    o = observed.select(ID, F.col(V).alias("_o"))
    p = predicted.select(ID, F.col(V).alias("_p"))
    return (
        o.join(p, ID)
        .agg(F.sqrt(F.sum(F.pow(F.col("_o") - F.col("_p"), F.lit(2)))).alias("rmse"))
    )


# ---------------------------------------------------------------------------
# matrix shape / reduction ops


def transpose(matrix: DataFrame) -> DataFrame:
    """A6 — transpose. Reference ``core.clj:32-35`` (O(n·m) rebuild).

    In coordinate form a transpose is a column rename — **zero
    shuffle, zero compute**. This is the single biggest win of the
    COO representation for the IPF loop (the reference transposes
    twice per sweep, `core.clj:95-97`).
    """
    return matrix.select(
        F.col(C).alias(R), F.col(R).alias(C), F.col(V)
    )


def sum_rows(matrix: DataFrame) -> DataFrame:
    """A7 — per-row sums → vector ``(id, v)``. Reference ``core.clj:37-40``.

    Hash aggregate on ``r``: partial (map-side) + final, one shuffle.
    """
    return matrix.groupBy(F.col(R).alias(ID)).agg(F.sum(V).alias(V))


def sum_cols(matrix: DataFrame) -> DataFrame:
    """A8 — per-column sums. Reference ``core.clj:42-45`` does
    transpose-then-sum-rows; here it is a direct groupBy on ``c`` —
    no transpose materialization."""
    return matrix.groupBy(F.col(C).alias(ID)).agg(F.sum(V).alias(V))


def laplace_smooth(matrix: DataFrame, alpha: float = 1e-15) -> DataFrame:
    """A9 — add α to every cell. Reference ``core.clj:47-50``; called
    with α=1e-15 at ``core.clj:187`` to keep IPF division well-defined.

    DENSE CONTRACT: on sparse input, absent zeros would not receive α.
    Callers must :func:`densify` first (the ETL pipeline does).
    """
    return matrix.withColumn(V, F.col(V) + F.lit(float(alpha)))


def weight_matrix(matrix: DataFrame) -> DataFrame:
    """A10 — row-stochastic normalization: each cell ÷ its row sum.

    Reference ``weight-matrix`` at ``core.clj:52-56`` (note the
    deliberate ``(* 1.0 sum)`` double coercion — we are natively in
    DoubleType).

    Spark shape: a window sum partitioned by ``r`` — ONE shuffle on
    ``r``, no join, no second pass over the data. Rows with sum 0 get
    weight 0 (a zero-information row can receive no mass — the same
    convention as the dense loop's ``_rowsum_guard``); the division
    must be guarded because Spark 4's default ANSI mode makes /0 an
    ERROR, not NULL. Normal pipelines never hit it (laplace smoothing
    guards upstream, as in the reference).
    """
    w = Window.partitionBy(R)
    rowsum = F.sum(V).over(w)
    return matrix.select(
        R,
        C,
        F.when(rowsum != 0, F.col(V) / rowsum).otherwise(F.lit(0.0)).alias(V),
    )


def apply_weights(row_sums: DataFrame, weights: DataFrame) -> DataFrame:
    """A11 — scale row i of a weight matrix by ``row_sums[i]``.

    Reference ``apply-weights`` at ``core.clj:58-61`` (positional zip
    of sums with rows; positional alignment becomes an equi-join on
    the row id).

    The marginal has one entry per distinct matrix row — often small
    enough to broadcast, but at 100 TB coordinate data it can reach
    hundreds of millions of entries, so we do NOT force a broadcast
    hint: AQE converts the join to broadcast-hash at runtime when the
    marginal is actually below the threshold, and falls back to a
    keyed shuffle when it is not.
    """
    sums = row_sums.select(F.col(ID).alias(R), F.col(V).alias("_s"))
    return weights.join(sums, R).select(
        R, C, (F.col(V) * F.col("_s")).alias(V)
    )


def optimize_marginal(marginal: DataFrame, seed: DataFrame) -> DataFrame:
    """A15 — distribute a marginal across rows proportionally to the
    seed's row distributions.

    Reference ``optimize-marginal`` at ``core.clj:82-87`` calls
    ``ratio-matrix``/``apply-ratios`` which are DEFINED NOWHERE in the
    reference repo; per the docstring at ``core.clj:83-85`` the
    intended semantics are ``apply-weights ∘ weight-matrix``
    (SURVEY.md §0.1), which is what we implement.

    Fused here into one expression: ``v * marginal[r] / rowsum(v)`` —
    a single window + a single join per call. No forced broadcast of
    the marginal (it scales with the row domain — see
    :func:`apply_weights`); AQE broadcasts it when genuinely small.
    """
    w = Window.partitionBy(R)
    m = marginal.select(F.col(ID).alias(R), F.col(V).alias("_m"))
    rowsum = F.sum(V).over(w)
    # rowsum-0 guard: the row keeps its (all-zero) cells instead of
    # raising ANSI DIVIDE_BY_ZERO — the convention of converge_dense's
    # row pass, so a coordinate loop built on this matches it.
    return seed.join(m, R).select(
        R,
        C,
        F.when(rowsum != 0, F.col(V) / rowsum * F.col("_m"))
        .otherwise(F.col(V))
        .alias(V),
    )


def normalize_matrix(matrix: DataFrame) -> DataFrame:
    """A18 — global min-max scale to [0,1]. Reference ``core.clj:121-127``
    (dead code there due to the forward-reference compile bug,
    SURVEY.md §0.2, but part of the declared surface).

    Two passes: a scalar min/max agg (collected to the driver — two
    doubles), then a narrow map. DENSE CONTRACT like A9: implicit
    zeros must be materialized first if they should participate.
    """
    mn, mx = matrix.agg(F.min(V), F.max(V)).first()
    if mn is None or mx is None:  # empty matrix: nothing to scale
        return matrix
    span = (mx - mn) or 1.0  # degenerate all-equal matrix → zeros
    return matrix.withColumn(V, (F.col(V) - F.lit(mn)) / F.lit(span))


def error_matrix(p: DataFrame, q: DataFrame) -> DataFrame:
    """A19 — element-wise |p − q|. Reference ``core.clj:129-132``."""
    a = p.select(R, C, F.col(V).alias("_p"))
    b = q.select(R, C, F.col(V).alias("_q"))
    return a.join(b, [R, C]).select(
        R, C, F.abs(F.col("_p") - F.col("_q")).alias(V)
    )


def mmult(a: DataFrame, b: DataFrame) -> DataFrame:
    """A13 — matrix multiply (n×m)·(m×p) in coordinate form.

    Reference ``mmult`` at ``core.clj:71-76`` (triple nested loop).

    The classic SQL matmul: join on the contraction index, group by
    the output coordinates. Catalyst/AQE picks sort-merge or
    broadcast-hash depending on sizes; the groupBy gets a map-side
    partial aggregate. For massively sparse inputs this does
    |A| ⋈ |B| work — optimal without density assumptions.
    """
    left = a.select(F.col(R).alias("_ar"), F.col(C).alias("_k"), F.col(V).alias("_av"))
    right = b.select(F.col(R).alias("_k"), F.col(C).alias("_bc"), F.col(V).alias("_bv"))
    return (
        left.join(right, "_k")
        .groupBy(F.col("_ar").alias(R), F.col("_bc").alias(C))
        .agg(F.sum(F.col("_av") * F.col("_bv")).alias(V))
    )


def add_labels(
    matrix: DataFrame, row_labels: DataFrame, col_labels: DataFrame
) -> DataFrame:
    """A12 — re-attach human labels to a matrix.

    Reference ``add-labels`` at ``core.clj:63-69`` glues a header row
    and row-key column onto the nested-vector matrix. DataFrames carry
    schema already, so this is two broadcast dimension joins producing
    ``(row_label, col_label, v)``.

    ``row_labels``/``col_labels``: DataFrames ``(id, label)``.

    LEFT joins: a cell whose id has no label keeps the cell with a
    NULL label — the reference decorates positionally and never drops
    data, so neither may we (an inner join would silently lose every
    cell of an unlabeled row).
    """
    rl = row_labels.select(F.col(ID).alias(R), F.col("label").alias("row_label"))
    cl = col_labels.select(F.col(ID).alias(C), F.col("label").alias("col_label"))
    return (
        matrix.join(F.broadcast(rl), R, "left")
        .join(F.broadcast(cl), C, "left")
        .select("row_label", "col_label", V)
    )


def safe_divide(x: DataFrame, y: DataFrame) -> DataFrame:
    """C10 — element-wise x ÷ y with 0-where-y-is-0 guard.

    Reference ``safe-divide`` intent at ``core.clj:191-197`` (the
    ``cost-per-visit`` finale; broken upstream — SURVEY.md §0.4 — the
    guard itself is readable at ``core.clj:193-195``).
    """
    a = x.select(R, C, F.col(V).alias("_x"))
    b = y.select(R, C, F.col(V).alias("_y"))
    return a.join(b, [R, C]).select(
        R,
        C,
        F.when(F.col("_y") == 0, F.lit(0.0))
        .otherwise(F.col("_x") / F.col("_y"))
        .alias(V),
    )
