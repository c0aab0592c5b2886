"""Shuffle-free IPF for matrices with a BOUNDED column domain.

The generic :mod:`~alternating_least_squares_spark.operators.ipf`
loop works on coordinate matrices of any shape — each sweep costs a
window shuffle per pass plus join shuffles for the loss. When one
dimension is small and bounded (the flagship's hour-of-day axis:
≤ 24 values; reference ``resources/hours.csv`` has exactly 24 rows),
there is a strictly better layout: **one array row per matrix row**,
``(r: long, x: double, vals: array<double>)``, with the y-marginal
held on the driver as plan literals.

Per sweep this layout costs:

* **row pass** — ``vals[p] * x / Σvals``: a narrow ``transform`` over
  the cached rows. No shuffle.
* **column pass** — column sums are one ``agg`` of ``n_cols`` partial
  sums (map-side combine, a single scalar-row collect), then
  ``vals[p] * y[p]/colsum[p]`` with literal factors. No shuffle.
* **loss** — ‖x − rowsums‖ folded into the next sweep's aggregate.

At 100 TB / 10⁹ rows this is the plan you want: the row dimension
stays partitioned and untouched across the whole loop, executors
exchange exactly ``n_cols`` doubles per sweep, and every expression is
native ``F.*`` inside codegen. The coordinate loop by contrast
re-shuffles the full matrix 4× per sweep.

Semantics are identical to :func:`ipf.converge` (both-marginal
post-step loss, same stop criteria); ``tests/test_ipf.py`` asserts the
two agree on literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from alternating_least_squares_spark.checkpoint import (
    rotate_local_checkpoint,
)
from alternating_least_squares_spark.operators import matrix as M
from alternating_least_squares_spark.operators.ipf import IPFResult

# Refuse to hold more than this many column-marginal entries on the
# driver; beyond it the coordinate-form `ipf.converge` is the right
# tool (its shuffles are unavoidable for two unbounded dimensions).
MAX_DRIVER_COLS = 100_000


def _array_sum(vals) -> F.Column:
    return F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v)


def to_row_arrays(
    matrix: DataFrame, col_ids: list[int], fill: float = 0.0
) -> DataFrame:
    """Coordinate ``(r, c, v)`` → ``(r, vals)`` with ``vals[p]`` the
    value at column ``col_ids[p]`` (missing cells = ``fill``). One
    groupBy shuffle — paid once, not per sweep.

    ``fill`` doubles as the Laplace-smoothing path (A9,
    ``core.clj:47-50``): passing ``fill=alpha`` on a SPARSE matrix is
    equivalent to densifying over the full row x column domain and
    adding alpha — without ever materializing the dense coordinate
    form (a |rows|x|cols| crossJoin + join + re-group that this layout
    would immediately collapse back into arrays anyway). Present cells
    get ``v + fill`` so the two routes agree exactly."""
    pos = F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c in col_ids]),
        F.array(*[F.lit(p) for p in range(len(col_ids))]),
    )
    return (
        matrix.withColumn("_p", F.try_element_at(pos, F.col(M.C).cast("long")))
        # cells whose column id is outside col_ids are IGNORED (the
        # documented contract): without this filter the NULL position
        # reaches map_from_entries and the job dies with NULL_MAP_KEY
        # — e.g. the flagship's y-marginal can be missing an hour the
        # visit seed still has (zero-value hours are filtered out)
        .filter(F.col("_p").isNotNull())
        .groupBy(M.R)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_p"), F.col(M.V)))
            ).alias("_m")
        )
        .select(
            M.R,
            F.transform(
                F.sequence(F.lit(0), F.lit(len(col_ids) - 1)),
                lambda p: F.coalesce(F.try_element_at(F.col("_m"), p), F.lit(0.0))
                + F.lit(fill),
            ).alias("vals"),
        )
    )


def from_row_arrays(rows: DataFrame, col_ids: list[int]) -> DataFrame:
    """``(r, vals)`` → coordinate ``(r, c, v)``. Narrow generator."""
    ids = F.array(*[F.lit(c) for c in col_ids])
    return rows.select(
        M.R, F.posexplode("vals").alias("_p", M.V)
    ).select(M.R, F.element_at(ids, F.col("_p") + 1).alias(M.C), M.V)


# Target state rows per partition for the sweep jobs. The loop's cost
# at bench scale is per-task scheduling overhead (2 jobs/sweep), so a
# small state should not be spread over every core; at cluster scale
# the cap is defaultParallelism as before.
ROWS_PER_PARTITION = 8192


def converge_dense(
    x_marginal: DataFrame,
    y_marginal: DataFrame,
    seed: DataFrame,
    threshold: float = 1e-15,
    max_iterations: int = 1000,
    seed_fill: float = 0.0,
    x_total: float | None = None,
    n_rows: int | None = None,
) -> IPFResult:
    """IPF with the column marginal as driver-side literals.

    Same contract as :func:`ipf.converge` (reference ``converge``,
    ``core.clj:99-119``, with the SURVEY §0.3 fixes: post-step loss,
    both marginals tracked). The seed's column domain must lie within
    the y-marginal's id set; cells outside it are ignored, absent
    cells read as ``seed_fill``.

    ``seed_fill`` > 0 is the fused densify+Laplace path (A9): pass the
    SPARSE seed plus ``seed_fill=alpha`` instead of pre-densifying —
    equivalent to densifying over the x-rows × y-columns domain and
    adding ``alpha`` (:func:`matrix.laplace_smooth`) for every row that
    appears in the seed, but skips materializing and re-shuffling the
    |rows|x|cols| dense coordinate form. (A row with NO seed cells at
    all gets no state row this way — callers whose x-marginal can
    contain such rows must densify explicitly.)

    ``x_total`` skips the precondition aggregate when the caller has
    already computed Σx; ``n_rows`` likewise skips the layout-sizing
    count when the caller already knows |x| (allocate_costs reads both
    off its x-checkpoint observe metrics).
    """
    y_rows = y_marginal.select(M.ID, M.V).collect()
    if len(y_rows) > MAX_DRIVER_COLS:
        raise ValueError(
            f"y marginal has {len(y_rows)} entries (> {MAX_DRIVER_COLS}); "
            "use ipf.converge for unbounded column domains"
        )
    y_rows.sort(key=lambda row: row[M.ID])
    col_ids = [row[M.ID] for row in y_rows]
    y_vals = [float(row[M.V]) for row in y_rows]
    n = len(col_ids)

    if x_total is None:
        x_total = x_marginal.agg(F.sum(M.V)).first()[0]
    if x_total is None or not y_rows:
        raise ValueError(
            "empty marginal: IPF needs non-empty x and y marginals "
            f"(x_total={x_total}, |y|={len(y_rows)})"
        )
    y_total = sum(y_vals)
    scale = max(abs(x_total), abs(y_total), 1.0)
    if abs(x_total - y_total) / scale > 1e-6:
        raise ValueError(
            f"marginals must sum to the same total (x={x_total}, y={y_total}); "
            "see reference README:7"
        )

    # State carries the row sum as a MATERIALIZED column (`_rsum`).
    # Higher-order functions (transform/aggregate lambdas) are
    # interpreted, not codegen'd, and Catalyst inlines a projected
    # expression into every use site — so if the row sum stays an
    # expression it gets re-evaluated per array ELEMENT inside the
    # row-pass lambda (~n² interpreted ops per row per sweep).
    # Computing it once at checkpoint time makes each sweep O(n) per
    # row: measured 4 s/sweep → <1 s/sweep on the sf0.1 flagship.
    # Repartition by row id to the cluster's parallelism: AQE would
    # otherwise coalesce a small state to ONE partition and every
    # sweep's per-row work (interpreted transform/zip_with lambdas)
    # would run single-threaded. localCheckpoint pins this layout, and
    # all later sweeps are narrow, so the hash layout survives the
    # whole loop — this one shuffle is the loop's only one.
    spark = seed.sparkSession
    # Adaptive width: state rows == |x ∩ seed rows| ≤ |x|. One cheap
    # count of the (tiny) marginal sizes the layout so a 20k-row bench
    # state runs 3 tasks/job instead of 32 — per-sweep wall time is
    # task scheduling, not compute, at that size.
    if n_rows is None:
        n_rows = x_marginal.count()
    n_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-n_rows // ROWS_PER_PARTITION),
        ),
    )
    state = (
        to_row_arrays(seed, col_ids, fill=seed_fill)
        .join(x_marginal.select(F.col(M.ID).alias(M.R), F.col(M.V).alias("_x")), M.R)
        .select(M.R, "_x", "vals", _array_sum(F.col("vals")).alias("_rsum"))
        .repartition(n_parts, M.R)
    )

    # ONE Spark job per sweep: the eager checkpoint that materializes
    # the new state also carries ``observe`` metrics computing (a) the
    # post-step x-loss of that state and (b) the column sums of its
    # row-scaled successor — everything the NEXT loop turn needs, read
    # off the checkpoint scan instead of a separate aggregate job.
    #
    # The column-sum metrics deliberately avoid higher-order functions:
    # ``element_at(vals, p) * x / rsum`` is a scalar expression chain
    # (codegen-friendly), whereas projecting a transform()'d array and
    # reading it back is interpreted per element — and inside a metric
    # list it would be re-inlined per metric (n passes/row).
    def _rowsum_guard(col: F.Column) -> F.Column:
        # all-zero row guard: an unsmoothed seed row has rowsum 0 and
        # naive v*x/0 would flood the matrix with NaN; such a row can
        # receive no mass, so it stays zero (same convention as the
        # column factors below)
        rowsum = F.col("_rsum")
        return F.when(rowsum != 0, col * F.col("_x") / rowsum).otherwise(col)

    # Build every sweep expression ONCE, outside the loop. Column
    # objects are immutable name-references, so the same instances are
    # valid against each sweep's DataFrame — and constructing them is
    # pure driver-side py4j traffic (~25 metric columns × several
    # round-trips each ≈ 0.5 s/sweep when rebuilt per iteration, which
    # was the measured majority of sweep wall-time at bench scale).
    sweep_metrics = [
        F.sum(F.pow(F.col("_x") - F.col("_rsum"), F.lit(2))).alias("_xss")
    ] + [
        F.sum(_rowsum_guard(F.element_at(F.col("vals"), p + 1))).alias(f"c{p}")
        for p in range(n)
    ]

    obs = Observation()
    # rotation-owned: each sweep's checkpoint pins a full dense-matrix
    # copy; release the superseded generation
    state, _owned = rotate_local_checkpoint(
        state.observe(obs, *sweep_metrics), None
    )

    loss = float("inf")
    y_loss = float("inf")
    iteration = 0
    while True:
        metrics = obs.get
        if iteration > 0:
            # _xss is the post-step squared loss of the matrix now in
            # `state` (= sweep `iteration`'s result) — SURVEY §0.3 fix.
            new_loss = metrics["_xss"] ** 0.5
            plateaued = abs(loss - new_loss) < threshold
            loss = new_loss
            if loss < threshold or plateaued or iteration >= max_iterations:
                break
        colsums = [metrics[f"c{p}"] for p in range(n)]
        factors = [
            y_vals[p] / colsums[p] if colsums[p] else 0.0 for p in range(n)
        ]
        # y-residual is exact arithmetic given the column sums: the
        # column pass lands each column on y[p] up to one multiply.
        y_loss = (
            sum((y_vals[p] - colsums[p] * factors[p]) ** 2 for p in range(n))
            ** 0.5
        )
        # Inject the factors as ONE array<double> LITERAL, consumed by
        # a zip_with lambda. Three earlier shapes all lose to this:
        # (a) broadcast-DF crossJoin — a fresh BroadcastExchange every
        #     sweep, measured ~0.35 s of pure exchange overhead;
        # (b) n unrolled element_at(lit(array), p) products — constant
        #     folding collapses them to inline scalar literals, so the
        #     generated source differs per sweep and Janino recompiles
        #     (~0.4 s/sweep);
        # (c) per-element scalar literals — same recompile.
        # A non-primitive array literal instead lands in the codegen
        # references array, keeping the generated source byte-stable
        # across sweeps, and the zip_with lambda is interpreted anyway
        # so the changing literal costs nothing. Net measured sweep:
        # ~0.2 s vs ~0.55 s for (a) at bench scale.
        col_scaled = F.zip_with(
            F.col("vals"), F.lit(factors), lambda v, f: _rowsum_guard(v) * f
        )
        obs = Observation()
        state, _owned = rotate_local_checkpoint(
            state.select(
                M.R,
                "_x",
                col_scaled.alias("vals"),
                _array_sum(col_scaled).alias("_rsum"),
            ).observe(obs, *sweep_metrics),
            _owned,
        )
        iteration += 1

    return IPFResult(
        matrix=from_row_arrays(state.select(M.R, "vals"), col_ids),
        loss=loss,
        y_loss=y_loss,
        iterations=iteration,
    )
