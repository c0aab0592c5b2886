"""The stop-controlled IPF loop, :func:`converge_dense`, on two paths.

Reference: ``converge`` at ``core.clj:99-119``. IPF (Deming–Stephan
1940; the Sinkhorn–Knopp family) imputes a matrix from its two
marginals plus a seed giving the rough shape, by alternately scaling
rows and columns to match the marginals. The package has two IPF
kernels: :func:`converge_dense` (here) for loops that stop on a
threshold, a plateau or ``max_iterations``, and :func:`ipf.rake_fixed`
for fixed micro-unit sweeps that an unrolled SQL oracle states bit for
bit.

The loop holds the column marginal on the driver, so the column domain
must be bounded (at most :data:`MAX_DRIVER_COLS` ids; the flagship's
hour-of-day axis has ≤ 24, as does the reference's
``resources/hours.csv``). It picks one of two layouts by the state's
size, |x| × |y| cells, against the module constant
:data:`MAX_DRIVER_CELLS`:

* **driver path** (≤ the gate) — the x-marginal and the coordinate
  seed are collected once over Arrow (two scans, no shuffle), the
  dense state is one NumPy ``(rows, cols)`` array, every sweep is a
  handful of vectorized array ops, and the result comes back as one
  Arrow-built DataFrame of array rows, expanded by the same
  :func:`from_row_arrays` as the distributed path. A small state
  spends its time in per-job planning and scheduling, not compute, so
  no Spark job per sweep is the whole point: the loop's Spark work is
  the two collects. The gate bounds driver memory: the driver path was
  faster at every state size measured (see the constant).
* **distributed path** (> the gate) — **one array row per matrix
  row**, ``(r, _x, vals: array<double>, _rsum)``, hash-partitioned by
  row id once and pinned by ``localCheckpoint``. Per sweep ONE eager
  checkpoint job: the column pass is a narrow ``zip_with`` against an
  ``n_cols`` literal array, and the ``observe`` metrics on that
  checkpoint carry the post-step x-loss and the next column sums.
  Executors exchange exactly ``n_cols`` doubles per sweep and the row
  dimension never re-shuffles — the plan for 10⁹ rows.

Both paths share one stop loop (:func:`_fit`: post-step x-loss,
plateau, ``max_iterations``, the exact y-residual, factor 0 for a zero
column) and both keep an all-zero state row at zero. They agree cell
for cell to float rounding (``tests/test_ipf.py`` runs the edge cases
on both, and against the coordinate-form reference in
``tests/ipf_reference.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alternating_least_squares_spark.checkpoint import (
    release_local_checkpoint,
    rotate_local_checkpoint,
)
from alternating_least_squares_spark.operators import matrix as M

# Refuse to hold more than this many column-marginal entries on the
# driver (the y-marginal is collected, and every state row is an
# array of this width).
MAX_DRIVER_COLS = 100_000


@dataclass
class IPFResult:
    """Mirror of the reference's ``{:matrix :loss :iterations}`` result
    map (``core.clj:114``), extended with the y-loss (README promises
    both losses; the reference only tracked x — SURVEY.md §0.3)."""

    matrix: DataFrame
    loss: float
    y_loss: float
    iterations: int


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


# Largest state (|x| × |y| cells) the loop holds on the driver. This is
# a driver-memory bound, not a speed crossover: on a synthetic
# rows × 24 state (4 vCPUs, 4 sweeps, least-CPU of 3 runs) the driver
# path won at every size measured, in wall / CPU seconds
#     cells     driver        distributed
#     48k       0.6 / 1.1     2.1 / 5.5
#     480k      1.1 / 1.6     3.3 / 10.3
#     2.0M      1.7 / 2.7     6.9 / 19.5
#     4.8M      4.1 / 6.6     10.9 / 38.0
#     9.6M      5.7 / 9.5     23.4 / 86.6
# while the driver's Python peak grew from 150 MB to 300 MB at 2M cells
# and 850 MB at 9.6M. The flagship is ~48k cells at sf0.01 and ~480k at
# sf0.1 (there 3.4 / 5.2 s against 8.0 / 13.4 s). A larger driver heap
# would move the gate up; concurrent driver-side work would move it down.
MAX_DRIVER_CELLS = 2_000_000

# Target state rows per partition for the distributed sweep jobs. The
# loop's cost at bench scale is per-task scheduling overhead, so a
# small state should not be spread over every core; at cluster scale
# the cap is defaultParallelism as before.
ROWS_PER_PARTITION = 8192

_EMPTY_STATE = (
    "empty state: no seed row meets the x marginal within the y "
    "marginal's column domain"
)


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
    """IPF with the column marginal as driver-side values.

    Iterates sweeps until the post-step x-loss drops below
    ``threshold``, the loss plateaus (Δloss < threshold), or
    ``max_iterations`` sweeps have run — the reference's three stop
    criteria (``core.clj:111-113``) with its defaults (threshold 1e-15,
    max-iter 1000) and the SURVEY §0.3 fixes: post-step loss, both
    marginals tracked. ``threshold=0`` disables both data-dependent
    stops, so the loop runs exactly ``max_iterations`` sweeps. Both
    marginals must share a grand total to 1e-6 relative (README:7).

    The seed's column domain must lie within the y-marginal's id set;
    cells outside it are ignored, absent cells read as ``seed_fill``
    and NULL cells as ``0 + seed_fill``, and the result holds every y
    column of every state row. Each ``(r, c)`` cell may appear once
    (a duplicate raises). State rows are the seed rows whose id is in
    x; when there are none the call raises ``ValueError`` naming the
    empty state.

    The loop runs on the driver in NumPy when the state has at most
    :data:`MAX_DRIVER_CELLS` cells (|x| × |y|), and as one eager
    checkpoint job per sweep above it (see the module docstring). The
    two paths return the same iterations, and the same matrix and
    losses to float rounding. Below the gate the seed's in-domain cells
    are collected before the join on x, rows outside x included, so
    the collect is bounded only when the seed's rows are x's (as in
    ``allocate_costs``); more collected cells than the gate send the
    call to the distributed path after that collect.

    ``seed_fill`` > 0 is the fused densify+Laplace path (A9): pass the
    SPARSE seed plus ``seed_fill=alpha`` instead of pre-densifying —
    equivalent to densifying over the x-rows × y-columns domain and
    adding ``alpha`` (:func:`matrix.laplace_smooth`) for every row that
    appears in the seed, but skips materializing the |rows|x|cols|
    dense coordinate form. (A row with NO seed cells at all gets no
    state row this way — callers whose x-marginal can contain such
    rows must densify explicitly.)

    ``x_total`` skips the precondition aggregate when the caller has
    already computed Σx; ``n_rows`` likewise skips the count that
    sizes the state when the caller already knows |x| (allocate_costs
    reads both off its x-checkpoint observe metrics).
    """
    y_rows = y_marginal.select(M.ID, M.V).collect()
    if len(y_rows) > MAX_DRIVER_COLS:
        raise ValueError(
            f"y marginal has {len(y_rows)} entries (> {MAX_DRIVER_COLS}); "
            "converge_dense needs a bounded column domain"
        )
    y_rows.sort(key=lambda row: row[M.ID])
    col_ids = [row[M.ID] for row in y_rows]
    y = np.array([float(row[M.V]) for row in y_rows])

    if x_total is None:
        x_total = x_marginal.agg(F.sum(M.V)).first()[0]
    if x_total is None or not y_rows:
        raise ValueError(
            "empty marginal: IPF needs non-empty x and y marginals "
            f"(x_total={x_total}, |y|={len(y_rows)})"
        )
    y_total = float(y.sum())
    scale = max(abs(x_total), abs(y_total), 1.0)
    if abs(x_total - y_total) / scale > 1e-6:
        raise ValueError(
            f"marginals must sum to the same total (x={x_total}, y={y_total}); "
            "see reference README:7"
        )
    if n_rows is None:
        n_rows = x_marginal.count()
    if n_rows * len(col_ids) <= MAX_DRIVER_CELLS:
        cells = (
            seed.select(M.R, M.C, M.V)
            .filter(F.col(M.R).isNotNull() & F.col(M.C).isin(col_ids))
            .toArrow()
        )
        # the gate counts x's rows; seed rows outside x still arrive
        # here, so more cells than the gate holds go distributed
        if cells.num_rows <= MAX_DRIVER_CELLS:
            return _converge_driver(
                x_marginal, seed, cells, col_ids, y, threshold,
                max_iterations, seed_fill,
            )
    return _converge_distributed(
        x_marginal, seed, col_ids, y, n_rows, threshold, max_iterations,
        seed_fill,
    )


def _fit(first, sweep, y, threshold: float, max_iterations: int):
    """The stop loop both paths share. ``first`` is the seed state's
    ``(xss, colsums)``: its squared x-loss and the column sums of its
    row-scaled successor. ``sweep(factors)`` applies one column pass
    with those factors and returns the new state's ``(xss, colsums)``.
    Returns ``(loss, y_loss, sweeps)``."""
    xss, colsums = first
    loss = y_loss = float("inf")
    iteration = 0
    while True:
        if iteration > 0:
            # xss is the post-step squared loss of sweep `iteration`'s
            # result — SURVEY §0.3 fix.
            new_loss = float(xss) ** 0.5
            plateaued = abs(loss - new_loss) < threshold
            loss = new_loss
            if loss < threshold or plateaued or iteration >= max_iterations:
                break
        # a zero column can receive no mass: factor 0
        factors = np.divide(y, colsums, out=np.zeros_like(y), where=colsums != 0)
        # y-residual is exact arithmetic given the column sums: the
        # column pass lands each column on y[p] up to one multiply.
        y_loss = float(np.sqrt(np.sum((y - colsums * factors) ** 2)))
        xss, colsums = sweep(factors)
        iteration += 1
    return loss, y_loss, iteration


def _converge_driver(
    x_marginal: DataFrame,
    seed: DataFrame,
    cells: pa.Table,
    col_ids: list[int],
    y: np.ndarray,
    threshold: float,
    max_iterations: int,
    seed_fill: float,
) -> IPFResult:
    """The loop on a NumPy ``(rows, cols)`` state built from x (one
    Arrow collect) and ``cells``, the collected in-domain seed cells.
    No Spark job per sweep. Cells whose row is outside x are dropped
    before the state is built, so it holds at most |x| × |y| cells."""
    spark = seed.sparkSession
    xt = x_marginal.select(M.ID, M.V).toArrow()
    cols = np.asarray(col_ids, dtype=np.int64)
    n = cols.size
    rows, inv = np.unique(
        cells[M.R].to_numpy().astype(np.int64), return_inverse=True
    )
    pos = np.searchsorted(cols, cells[M.C].to_numpy().astype(np.int64))
    if np.unique(inv * n + pos).size != inv.size:
        # the distributed layout fails on DUPLICATED_MAP_KEY; never sum
        raise ValueError("seed has a duplicated (r, c) cell")
    # inner join on x's ids
    x_ids = xt[M.ID].to_numpy().astype(np.int64)
    order = np.argsort(x_ids)
    k = np.searchsorted(x_ids, rows, sorter=order)
    hit = k < x_ids.size
    hit[hit] = x_ids[order[k[hit]]] == rows[hit]
    if not hit.any():
        raise ValueError(_EMPTY_STATE)
    keep = hit[inv]
    slot = np.cumsum(hit) - 1
    rows = rows[hit]
    vals = np.full((rows.size, n), seed_fill)
    vals[slot[inv[keep]], pos[keep]] = (
        pc.fill_null(cells[M.V].cast(pa.float64()), 0.0).to_numpy()[keep]
        + seed_fill
    )
    x = xt[M.V].to_numpy()[order[k[hit]]][:, None]

    scaled = vals

    def observe(state: np.ndarray):
        # the row-scaled successor, all-zero rows left as they are
        # (they can receive no mass; naive v*x/0 would flood NaN)
        nonlocal scaled
        rsum = state.sum(axis=1)[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            scaled = np.where(rsum != 0, state * x / rsum, state)
        return ((x - rsum) ** 2).sum(), scaled.sum(axis=0)

    def sweep(factors: np.ndarray):
        nonlocal vals
        vals = scaled * factors
        return observe(vals)

    loss, y_loss, iterations = _fit(
        observe(vals), sweep, y, threshold, max_iterations
    )
    # one array row per state row, like the distributed state, so both
    # paths end in the same from_row_arrays. A coordinate table would
    # be |y| times the rows, and below Spark's Arrow local-relation
    # threshold it becomes a driver-side local relation: consuming 2M
    # coordinate cells took 6.4-7.0 s, against 1.4-1.9 s for 4.8M
    # cells above the threshold (4 vCPUs).
    rows_t = pa.table(
        {
            M.R: rows,
            "vals": pa.ListArray.from_arrays(
                np.arange(0, vals.size + 1, n, dtype=np.int32), vals.ravel()
            ),
        }
    )
    schema = T.StructType(
        [seed.schema[M.R], T.StructField("vals", T.ArrayType(T.DoubleType()))]
    )
    matrix = from_row_arrays(spark.createDataFrame(rows_t, schema), col_ids)
    return IPFResult(matrix=matrix, loss=loss, y_loss=y_loss, iterations=iterations)


def _converge_distributed(
    x_marginal: DataFrame,
    seed: DataFrame,
    col_ids: list[int],
    y: np.ndarray,
    n_rows: int,
    threshold: float,
    max_iterations: int,
    seed_fill: float,
) -> IPFResult:
    """The loop on a checkpointed row-array state: one Spark job per
    sweep, the row dimension never re-shuffled."""
    n = len(col_ids)
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
    # Adaptive width: state rows == |x ∩ seed rows| ≤ |x|, so |x| sizes
    # the layout and a 20k-row state runs 3 tasks/job instead of 32 —
    # per-sweep wall time is task scheduling, not compute, at that size.
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
    if obs.get["_xss"] is None:  # a sum over no rows
        release_local_checkpoint(state, _owned)
        raise ValueError(_EMPTY_STATE)

    def observed(obs: Observation):
        metrics = obs.get
        return metrics["_xss"], np.array([metrics[f"c{p}"] for p in range(n)])

    def sweep(factors: np.ndarray):
        nonlocal state, _owned
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
            F.col("vals"), F.lit(factors.tolist()), lambda v, f: _rowsum_guard(v) * f
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
        return observed(obs)

    loss, y_loss, iterations = _fit(
        observed(obs), sweep, y, threshold, max_iterations
    )
    return IPFResult(
        matrix=from_row_arrays(state.select(M.R, "vals"), col_ids),
        loss=loss,
        y_loss=y_loss,
        iterations=iterations,
    )
