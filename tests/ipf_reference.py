"""Coordinate-form reference for the stop-controlled IPF loop.

Production runs every stop-controlled IPF loop on
``ipf_dense.converge_dense`` (a dense row-array state, on the driver or
distributed). The spelling here is the reference's own shape,
``converge`` at ``core.clj:99-119``: a coordinate ``(r, c, v)`` matrix,
one window-normalize per axis pass (:func:`ipf_step`) and a joined
loss collect per sweep. The parity tests require ``converge_dense`` to
match it in iterations, losses and cells.

Deviations from the (broken) reference, per SURVEY.md §0:

* the reference computes loss on the PRE-step matrix
  (``core.clj:116`` uses ``matrix``, not ``next``) so the reported
  loss lags one iteration, and only checks the x-marginal even though
  the README promises both. Both losses here are POST-step.
* ``normalized-seed`` (``core.clj:106``) is dead code upstream; the
  loop seeds from the raw seed exactly as the reference's loop does
  (``core.clj:107``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.checkpoint import (
    rotate_local_checkpoint,
)
from alternating_least_squares_spark.operators import matrix as M
from alternating_least_squares_spark.operators.ipf_dense import IPFResult

# sweeps between :func:`converge`'s lineage cuts
CHECKPOINT_EVERY = 5


def ipf_step(
    x_marginal: DataFrame, y_marginal: DataFrame, seed: DataFrame
) -> DataFrame:
    """A16 — one IPF sweep: fit rows to the x-marginal, then columns to
    the y-marginal.

    Reference ``step`` at ``core.clj:89-97`` (optimize, transpose,
    optimize, transpose back). Because transpose is free in COO form
    (see :func:`matrix.transpose`) a sweep is exactly two
    window-normalize + scale passes: shuffle on ``r``, then on ``c``.
    """
    row_fit = M.optimize_marginal(x_marginal, seed)
    col_fit = M.transpose(M.optimize_marginal(y_marginal, M.transpose(row_fit)))
    return col_fit


def _marginal_losses(
    matrix: DataFrame, x_marginal: DataFrame, y_marginal: DataFrame
) -> tuple[float, float]:
    """Residual L2 norms ‖x − rowsums‖ and ‖y − colsums‖ in ONE job.

    The reference runs two separate reductions; the two residual
    computations are unioned so a single action (one collect of two
    doubles) prices an iteration's convergence check.
    """
    rs = M.sum_rows(matrix).select(F.col(M.ID), F.col(M.V).alias("_p"))
    cs = M.sum_cols(matrix).select(F.col(M.ID), F.col(M.V).alias("_p"))
    xm = x_marginal.select(F.col(M.ID), F.col(M.V).alias("_o"))
    ym = y_marginal.select(F.col(M.ID), F.col(M.V).alias("_o"))
    # Full-outer join so a marginal id with no surviving matrix row
    # (or a matrix row absent from the marginal) contributes its FULL
    # residual instead of silently dropping out — an inner join here
    # can declare convergence while a marginal entry is unserved.
    x_res = xm.join(rs, M.ID, "full_outer").select(
        F.lit("x").alias("_m"),
        F.coalesce("_o", F.lit(0.0)).alias("_o"),
        F.coalesce("_p", F.lit(0.0)).alias("_p"),
    )
    y_res = ym.join(cs, M.ID, "full_outer").select(
        F.lit("y").alias("_m"),
        F.coalesce("_o", F.lit(0.0)).alias("_o"),
        F.coalesce("_p", F.lit(0.0)).alias("_p"),
    )
    rows = (
        x_res.unionByName(y_res)
        .groupBy("_m")
        .agg(F.sqrt(F.sum(F.pow(F.col("_o") - F.col("_p"), F.lit(2)))).alias("_l"))
        .collect()
    )
    losses = {row["_m"]: row["_l"] for row in rows}
    return losses.get("x", 0.0), losses.get("y", 0.0)


def converge(
    x_marginal: DataFrame,
    y_marginal: DataFrame,
    seed: DataFrame,
    threshold: float = 1e-15,
    max_iterations: int = 1000,
) -> IPFResult:
    """Iterate IPF sweeps until the x-marginal loss drops below
    ``threshold``, the loss plateaus (Δloss < threshold), or
    ``max_iterations`` is exhausted — the reference's three stop
    criteria at ``core.clj:111-113`` with its defaults
    (``core.clj:102-104``: threshold 1e-15, max-iter 1000).

    Precondition (``core.clj:105``, README:7): both marginals must sum
    to the same grand total, else IPF cannot satisfy both; asserted to
    1e-6 relative tolerance because the marginals are distributed
    double sums.
    """
    x_total = x_marginal.agg(F.sum(M.V)).first()[0]
    y_total = y_marginal.agg(F.sum(M.V)).first()[0]
    if x_total is None or y_total is None:
        # sum over zero rows is NULL — surface the real problem
        # instead of a TypeError from abs(None) below
        raise ValueError(
            "empty marginal: IPF needs non-empty x and y marginals "
            f"(x_total={x_total}, y_total={y_total})"
        )
    scale = max(abs(x_total), abs(y_total), 1.0)
    if abs(x_total - y_total) / scale > 1e-6:
        raise ValueError(
            f"marginals must sum to the same total (x={x_total}, y={y_total}); "
            "see reference README:7"
        )

    # NOT rotation-owned: the returned matrix may be a LAZY plan over
    # ipf_step (CHECKPOINT_EVERY > 1 skips the final checkpoint) that
    # still JOINS the marginals when the caller materializes it —
    # releasing them here would make the result unrecomputable.
    x_marginal = x_marginal.localCheckpoint(eager=True)
    y_marginal = y_marginal.localCheckpoint(eager=True)

    current = seed
    loss = float("inf")
    y_loss = float("inf")
    iteration = 0
    _owned: set[int] | None = None
    while iteration < max_iterations:
        nxt = ipf_step(x_marginal, y_marginal, current)
        # Cut lineage: without this the plan nests one window+join pair
        # deeper per sweep and planning time dominates execution.
        # Rotating the checkpoint releases the superseded sweep's
        # blocks.
        if (iteration + 1) % CHECKPOINT_EVERY == 0:
            nxt, _owned = rotate_local_checkpoint(nxt, _owned)
        new_loss, new_y_loss = _marginal_losses(nxt, x_marginal, y_marginal)
        plateaued = abs(loss - new_loss) < threshold
        current, loss, y_loss = nxt, new_loss, new_y_loss
        iteration += 1
        if loss < threshold or plateaued:
            break

    return IPFResult(
        matrix=current, loss=loss, y_loss=y_loss, iterations=iteration
    )
