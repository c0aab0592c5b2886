"""Iterative Proportional Fitting driver loop (SURVEY.md §2 A17).

Reference: ``converge`` at ``core.clj:99-119``. IPF (Deming–Stephan
1940; the Sinkhorn–Knopp family) imputes a matrix from its two
marginals plus a seed giving the rough shape, by alternately scaling
rows and columns to match the marginals.

Deviations from the (broken) reference, per SURVEY.md §0:

* the reference computes loss on the PRE-step matrix
  (``core.clj:116`` uses ``matrix``, not ``next``) so the reported
  loss lags one iteration, and only checks the x-marginal even though
  the README promises both. We compute both losses on the POST-step
  matrix.
* ``normalized-seed`` (``core.clj:106``) is dead code upstream; we
  seed from the raw seed exactly as the reference's loop actually
  does (``core.clj:107``).

Spark execution model: this is the one place the engine runs a
driver-side Python loop (the same pattern MLlib's own ALS uses).
Per iteration: two window-normalize + broadcast-scale stages (see
``matrix.ipf_step``) and one scalar collect for the losses. Lineage
is cut with ``localCheckpoint`` every ``CHECKPOINT_EVERY`` sweeps so
the logical plan does not grow linearly with iterations — without
this, Catalyst planning time dominates after ~30 sweeps.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alternating_least_squares_spark.checkpoint import (
    rotate_local_checkpoint,
)
from alternating_least_squares_spark.operators import matrix as M

# sweeps between :func:`converge`'s lineage cuts (module docstring)
CHECKPOINT_EVERY = 5


@dataclass
class IPFResult:
    """Mirror of the reference's ``{:matrix :loss :iterations}`` result
    map (``core.clj:114``), extended with the y-loss (README promises
    both losses; the reference only tracked x — SURVEY.md §0.3)."""

    matrix: DataFrame
    loss: float
    y_loss: float
    iterations: int


def _marginal_losses(
    matrix: DataFrame, x_marginal: DataFrame, y_marginal: DataFrame
) -> tuple[float, float]:
    """Residual L2 norms ‖x − rowsums‖ and ‖y − colsums‖ in ONE job.

    The reference runs two separate reductions; we union the two
    residual computations so a single action (one collect of two
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


def rake_fixed(
    cells: DataFrame,
    marginals: list[tuple[str, DataFrame]],
    sweeps: int,
) -> DataFrame:
    """N-way fixed-sweep IPF raking in integer micro-units — the
    Deming–Stephan alternating scaling the 2-D ``converge`` loop runs,
    generalized to any number of axes (survey raking, small-area
    estimation, the a22 registry entry's 3-D case).

    ``cells`` carries one column per axis plus ``v_us`` (long, the
    cell mass in micro-units); ``marginals`` is an ORDERED list of
    ``(axis_column, DataFrame(axis_column, m_us long))`` — order is
    part of the result for a fixed sweep. Each axis pass window-sums
    the exact longs over that axis (order-independent below 2^53),
    joins the broadcast marginal, performs one double divide+multiply
    on exact inputs, and re-quantizes with ``floor`` — the a16/a17
    determinism contract, so an unrolled SQL oracle can state the
    result bit for bit. A zero axis slice keeps mass 0 (safe divide).

    Distributed shape: one keyed exchange per axis per sweep over
    O(cells) rows, marginals broadcast; nothing driver-side, nothing
    quadratic. The whole unroll stays ONE declarative plan (the a17
    lesson: eager per-sweep materialization loses at small scale and
    the sweep count here is a small constant)."""
    if sweeps < 1:
        raise ValueError(f"sweeps must be >= 1, got {sweeps}")
    if not marginals:
        raise ValueError("rake_fixed needs at least one marginal")
    # fail loudly at the boundary, not with an ambiguous-reference
    # AnalysisException three joins deep: the sweep loop owns the _s
    # working column, and a marginal carrying extra columns would be
    # joined into the cells on pass 1 and collide on pass 2
    if "_s" in cells.columns or "m_us" in cells.columns:
        raise ValueError(
            "rake_fixed reserves the _s and m_us column names; "
            f"cells has {cells.columns}"
        )
    if "v_us" not in cells.columns:
        raise ValueError(
            "cells must carry a v_us long column (the cell mass in "
            f"micro-units); got {cells.columns}"
        )
    v_type = dict(cells.dtypes)["v_us"]
    # integer widths are interchangeable (the repo-wide type
    # discipline; sums widen to long anyway) — only non-integral
    # types break the exact-window-sum determinism contract
    if v_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            "v_us must be an integral column (exact micro-unit "
            "mass; floating types make the window sums partition-"
            f"order dependent), got {v_type}"
        )
    for axis, m in marginals:
        if sorted(m.columns) != sorted([axis, "m_us"]):
            raise ValueError(
                f"marginal for axis {axis!r} must have exactly "
                f"columns ({axis!r}, 'm_us'); got {m.columns}"
            )
        if axis not in cells.columns:
            raise ValueError(
                f"cells is missing the axis column {axis!r}"
            )
    from pyspark.sql import Window

    cur = cells
    bcast = [(axis, F.broadcast(m)) for axis, m in marginals]
    for _ in range(sweeps):
        for axis, m in bcast:
            w = Window.partitionBy(axis)
            cur = (
                cur.withColumn("_s", F.sum("v_us").over(w))
                .join(m, axis)
                .withColumn(
                    "v_us",
                    F.when(F.col("_s") == 0, F.lit(0).cast("long"))
                    .otherwise(
                        F.floor(
                            F.col("v_us").cast("double")
                            / F.col("_s").cast("double")
                            * F.col("m_us").cast("double")
                        ).cast("long")
                    ),
                )
                .drop("_s", "m_us")
            )
    return cur


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
    to the same grand total, else IPF cannot satisfy both; we assert
    to 1e-6 relative tolerance rather than exact equality because the
    marginals are distributed double sums.
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
        nxt = M.ipf_step(x_marginal, y_marginal, current)
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
