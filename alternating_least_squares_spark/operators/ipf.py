"""Fixed-sweep IPF raking in integer micro-units: :func:`rake_fixed`.

IPF (Deming–Stephan 1940; the Sinkhorn–Knopp family) imputes a
matrix from its marginals plus a seed giving the rough shape, by
alternately scaling each axis to match its marginal (reference
``converge`` at ``core.clj:99-119``). The package has two IPF kernels:

* :func:`ipf_dense.converge_dense` — the stop-controlled loop
  (threshold, plateau, ``max_iterations``) on a 2-D matrix whose column
  domain is bounded; the flagship and a21 run on it.
* :func:`rake_fixed` (here) — a fixed number of sweeps over any number
  of axes, in exact micro-unit arithmetic, so an unrolled SQL oracle
  states the result bit for bit (a17, a22 and the flagship's
  fixed-sweep twin run on it; ``registry._rake_fixed_ctes`` is its SQL
  spelling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rake_fixed(
    cells: DataFrame,
    marginals: list[tuple[str, DataFrame]],
    sweeps: int,
) -> DataFrame:
    """N-way fixed-sweep IPF raking in integer micro-units — the
    Deming–Stephan alternating scaling of ``converge_dense``,
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
    quadratic. The whole unroll stays ONE declarative plan: eager
    per-sweep materialization measured slower at small scale, and the
    sweep count here is a small constant."""
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
