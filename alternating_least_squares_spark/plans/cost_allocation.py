"""The flagship cost-allocation pipeline (reference E2+E3).

Re-expression of the reference's end-to-end ETL + IPF flow
(``core.clj:138-197``): impute a cost matrix (row-key × hour-of-day)
from a row-cost marginal and an hour-cost marginal, seeded by a
visit-count matrix, then divide element-wise to get cost-per-visit.

Reference roles → driver testdata mapping (FIXTURES.md §B):

* keyword          → part (``l_partkey``)
* keyword cost     → revenue by part: Σ ``l_extendedprice·(1−l_discount)``
* hour cost        → Σ ``events.value`` by ``hour(ts)``, rescaled so the
                     two marginals share a grand total (the reference's
                     precondition, README:7; its CSVs satisfied it by
                     construction, synthetic tables do not)
* visits matrix    → lineitem counts by (part, ``l_orderkey % 24``) — a
                     deterministic pseudo-hour so the seed has genuine
                     row×column interaction (every timestamp in
                     lineitem/orders sits at hour 0, so a real hour
                     column would collapse the seed to rank 1)
* zero-click filter→ parts with no revenue / hours with no events (C2)
* missing keywords → parts absent from the visit matrix, zero-padded
                     back in after Laplace smoothing (C5/C6, A9)

Everything below is lazy DataFrame composition — a single Catalyst
plan per output, materialized once by the IPF loop.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators import matrix as M
from alternating_least_squares_spark.operators.ipf import rake_fixed
from alternating_least_squares_spark.operators.ipf_dense import (
    IPFResult,
    converge_dense,
)
from alternating_least_squares_spark.sources import load_table

HOURS = 24


def part_hour_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE lineitem scan feeding the whole flagship: per
    (part, pseudo-hour) cell, the visit count AND the discounted
    revenue. The x-marginal (revenue per part) and the visit seed are
    both second-level aggregates/projections of this — without it the
    pipeline scanned lineitem three times (x marginal, seed visits,
    final-divide visits). At 100 TB that is two full scans + shuffles
    saved; the base is one shuffle on (part, hour)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(
            F.col("l_partkey").alias(M.R),
            (F.col("l_orderkey") % HOURS).alias(M.C),
        )
        .agg(
            F.count("*").cast("double").alias("visits"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


def allocate_costs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 1e-9,
    max_iterations: int = 50,
    base: DataFrame | None = None,
) -> IPFResult:
    """E1+E3: run IPF to impute the part×hour cost matrix.

    The (part, hour) base and the x marginal are computed ONCE and
    pinned with ``localCheckpoint``, so the IPF loop reads materialized
    results instead of re-scanning lineitem.

    The hour axis is bounded (≤ 24 values), so the loop is
    :func:`ipf_dense.converge_dense`. Below its cell gate
    (``MAX_DRIVER_CELLS``, |parts| × |hours|; the flagship is ~48k
    cells at sf0.01) it collects x and the visit seed once over Arrow
    and runs the sweeps in NumPy on the driver; above it the matrix
    stays partitioned by part across all sweeps and each sweep moves
    only 24 doubles between executors. The 24-row hour marginal is
    built from Arrow, so no path starts a Python worker.

    ``threshold`` here is RELATIVE to the marginal grand total (the
    loop stops when ‖x − rowsums‖ < threshold·Σx). The reference's
    absolute threshold (``core.clj:103``) is kept in ``converge_dense``
    itself, but an absolute 1e-9 is below the double-rounding floor
    once Σx reaches ~1e10 — the loop would spin at the fp plateau for
    the whole iteration budget.
    """
    if base is None:
        base = part_hour_base(spark, sf_dir).localCheckpoint(eager=True)
    # Σx and |x| ride the x checkpoint as observe metrics (the
    # ipf_dense sweep pattern), so no separate agg or count action.
    obs_x = Observation()
    x = (
        base.groupBy(F.col(M.R).alias(M.ID))
        .agg(F.sum("revenue").alias(M.V))
        .filter(F.col(M.V) != 0)
        .observe(
            obs_x,
            F.sum(M.V).alias("_xt"),
            F.count(F.lit(1)).alias("_nr"),
        )
        .localCheckpoint(eager=True)  # converge_dense reads it once or more
    )
    x_total = obs_x.get["_xt"]
    if x_total is None:
        raise ValueError(
            "no revenue rows in lineitem — cannot build the x marginal"
        )
    n_rows = obs_x.get["_nr"]
    # The 24-row hour marginal comes back in one Arrow read and is
    # rescaled there. Arrow-built, not a Python-list createDataFrame:
    # that one is a parallelize RDD, and converge_dense's collect of it
    # would start Python workers (~0.8 CPU-s) for 24 rows.
    y_raw = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.hour("ts").cast("long").alias(M.ID))
        .agg(F.sum("value").alias(M.V))
        .filter(F.col(M.V) != 0)
        .toArrow()
    )
    y_total = pc.sum(y_raw[M.V]).as_py()
    if not y_total:
        raise ValueError(
            "hour marginal is empty or sums to 0 — cannot rescale to "
            f"{x_total} (IPF needs both marginals on a shared total)"
        )
    y = spark.createDataFrame(
        pa.table(
            {
                M.ID: y_raw[M.ID],
                M.V: pc.multiply(y_raw[M.V], x_total / y_total),
            }
        )
    )
    # SPARSE seed + fused alpha-fill: every x part has >= 1 base row
    # (x is an aggregate OF base), so the seed_fill fast path is exact
    # here — no part can lose its state row, and the dense |part|x24
    # coordinate seed never materializes.
    visits = base.select(M.R, M.C, F.col("visits").alias(M.V))
    return converge_dense(
        x,
        y,
        visits,
        threshold=threshold * max(abs(x_total), 1.0),
        max_iterations=max_iterations,
        seed_fill=1e-15,
        x_total=x_total,
        n_rows=n_rows,
    )


NS_PER_HOUR = 3_600_000_000_000
US = 1_000_000  # micro-unit scale for the deterministic fixed variant


def cost_per_visit_fixed(
    spark: SparkSession, sf_dir: str, sweeps: int = 2
) -> DataFrame:
    """Deterministic fixed-sweep twin of :func:`cost_per_visit` — the
    WHOLE flagship chain (E2 seed build + marginal rescale + IPF sweeps
    + E3 finale, ``core.clj:138-197``) made bit-exact against a DuckDB
    oracle so the end-to-end pipeline gets a hash-checked driver row,
    not just its loop core (a17/a21 cover the loop in isolation).

    Determinism contract (the a17 integer-micro-unit pattern, extended
    to the full chain):

    * revenue is quantized PER ROW — ``floor(price·(1−disc)·1e6)`` is
      three IEEE double ops then an exact floor, bit-identical in both
      engines — so every aggregate over it is an exact BIGINT sum,
      order-independent;
    * ``events.value`` is quantized the same way; the y-rescale to the
      x grand total is one double division + one multiply on
      exactly-representable (or identically-rounded) BIGINT casts;
    * the seed is ``visits·1e6 + 1`` over the dense x-parts × y-hours
      domain (add-1µ Laplace, A9 analog), all integer arithmetic;
    * the sweeps are :func:`ipf.rake_fixed` over the (part, hour)
      axes: each half-sweep is ``floor(v/rowsum·marginal)`` in
      micro-units, re-floored to BIGINT before the next half-sweep (no
      rounding-mode ambiguity);
    * the finale divides cost by visits with the C10 zero-guard,
      floored to BIGINT micro-units.

    Long arithmetic bounds the variant at Σrevenue·1e6 < 2^63 (~9e12
    in currency units) — plenty for any oracle SF; the production path
    with real convergence control remains :func:`cost_per_visit` /
    ``ipf_dense.converge_dense``. Hour-of-day comes from the epoch-ns
    floor-div (pre-1970-safe, matching the e-suite oracles) rather
    than ``F.hour`` — identical for the driver's UTC testdata.

    Returns ``(part, hour, cost_us, visits, cost_per_visit_us)``, all
    integral.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.groupBy(
            F.col("l_partkey").alias(M.R),
            (F.col("l_orderkey") % HOURS).alias(M.C),
        )
        .agg(
            F.count("*").alias("visits"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * F.lit(1e6)
                )
            ).alias("rev_us"),
        )
        .localCheckpoint(eager=True)  # x, seed, and finale all read it
    )
    # Σx / Σy ride the marginal checkpoints as observe metrics, so no
    # separate agg action; same BIGINT sums.
    obs_x = Observation()
    x = (
        base.groupBy(M.R)
        .agg(F.sum("rev_us").alias("m_us"))
        .filter(F.col("m_us") != 0)
        .observe(obs_x, F.sum("m_us").alias("_xt"))
        .localCheckpoint(eager=True)
    )
    x_total = obs_x.get["_xt"]
    if not x_total:
        raise ValueError("no revenue in lineitem — empty x marginal")
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr(
        f"pmod((ts_ns - pmod(ts_ns, {NS_PER_HOUR})) DIV {NS_PER_HOUR}, 24)"
    )
    obs_y = Observation()
    yr = (
        ev.groupBy(hour.alias(M.C))
        .agg(F.sum(F.floor(F.col("value") * F.lit(1e6))).alias("raw_us"))
        .filter(F.col("raw_us") != 0)
        .observe(obs_y, F.sum("raw_us").alias("_yt"))
        .localCheckpoint(eager=True)
    )
    y_total = obs_y.get["_yt"]
    if not y_total:
        raise ValueError("no event value — empty y marginal")
    # one double divide then one multiply — same association as the
    # oracle's CAST(raw AS DOUBLE) * (CAST(xt AS DOUBLE)/CAST(yt AS DOUBLE))
    ratio = float(x_total) / float(y_total)
    y = yr.select(
        M.C,
        F.floor(F.col("raw_us").cast("double") * F.lit(ratio)).alias("m_us"),
    )
    mat = (
        x.select(M.R)
        .crossJoin(F.broadcast(y.select(M.C)))
        .join(base.select(M.R, M.C, "visits"), [M.R, M.C], "left")
        .select(
            M.R,
            M.C,
            (F.coalesce(F.col("visits"), F.lit(0)) * F.lit(US) + 1).alias(
                "v_us"
            ),
        )
    )
    mat = rake_fixed(mat, [(M.R, x), (M.C, y)], sweeps)
    return mat.join(base.select(M.R, M.C, "visits"), [M.R, M.C], "left").select(
        F.col(M.R).alias("part"),
        F.col(M.C).alias("hour"),
        F.col("v_us").alias("cost_us"),
        F.coalesce(F.col("visits"), F.lit(0)).cast("long").alias("visits"),
        F.when(F.coalesce(F.col("visits"), F.lit(0)) == 0, F.lit(0))
        .otherwise(
            F.floor(F.col("v_us").cast("double") / F.col("visits").cast("double"))
        )
        .alias("cost_per_visit_us"),
    )


def cost_per_visit(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 1e-9,
    max_iterations: int = 50,
) -> DataFrame:
    """The finale (``core.clj:191-197``, completed per SURVEY.md §0.4):
    imputed cost ÷ visit count with zero-guard → cost per visit per
    part per hour. Returns ``(part, hour, cost, visits, cost_per_visit)``."""
    base = part_hour_base(spark, sf_dir).localCheckpoint(eager=True)
    result = allocate_costs(
        spark,
        sf_dir,
        threshold=threshold,
        max_iterations=max_iterations,
        base=base,
    )
    cost = result.matrix.select(
        F.col(M.R), F.col(M.C), F.col(M.V).alias("cost")
    )
    v = base.select(M.R, M.C, F.col("visits").alias("visits"))
    return (
        cost.join(v, [M.R, M.C], "left")
        .select(
            F.col(M.R).alias("part"),
            F.col(M.C).alias("hour"),
            F.round("cost", 6).alias("cost"),
            F.coalesce("visits", F.lit(0.0)).alias("visits"),
            F.round(
                F.when(F.coalesce("visits", F.lit(0.0)) == 0, F.lit(0.0)).otherwise(
                    F.col("cost") / F.col("visits")
                ),
                6,
            ).alias("cost_per_visit"),
        )
    )
