"""Driver-contract query registry: every SURVEY.md §2 operator as a
named (spark_fn, oracle_sql) pair.

The driver runs each Spark query AND its DuckDB oracle side-by-side at
sf=0.01 and compares row-count + schema + order-insensitive value-hash
(CORRECTNESS_r{N}.json). Design rules that keep the hash stable:

* **Alias discipline** — every computed column carries the same name in
  the Spark plan and the SQL string (the compare sorts columns by name).
* **Exact arithmetic where possible** — the shared matrix/vector
  fixtures use ``SUM(l_quantity)`` / ``COUNT(*)`` which are integral
  doubles: sums are EXACT in IEEE double regardless of partition
  order, so Spark's distributed agg and DuckDB's serial agg agree to
  the last bit.
* **Decimal-cast sums for non-integral doubles** — order-dependent FP
  summation (prices, event values) goes through
  ``SUM(CAST(x AS DECIMAL(38,10)))``: decimal addition is exact and
  order-independent, so both engines agree exactly; cast back to
  double and round at the end.
* **Integer-nanos time arithmetic** — hour-of-day etc. derive from the
  raw epoch-nanos long (``ts_ns`` / DuckDB ``epoch_ns(ts)``) with
  integer division: timezone- and precision-independent.
* **Round ratios** — divisions are deterministic per-row, but we round
  (6–9 dp) anyway so formatting differences can't flap the hash.

Reference parity: operator numbering (A1…C10) follows SURVEY.md §2,
which maps each to ``cassandra-codes/alternating-least-squares``
``src/cost_allocation/core.clj`` / ``data.clj`` line numbers.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators import ipf as IPF
from alternating_least_squares_spark.operators.ipf_dense import converge_dense
from alternating_least_squares_spark.operators import hierarchy as H
from alternating_least_squares_spark.operators import matrix as M
from alternating_least_squares_spark.operators import relational as Rel
from alternating_least_squares_spark.functions import textfns as TX
from alternating_least_squares_spark.plans import cost_allocation as CA
from alternating_least_squares_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

HOURS = 24
NS_PER_HOUR = 3_600_000_000_000


def _floor_div(expr: str, d: int) -> str:
    """Spark SQL fragment for FLOOR division of a long by a positive
    literal. Spark's ``DIV`` truncates toward zero — wrong bucketing
    for pre-1970 timestamps (and ``F.window`` floors internally, so
    window twins MUST floor to match). ``expr - pmod(expr, d)`` is an
    exact multiple of ``d`` (pmod is the nonnegative remainder), so
    the DIV that follows is exact floor division in long arithmetic —
    no double rounding."""
    return f"((({expr}) - pmod(({expr}), {d})) DIV {d})"


def _floor_div_duck(expr: str, d: int) -> str:
    """DuckDB twin of :func:`_floor_div`. DuckDB's integer ``//`` also
    TRUNCATES toward zero (verified on the installed 1.0.0:
    ``-7 // 2 = -3``), so oracles must emulate floor the same way:
    ``(x % d + d) % d`` is the nonnegative remainder, subtracting it
    makes the ``//`` exact."""
    return f"((({expr}) - ((({expr}) % {d}) + {d}) % {d}) // {d})"

# ---------------------------------------------------------------------------
# shared fixtures — Spark side

def _qty_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix M(r=l_partkey, c=l_orderkey%24, v=Σ l_quantity).

    v is an integral double → exact under any summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias(M.R), (F.col("l_orderkey") % HOURS).alias(M.C)
    ).agg(F.sum("l_quantity").alias(M.V))


def _cnt_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias(M.R), (F.col("l_orderkey") % HOURS).alias(M.C)
    ).agg(F.count("*").cast("double").alias(M.V))


def _qty_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").alias(M.ID)).agg(
        F.sum("l_quantity").alias(M.V)
    )


def _cnt_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").alias(M.ID)).agg(
        F.count("*").cast("double").alias(M.V)
    )


def _hour_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy((F.col("l_orderkey") % HOURS).alias(M.ID)).agg(
        F.sum("l_quantity").alias(M.V)
    )


# shared fixtures — DuckDB side (CTE bodies)
M_SQL = (
    "SELECT l_partkey AS r, l_orderkey % 24 AS c, "
    "CAST(SUM(l_quantity) AS DOUBLE) AS v FROM lineitem GROUP BY 1, 2"
)
CNT_SQL = (
    "SELECT l_partkey AS r, l_orderkey % 24 AS c, "
    "CAST(COUNT(*) AS DOUBLE) AS v FROM lineitem GROUP BY 1, 2"
)
VQ_SQL = (
    "SELECT l_partkey AS id, CAST(SUM(l_quantity) AS DOUBLE) AS v "
    "FROM lineitem GROUP BY 1"
)
VC_SQL = (
    "SELECT l_partkey AS id, CAST(COUNT(*) AS DOUBLE) AS v "
    "FROM lineitem GROUP BY 1"
)
VH_SQL = (
    "SELECT l_orderkey % 24 AS id, CAST(SUM(l_quantity) AS DOUBLE) AS v "
    "FROM lineitem GROUP BY 1"
)


def _scratch_path(*segments: str) -> str:
    """Fixed scratch location for sink round-trip queries
    (/tmp/alternating_ls_<name>/...): a fresh mkdtemp per invocation
    would leak a table copy into /tmp every verify round, so these
    paths are STABLE and the writes use mode=overwrite."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), *segments)


def _hex4(col: Column) -> Column:
    """Deterministic content-hash bucket shared by x02/x03/x06 and the
    ML split (single definition: functions/hashing.hex4_bucket)."""
    from alternating_least_squares_spark.functions.hashing import hex4_bucket

    return hex4_bucket(col)


def _hex4_sql(col: str = "doc_id") -> str:
    """DuckDB twin of :func:`_hex4` (DuckDB lacks conv(); strpos over
    the hex alphabet decodes digit-by-digit)."""
    digit = (
        "CAST(strpos('0123456789abcdef', "
        "substr(md5(CAST({col} AS VARCHAR)), {i}, 1)) - 1 AS BIGINT)"
    )
    return "\n         + ".join(
        f"{digit.format(col=col, i=i + 1)} * {16 ** (3 - i)}"
        if i < 3
        else digit.format(col=col, i=i + 1)
        for i in range(4)
    )




def _round(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), n))
    return df


# ---------------------------------------------------------------------------
# §2.A linear-algebra operators


def q_a01_cmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hour_vector(spark, sf_dir)
    return M.cmap(lambda x, y: x + y, h, h)


SQL_A01 = f"""
WITH h AS ({VH_SQL})
SELECT a.id AS r, b.id AS c, a.v + b.v AS v FROM h a CROSS JOIN h b
"""


def q_a02_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.dot(_qty_vector(spark, sf_dir), _cnt_vector(spark, sf_dir))


SQL_A02 = f"""
WITH a AS ({VQ_SQL}), b AS ({VC_SQL})
SELECT CAST(SUM(a.v * b.v) AS DOUBLE) AS dot FROM a JOIN b USING (id)
"""


def q_a03_diff_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.diff_vector(_qty_vector(spark, sf_dir), _cnt_vector(spark, sf_dir))


SQL_A03 = f"""
WITH a AS ({VQ_SQL}), b AS ({VC_SQL})
SELECT id, a.v - b.v AS v FROM a JOIN b USING (id)
"""


def q_a04_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round(M.l2_norm(_qty_vector(spark, sf_dir)), ["l2_norm"], 6)


SQL_A04 = f"""
WITH a AS ({VQ_SQL})
SELECT round(sqrt(SUM(v * v)), 6) AS l2_norm FROM a
"""


def q_a05_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round(
        M.rmse(_qty_vector(spark, sf_dir), _cnt_vector(spark, sf_dir)), ["rmse"], 6
    )


SQL_A05 = f"""
WITH a AS ({VQ_SQL}), b AS ({VC_SQL})
SELECT round(sqrt(SUM((a.v - b.v) * (a.v - b.v))), 6) AS rmse
FROM a JOIN b USING (id)
"""


def q_a06_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.transpose(_qty_matrix(spark, sf_dir))


SQL_A06 = f"""
WITH m AS ({M_SQL}) SELECT c AS r, r AS c, v FROM m
"""


def q_a07_sum_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.sum_rows(_qty_matrix(spark, sf_dir))


SQL_A07 = f"""
WITH m AS ({M_SQL})
SELECT r AS id, CAST(SUM(v) AS DOUBLE) AS v FROM m GROUP BY 1
"""


def q_a08_sum_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.sum_cols(_qty_matrix(spark, sf_dir))


SQL_A08 = f"""
WITH m AS ({M_SQL})
SELECT c AS id, CAST(SUM(v) AS DOUBLE) AS v FROM m GROUP BY 1
"""


def q_a09_laplace_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # α=0.5 (exactly representable) so the smoothing is visible at 6 dp;
    # the reference's production α is 1e-15 (core.clj:187).
    return M.laplace_smooth(M.densify(_qty_matrix(spark, sf_dir)), 0.5)


SQL_A09 = f"""
WITH m AS ({M_SQL}),
     rd AS (SELECT DISTINCT r FROM m),
     cd AS (SELECT DISTINCT c FROM m)
SELECT rd.r, cd.c, COALESCE(m.v, 0.0) + 0.5 AS v
FROM rd CROSS JOIN cd LEFT JOIN m ON m.r = rd.r AND m.c = cd.c
"""


def q_a10_weight_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round(M.weight_matrix(_qty_matrix(spark, sf_dir)), [M.V], 9)


SQL_A10 = f"""
WITH m AS ({M_SQL})
SELECT r, c,
       round(CASE WHEN SUM(v) OVER (PARTITION BY r) = 0 THEN 0.0
                  ELSE v / SUM(v) OVER (PARTITION BY r) END, 9) AS v
FROM m
"""


def q_a11_apply_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = M.weight_matrix(_qty_matrix(spark, sf_dir))
    return _round(M.apply_weights(_cnt_vector(spark, sf_dir), w), [M.V], 9)


SQL_A11 = f"""
WITH m AS ({M_SQL}), s AS ({VC_SQL}),
     w AS (SELECT r, c, v / SUM(v) OVER (PARTITION BY r) AS v FROM m)
SELECT w.r, w.c, round(w.v * s.v, 9) AS v
FROM w JOIN s ON s.id = w.r
"""


def q_a12_add_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    mat = _qty_matrix(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    row_labels = part.select(
        F.col("p_partkey").alias(M.ID), F.col("p_name").alias("label")
    )
    col_labels = (
        mat.select(M.C).distinct().select(
            F.col(M.C).alias(M.ID), F.col(M.C).cast("string").alias("label")
        )
    )
    return M.add_labels(mat, row_labels, col_labels)


SQL_A12 = f"""
WITH m AS ({M_SQL})
SELECT p.p_name AS row_label, CAST(m.c AS VARCHAR) AS col_label, m.v AS v
FROM m LEFT JOIN part p ON p.p_partkey = m.r
"""


def q_a13_mmult(spark: SparkSession, sf_dir: str) -> DataFrame:
    mat = _qty_matrix(spark, sf_dir)
    return M.mmult(M.transpose(mat), mat)  # Mᵀ·M → 24×24 gram matrix


SQL_A13 = f"""
WITH m AS ({M_SQL})
SELECT a.c AS r, b.c AS c, CAST(SUM(a.v * b.v) AS DOUBLE) AS v
FROM m a JOIN m b ON a.r = b.r GROUP BY 1, 2
"""


def q_a14_seed_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hour_vector(spark, sf_dir)
    return M.seed_matrix(h, h)


SQL_A14 = f"""
WITH h AS ({VH_SQL})
SELECT a.id AS r, b.id AS c, a.v * b.v AS v FROM h a CROSS JOIN h b
"""


def q_a15_optimize_marginal(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = M.optimize_marginal(_cnt_vector(spark, sf_dir), _qty_matrix(spark, sf_dir))
    return _round(out, [M.V], 9)


SQL_A15 = f"""
WITH m AS ({M_SQL}), g AS ({VC_SQL})
SELECT m.r, m.c,
       round(CASE WHEN SUM(m.v) OVER (PARTITION BY m.r) = 0 THEN m.v
                  ELSE m.v / SUM(m.v) OVER (PARTITION BY m.r) * g.v END,
             9) AS v
FROM m JOIN g ON g.id = m.r
"""


def q_a16_ipf_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One IPF sweep with a deterministic mid-quantize: the row-fitted
    matrix is FLOORED to integer micro-units before the column pass
    (the a17 pattern). floor of identical doubles is identical on both
    engines (round() is not: half-up vs half-even can flip on exact
    .5s like 1e6/2^7), and the column pass then window-sums INTEGRAL
    doubles — exact in any order below 2^53, so the sum needs no
    decimal cast to be order-independent. The micro scale cancels in
    the column normalization (v_us/colsum_us is scale-free)."""
    mat = _qty_matrix(spark, sf_dir)
    x = _qty_vector(spark, sf_dir)  # row marginal (Σ = total qty)
    y = _hour_vector(spark, sf_dir)  # col marginal (Σ = total qty)
    row_fit = M.optimize_marginal(x, mat).withColumn(
        M.V, F.floor(F.col(M.V) * F.lit(1e6)).cast("double")
    )
    col_fit = M.transpose(
        M.optimize_marginal(y, M.transpose(row_fit))
    )
    return _round(col_fit, [M.V], 6)


SQL_A16 = f"""
WITH m AS ({M_SQL}), x AS ({VQ_SQL}), y AS ({VH_SQL}),
     rf AS (
       SELECT m.r, m.c,
              CAST(floor(CASE WHEN SUM(m.v) OVER (PARTITION BY m.r) = 0
                              THEN m.v
                              ELSE m.v / SUM(m.v) OVER (PARTITION BY m.r)
                                   * x.v END
                         * 1000000) AS DOUBLE) AS v
       FROM m JOIN x ON x.id = m.r
     )
SELECT rf.r, rf.c,
       round(CASE WHEN SUM(rf.v) OVER (PARTITION BY rf.c) = 0 THEN rf.v
                  ELSE rf.v / SUM(rf.v) OVER (PARTITION BY rf.c) * y.v END,
             6) AS v
FROM rf JOIN y ON y.id = rf.c
"""


def _rake_fixed_ctes(
    start: str, cols: tuple[str, ...], marginals: list[tuple[str, str]],
    sweeps: int,
) -> tuple[list[str], str]:
    """:func:`ipf.rake_fixed`'s arithmetic as unrolled SQL, the one
    spelling every raking oracle shares. ``start`` is a relation of
    ``cols`` plus ``v_us`` (the cell mass in micro-units); each
    marginal is ``(axis, relation of (axis, m_us))``. Every axis pass
    is ``floor(v / Σv · m)`` over the axis slice, and a zero slice
    keeps mass 0. Returns the pass CTEs and the name of the last one.

    AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and an
    unrolled chain would then re-evaluate every predecessor pass."""
    sel = ", ".join(f"t.{col}" for col in cols)
    ctes, prev = [], start
    for _ in range(sweeps):
        for axis, marg in marginals:
            name = f"rake{len(ctes) + 1}"
            ctes.append(f"""{name} AS MATERIALIZED (
  SELECT {sel},
         CAST(CASE WHEN SUM(t.v_us) OVER (PARTITION BY t.{axis}) = 0
                   THEN 0
                   ELSE floor(CAST(t.v_us AS DOUBLE)
                              / CAST(SUM(t.v_us)
                                     OVER (PARTITION BY t.{axis})
                                     AS DOUBLE)
                              * CAST(m.m_us AS DOUBLE))
              END AS BIGINT) AS v_us
  FROM {prev} t JOIN {marg} m ON m.{axis} = t.{axis}
)""")
            prev = name
    return ctes, prev


A17_SWEEPS = 6


def q_a17_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 converge (reference ``core.clj:99-119``) as a FIXED-sweep
    rake on :func:`ipf.rake_fixed`, so the whole iterative loop is
    hash-checkable against an unrolled DuckDB oracle.

    Determinism contract: the matrix and both marginals live in integer
    micro-units (``floor(v * 1e6)`` as long). Long sums are exact and
    order-independent, each rescale is one double division and one
    multiply on exact inputs (bit-identical IEEE ops in both engines),
    and ``floor`` re-quantizes without any rounding-mode ambiguity
    (Spark HALF_UP vs DuckDB half-even never enters). The
    stop-controlled loop is ``ipf_dense.converge_dense`` (the flagship
    and a21)."""
    mat = _qty_matrix(spark, sf_dir).select(
        M.R, M.C, F.floor(F.col(M.V) * F.lit(1e6)).cast("long").alias("v_us")
    )
    marginals = [
        (
            key,
            marg.select(
                F.col(M.ID).alias(key),
                F.floor(F.col(M.V) * F.lit(1e6)).cast("long").alias("m_us"),
            ),
        )
        for key, marg in (
            (M.R, _qty_vector(spark, sf_dir)),
            (M.C, _hour_vector(spark, sf_dir)),
        )
    ]
    return IPF.rake_fixed(mat, marginals, A17_SWEEPS).select(M.R, M.C, "v_us")


def _a17_oracle() -> str:
    ctes = [
        f"m0 AS (SELECT r, c, CAST(floor(v * 1000000.0) AS BIGINT) AS v_us"
        f" FROM ({M_SQL}))",
        f"x AS (SELECT id AS r, CAST(floor(v * 1000000.0) AS BIGINT) AS m_us"
        f" FROM ({VQ_SQL}))",
        f"y AS (SELECT id AS c, CAST(floor(v * 1000000.0) AS BIGINT) AS m_us"
        f" FROM ({VH_SQL}))",
    ]
    passes, last = _rake_fixed_ctes(
        "m0", (M.R, M.C), [(M.R, "x"), (M.C, "y")], A17_SWEEPS
    )
    return "WITH " + ",\n".join(ctes + passes) + f"\nSELECT r, c, v_us FROM {last}"


SQL_A17 = _a17_oracle()


RAKE3_SWEEPS = 3
RAKE3_AXES = ("flag", "status", "ship_month")


def q_a22_rake3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way IPF raking — the N-dimensional generalization of the
    reference's whole scope (``core.clj:99-119`` rakes a 2-D matrix to
    row/col marginals; survey statisticians rake 3+ dimensions with
    the same Deming–Stephan alternating scaling). The tensor is
    (l_returnflag × l_linestatus × ship month); the three marginals
    are Σ l_quantity per axis — derived from the SAME scan, so their
    grand totals agree exactly — and the seed is the observed CELL
    COUNT profile (a genuinely different shape, so the rake does real
    work). Fixed sweep R=3 (9 axis passes), the a17 twin discipline:
    exactly what an unrolled oracle can state.

    Determinism contract (the a16/a17 micro-unit pattern, verbatim):
    cells live in integer micro-units between passes; each axis pass
    window-sums exact longs (order-independent below 2^53), does ONE
    double division + multiply on exact inputs, and re-quantizes with
    floor (no rounding-mode ambiguity). Distributed shape: one axis
    pass = one window-sum keyed on that axis + one broadcast marginal
    join — O(cells) per pass, 3 keyed exchanges per sweep, nothing
    driver-side; the same :func:`ipf.rake_fixed` kernel as a17 and
    the flagship's fixed-sweep twin, over three axes."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
        F.month("l_shipdate").cast("long").alias("ship_month"),
        F.col("l_quantity").alias("qty"),
    )
    cells = base.groupBy(*RAKE3_AXES).agg(
        (F.count("*") * F.lit(1_000_000)).cast("long").alias("v_us")
    )
    marginals = [
        (
            axis,
            base.groupBy(axis).agg(
                F.floor(F.sum("qty") * F.lit(1e6))
                .cast("long")
                .alias("m_us")
            ),
        )
        for axis in RAKE3_AXES
    ]
    cur = IPF.rake_fixed(cells, marginals, RAKE3_SWEEPS)
    return cur.select(
        "flag",
        "status",
        "ship_month",
        "v_us",
        F.round(
            F.col("v_us").cast("double") / F.lit(1_000_000.0), 6
        ).alias("alloc"),
    )


def _a22_sql() -> str:
    head = """
WITH base AS MATERIALIZED (
  SELECT l_returnflag AS flag, l_linestatus AS status,
         CAST(month(l_shipdate) AS BIGINT) AS ship_month,
         l_quantity AS qty
  FROM lineitem
),
c0 AS MATERIALIZED (
  SELECT flag, status, ship_month,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS v_us
  FROM base GROUP BY 1, 2, 3
),
m_flag AS MATERIALIZED (
  SELECT flag, CAST(floor(SUM(qty) * 1000000) AS BIGINT) AS m_us
  FROM base GROUP BY 1
),
m_status AS MATERIALIZED (
  SELECT status, CAST(floor(SUM(qty) * 1000000) AS BIGINT) AS m_us
  FROM base GROUP BY 1
),
m_ship_month AS MATERIALIZED (
  SELECT ship_month,
         CAST(floor(SUM(qty) * 1000000) AS BIGINT) AS m_us
  FROM base GROUP BY 1
)"""
    passes, last = _rake_fixed_ctes(
        "c0", RAKE3_AXES, [(a, f"m_{a}") for a in RAKE3_AXES], RAKE3_SWEEPS
    )
    return head + ",\n" + ",\n".join(passes) + f"""
SELECT flag, status, ship_month, v_us,
       round(CAST(v_us AS DOUBLE) / 1000000.0, 6) AS alloc
FROM {last}
"""


SQL_A22 = _a22_sql()


def q_a21_converge_coordinate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-controlled IPF loop (:func:`ipf_dense.converge_dense`,
    reference ``core.clj:99-119``) run for a fixed 2 iterations and
    hash-checked — a17 covers the fixed-sweep rake, this entry
    executes the flagship's own loop with its marginal-total
    precondition, loss tracking and stop logic.

    Determinism contract (no mid-loop quantization, unlike a17): the
    fixture matrix has exactly ONE cell per row key (c is a function
    of r), so the row pass lands each cell on its row's x exactly, and
    the column pass then sums INTEGRAL doubles (Σ l_quantity) — exact
    in any order below 2^53 — before one division and one multiply per
    cell. ``threshold=0`` disables both data-dependent stop criteria,
    so the loop runs exactly ``max_iterations`` sweeps regardless of
    float noise in the loss. The loop returns every column of the
    y domain; the inner join keeps the seed's cells."""
    li = load_table(spark, sf_dir, "lineitem")
    mat = li.groupBy(
        F.col("l_partkey").alias(M.R),
        (F.col("l_partkey") % HOURS).alias(M.C),
    ).agg(F.sum("l_quantity").alias(M.V))
    x = _qty_vector(spark, sf_dir)
    y = li.groupBy((F.col("l_partkey") % HOURS).alias(M.ID)).agg(
        F.sum("l_quantity").alias(M.V)
    )
    res = converge_dense(x, y, mat, threshold=0.0, max_iterations=2)
    cells = res.matrix.join(mat.select(M.R, M.C), [M.R, M.C])
    return _round(cells, [M.V], 6)


def _a21_oracle() -> str:
    m_sql = (
        "SELECT l_partkey AS r, l_partkey % 24 AS c, "
        "CAST(SUM(l_quantity) AS DOUBLE) AS v FROM lineitem GROUP BY 1, 2"
    )
    yk_sql = (
        "SELECT l_partkey % 24 AS id, CAST(SUM(l_quantity) AS DOUBLE) AS v "
        "FROM lineitem GROUP BY 1"
    )
    ctes = [f"m0 AS ({m_sql})", f"x AS ({VQ_SQL})", f"y AS ({yk_sql})"]
    prev = "m0"
    for i in range(2):
        for half, (marg, key) in (("r", ("x", "r")), ("c", ("y", "c"))):
            name = f"s{i}{half}"
            ctes.append(
                f"{name} AS (SELECT m.r, m.c, "
                f"CASE WHEN SUM(m.v) OVER (PARTITION BY m.{key}) = 0 "
                f"THEN m.v "
                f"ELSE m.v / SUM(m.v) OVER (PARTITION BY m.{key}) * g.v END "
                f"AS v FROM {prev} m JOIN {marg} g ON g.id = m.{key})"
            )
            prev = name
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT r, c, round(v, 6) AS v FROM {prev}"
    )


SQL_A21 = _a21_oracle()


def q_a18_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round(M.normalize_matrix(_qty_matrix(spark, sf_dir)), [M.V], 9)


SQL_A18 = f"""
WITH m AS ({M_SQL}),
     s AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM m)
SELECT r, c,
       round((v - mn) / (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END), 9) AS v
FROM m, s
"""


def q_a19_error_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.error_matrix(_qty_matrix(spark, sf_dir), _cnt_matrix(spark, sf_dir))


SQL_A19 = f"""
WITH p AS ({M_SQL}), q AS ({CNT_SQL})
SELECT p.r, p.c, abs(p.v - q.v) AS v
FROM p JOIN q ON p.r = q.r AND p.c = q.c
"""


def q_a20_matrix_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2,1 norm. Row norms are deterministic (integral v → exact Σv²),
    rounded to 6 dp, then summed in DECIMAL so the cross-row total is
    order-independent."""
    mat = _qty_matrix(spark, sf_dir)
    return (
        mat.groupBy(M.R)
        .agg(F.round(F.sqrt(F.sum(F.col(M.V) * F.col(M.V))), 6).alias("_n"))
        .agg(
            F.sum(F.col("_n").cast("decimal(38,9)"))
            .cast("double")
            .alias("matrix_norm")
        )
    )


SQL_A20 = f"""
WITH m AS ({M_SQL}),
     rn AS (SELECT r, round(sqrt(SUM(v * v)), 6) AS n FROM m GROUP BY r)
SELECT CAST(SUM(CAST(n AS DECIMAL(38,9))) AS DOUBLE) AS matrix_norm FROM rn
"""


def q_c09_ones(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.ones_matrix(spark, HOURS, HOURS)


SQL_C09 = """
SELECT a.r, b.c, CAST(1.0 AS DOUBLE) AS v
FROM generate_series(0, 23) a(r) CROSS JOIN generate_series(0, 23) b(c)
"""


def q_c10_safe_divide(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = _qty_matrix(spark, sf_dir)
    y = _cnt_matrix(spark, sf_dir).withColumn(M.V, F.col(M.V) - F.lit(1.0))
    return _round(M.safe_divide(x, y), [M.V], 9)


SQL_C10 = f"""
WITH x AS ({M_SQL}), y0 AS ({CNT_SQL}),
     y AS (SELECT r, c, v - 1.0 AS v FROM y0)
SELECT x.r, x.c,
       round(CASE WHEN y.v = 0 THEN 0.0 ELSE x.v / y.v END, 9) AS v
FROM x JOIN y ON x.r = y.r AND x.c = y.c
"""


# ---------------------------------------------------------------------------
# §2.B / §2.C relational operators


def q_b03_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    left = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    right = cust.filter(F.col("c_acctbal") > 1000).select(
        F.col("c_custkey").alias("custkey")
    )
    return Rel.symmetric_diff(left, right, "custkey")


SQL_B03 = """
WITH l AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal < 0),
     r AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000)
SELECT COALESCE(l.custkey, r.custkey) AS custkey,
       CASE WHEN r.custkey IS NULL THEN 'left' ELSE 'right' END AS side
FROM l FULL OUTER JOIN r ON l.custkey = r.custkey
WHERE l.custkey IS NULL OR r.custkey IS NULL
"""


def q_c01_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")


SQL_C01 = """
SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey
"""


def q_c03_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 — pure projection (reference `map first/second`, drop-key
    `rest`, drop-total `butlast`, core.clj:149-163,180-184). The point
    at scale: the select reaches the parquet reader as ReadSchema —
    only these 3 of part's 6 columns are decoded."""
    part = load_table(spark, sf_dir, "part")
    return part.select("p_partkey", "p_name", "p_retailprice")


SQL_C03 = """
SELECT p_partkey, p_name, p_retailprice FROM part
"""


def q_c07_sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — `(sort-by first rows)` (core.clj:176,178): order by the
    row key column. Distinct from C1 (sorted scan keeps the scan's
    own key); this sorts DERIVED rows by a grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_qty")
        )
        .orderBy("part")
    )


SQL_C07 = """
SELECT l_partkey AS part,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE), 6) AS total_qty
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_b01_b02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+B2 — open-csv/save-csv (data.clj:5-15): write the nation
    table to CSV with an explicit schema, read it back, return the
    rows. The oracle is the source table itself, so a hash match
    proves the CSV sink+source round-trip is lossless."""
    from alternating_least_squares_spark.sources import catalog

    nation = load_table(spark, sf_dir, "nation")
    path = _scratch_path("alternating_ls_csv_roundtrip", "nation")
    catalog.write_csv(nation, path)
    return catalog.read_csv(spark, path, schema=catalog.TABLES["nation"])


SQL_B01 = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def q_b04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 sink-family completion: ORC write → read of the supplier
    table (includes a double column, so binary-columnar losslessness
    is what the hash match proves). Same fixed-path/overwrite pattern
    as the CSV round-trip."""
    from alternating_least_squares_spark.sources import catalog

    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _scratch_path("alternating_ls_orc_roundtrip", "supplier")
    catalog.write_orc(supplier, path)
    return catalog.read_orc(spark, path, schema=catalog.TABLES["supplier"])


SQL_B04 = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


def q_b05_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 sink-family completion: JSON-lines write → schema'd read of
    the nation table (ints + strings — text-format float round-trip
    risk deliberately excluded; doubles belong in the binary formats).
    Explicit read schema, per the catalog contract: no inference scan,
    drift fails at plan time."""
    from alternating_least_squares_spark.sources import catalog

    nation = load_table(spark, sf_dir, "nation")
    path = _scratch_path("alternating_ls_jsonl_roundtrip", "nation")
    catalog.write_json(nation, path)
    out = catalog.read_json(spark, path, schema=catalog.TABLES["nation"])
    return out.select("n_nationkey", "n_name", "n_regionkey")


SQL_B05 = SQL_B01


def q_b08_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-file corpus ingest (``spark.read.text``) — the line
    format crawl dumps and corpus exports actually arrive in, and the
    one source family b01/b04/b05/b07 didn't cover. Round trip: each
    document becomes ONE line ``doc_id \\t hex(utf-8 text)`` — hex
    makes the payload newline/tab-proof, the property that makes a
    line format safe for arbitrary text at all. Hex, NOT base64:
    Spark's ``base64`` emits RFC-2045 MIME chunking, inserting a
    newline every 76 chars, which shatters a line format (hex is 2×
    the bytes vs base64's 1.33× — the price of an unchunked codec
    with identical semantics on both engines) — written with
    the text sink, read back with the text source, split and decoded.
    Output (doc_id, n_chars, text_md5) is recomputed by the oracle
    from the parquet originals, so a hash match proves the line
    codec round-trips every byte. NULL text normalizes to '' (a line
    format has no NULL; documented lossy edge, same coalesce both
    sides). At 100 TB the text source is splittable by line and the
    encode/split/decode are all codegen string ops at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(
        "\t",
        F.col("doc_id").cast("string"),
        F.hex(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")),
    )
    path = _scratch_path("alternating_ls_b08", "documents_txt")
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
        .cast("long")
        .alias("doc_id"),
        F.decode(
            F.unhex(
                F.split_part(F.col("value"), F.lit("\t"), F.lit(2))
            ),
            "UTF-8",
        ).alias("text"),
    )
    return back.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_rt"),
        F.md5("text").alias("text_md5"),
    )


SQL_B08 = """
SELECT doc_id,
       CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars_rt,
       md5(coalesce(text, '')) AS text_md5
FROM documents
"""


def q_b06_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record CSV ingestion — the PERMISSIVE +
    columnNameOfCorruptRecord contract every landing-zone reader
    needs: corruption is PLANTED by a deterministic rule (rows with
    l_orderkey % 97 == 0 get a non-numeric quantity), the file is
    re-read permissively, and the output accounts every row as good
    (parsed, aggregated) or bad (quarantined via the corrupt-record
    column). The oracle recomputes both populations from the CLEAN
    source table, so the hash proves the reader dropped nothing,
    quarantined exactly the planted rows, and parsed the rest
    losslessly. At 100 TB this is one narrow pass; FAILFAST would
    abort the job on one bad line and DROPMALFORMED would silently
    lose data — the quarantine column is the scalable posture."""
    path = _scratch_path("alternating_ls_b06", "lineitem_dirty")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    dirty = li.select(
        F.concat_ws(
            ",",
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.when(F.col("l_orderkey") % 97 == 0, F.lit("oops")).otherwise(
                F.col("l_quantity").cast("string")
            ),
        ).alias("value")
    )
    dirty.write.mode("overwrite").text(path)
    schema = (
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "_corrupt string"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_bad"),
        F.round(
            F.sum(
                F.when(
                    F.col("_corrupt").isNull(),
                    F.col("l_quantity").cast("decimal(38,10)"),
                )
            ).cast("double"),
            6,
        ).alias("sum_qty_good"),
    )


SQL_B06 = """
SELECT COUNT(*) FILTER (WHERE l_orderkey % 97 != 0) AS n_good,
       COUNT(*) FILTER (WHERE l_orderkey % 97 = 0) AS n_bad,
       round(CAST(SUM(CASE WHEN l_orderkey % 97 != 0
                           THEN CAST(l_quantity AS DECIMAL(38,10)) END)
                  AS DOUBLE), 6) AS sum_qty_good
FROM lineitem
"""


def q_x08_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.salted_agg):
    lineitem grouped by l_returnflag — 3 keys over ~600k rows at
    sf0.1, the textbook hot-key shape where a single-phase shuffle
    sends each key's entire mass to one reducer. The salt spreads
    phase 1 over n_salts reducers per key; phase 2 combines n_salts
    partials per key. Oracle is the UNSALTED plain GROUP BY: the hash
    match proves salting never changes results (sum of integral
    doubles + count + max are associative-exact, so the two-phase
    regroup is bit-identical)."""
    from alternating_least_squares_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": F.sum("l_quantity"),
            "n_items": F.count("*"),
            "max_price": F.max("l_extendedprice"),
        },
        n_salts=16,
        reaggs={
            "sum_qty": F.sum("sum_qty"),
            "n_items": F.sum("n_items"),
            "max_price": F.max("max_price"),
        },
    )


SQL_X08 = """
SELECT l_returnflag,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_items,
       MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1
"""


def q_x12_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe replicated join (operators/skew.salted_join): the
    lineitem probe side's hot order keys are sprayed over n_salts
    sub-keys while the orders lookup side is replicated n_salts times
    — the remedy when the lookup side exceeds broadcast limits but a
    hot probe key would hold one sort-merge reducer hostage (the case
    AQE's skew split handles only partially: it splits partitions,
    not a single giant key's sort run). Oracle is the plain UNSALTED
    join + GROUP BY: the hash match proves salting changes movement,
    never results (each probe row still meets each lookup row exactly
    once; revenue rides a decimal cast so partial-agg order cannot
    flap the sum)."""
    from alternating_least_squares_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, ords, ["l_orderkey"], n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,10)"
                )
            ).cast("double"),
            6,
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_X12 = """
SELECT o_orderpriority,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS DOUBLE), 6) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# Context-window capacity for t13 sequence packing (tokens).
PACK_CTX = 2048


def q_t13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed-capacity training
    context windows ("bins" of PACK_CTX tokens), the step between
    tokenization and batching in every LLM pre-training pipeline.

    Offset packing, sharded per source: within each source shard,
    docs are laid out in doc_id order and a doc's bin is its running
    token offset ÷ capacity. The per-shard window cumsum is the whole
    cost — packing parallelizes over shards exactly like production
    packers (a single GLOBAL ordered cumsum would serialize at 100 TB;
    partitionBy(source) keeps every shard's window local to one
    reducer). The flip side: one HOT source serializes its shard
    (correctness pinned by tests/test_skew.py's 95%-hot fixture) — if
    a real corpus has one, split that source into sub-shards (salt on
    doc_id ranges, operators/skew.py) and pack each independently;
    bins are shard-local so no stitching is needed."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = TX.token_count(F.col("text")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("offset"),
    ).withColumn(
        "bin_id", F.floor(F.col("offset") / F.lit(PACK_CTX)).cast("long")
    )




def q_x09_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: lineitem and orders are written as
    8-bucket tables hashed AND sorted on the order key, then joined on
    it — the physical plan has NO Exchange and NO Sort on either side
    (asserted in tests/test_plans.py). This is the pre-shuffle pattern
    that turns every repeated fact-fact join at 100 TB from a full
    shuffle into a zip of matching buckets; the one-time bucketed
    write amortizes across every downstream join/agg on that key.
    Oracle: the same join from the raw tables — bucketing must never
    change results, only movement."""
    import os

    base = _scratch_path("alternating_ls_bucketed")
    for name, df, key in (
        (
            "x09_li_bucketed",
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            "l_orderkey",
        ),
        (
            "x09_ord_bucketed",
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            "o_orderkey",
        ),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    li = spark.table("x09_li_bucketed")
    ords = spark.table("x09_ord_bucketed")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(38,10)")
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_X09 = """
SELECT o_orderpriority,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_x11_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling pass (the ANALYZE TABLE / data-catalog stats
    every ingestion pipeline runs before anything else): one scan of
    orders producing per-column row count, null count, distinct count,
    and min/max rendered as strings. ONE wide aggregate — count,
    count_distinct, min, max are all partial-aggregable, so the scan
    is a single map-side-combined pass regardless of table width; the
    per-column rows are unpivoted from the 1-row aggregate with a
    stack() over literals (no second scan).

    Exact count_distinct (not approx_count_distinct) for oracle
    parity; the approximate path is g04's HLL sketch query."""
    cols = ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


SQL_X11 = """
WITH a AS (
  SELECT count(*) AS n,
         count(o_orderkey) AS k1, count(DISTINCT o_orderkey) AS d1,
         CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
         count(o_custkey) AS k2, count(DISTINCT o_custkey) AS d2,
         CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
         count(o_orderpriority) AS k3, count(DISTINCT o_orderpriority) AS d3,
         CAST(min(o_orderpriority) AS VARCHAR) AS mn3, CAST(max(o_orderpriority) AS VARCHAR) AS mx3,
         count(o_totalprice) AS k4, count(DISTINCT o_totalprice) AS d4,
         CAST(min(o_totalprice) AS VARCHAR) AS mn4, CAST(max(o_totalprice) AS VARCHAR) AS mx4
  FROM orders
)
SELECT 'o_orderkey' AS column, n AS n_rows, n - k1 AS n_nulls, d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM a
UNION ALL
SELECT 'o_custkey', n, n - k2, d2, mn2, mx2 FROM a
UNION ALL
SELECT 'o_orderpriority', n, n - k3, d3, mn3, mx3 FROM a
UNION ALL
SELECT 'o_totalprice', n, n - k4, d4, mn4, mx4 FROM a
"""


def q_x10_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned read: events
    written `partitionBy(event_type)`, then aggregated for ONE type.
    The read plan must carry the predicate as a PartitionFilter — the
    scan touches a single directory, not the table (asserted in
    tests/test_storage.py). At 100 TB, partitioning on the dominant
    filter column is the first lever before any engine work: pruning
    is O(dirs skipped) and happens at file-listing time.

    Oracle: the same aggregate over the unpartitioned source — the
    layout must change IO, never results. (value is re-read from the
    partitioned copy, proving the roundtrip too.)"""
    from alternating_least_squares_spark.sources import catalog

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    path = _scratch_path("alternating_ls_partitioned", "events")
    catalog.write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type") == "click")
        .groupBy((F.col("user_id") % 100).alias("user_bucket"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("click_value"),
        )
    )


SQL_X10 = """
SELECT user_id % 100 AS user_bucket,
       COUNT(*) AS n_clicks,
       round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS click_value
FROM events WHERE event_type = 'click'
GROUP BY 1
"""


def q_c12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (completing the set-op family: union → C6,
    difference → B3): customers that placed orders vs customers that
    never did, tagged in one result. Both distinct set ops plan as
    aggregates over a single shuffle."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orderers = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    with_orders = cust.intersect(orderers).withColumn(
        "status", F.lit("has_orders")
    )
    # subtract() IS SQL's EXCEPT (distinct); exceptAll().distinct()
    # diverges when the left side itself holds duplicate rows
    without = cust.subtract(orderers).withColumn(
        "status", F.lit("no_orders")
    )
    return with_orders.unionByName(without)


SQL_C12 = """
SELECT c_custkey, 'has_orders' AS status FROM (
  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders
)
UNION ALL
SELECT c_custkey, 'no_orders' AS status FROM (
  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders
)
"""


def q_c11_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (operators/relational.py): apply a 10%-discount
    "update set" for BUILDING-segment customers onto the customer
    table — updated rows replaced wholesale, others kept. Oracle:
    the same full-outer + row-pick in SQL."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 0.9, 6).alias("c_acctbal"),
    )
    out = Rel.upsert(cust, updates, key="c_custkey")
    return out.select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 6).alias("c_acctbal")
    )


SQL_C11 = """
WITH u AS (
  SELECT c_custkey, c_mktsegment, round(c_acctbal * 0.9, 6) AS c_acctbal
  FROM customer WHERE c_mktsegment = 'BUILDING'
)
SELECT c.c_custkey,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment,
       round(CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE c.c_acctbal END, 6) AS c_acctbal
FROM customer c LEFT JOIN u USING (c_custkey)
"""


def _snapshot_table_for(spark: SparkSession, sf_dir: str, name: str) -> str:
    """(Re)build the versioned demo table for the ac* queries from
    orders: v0 = keys with o_orderkey % 4 != 0 · v1 = MERGE of doubled
    prices for keys with o_orderkey % 8 in {0, 1} (%8==1 updates
    existing rows, %8==0 inserts new keys) · v2 = DELETE of keys with
    o_orderkey % 8 == 2. Rebuilt from scratch each run (snapshot
    versions are append-only, so a stable path would grow per verify
    round)."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(f"alternating_ls_snapshot_{name}", sf_dir.strip("/").replace("/", "_"))
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.filter(F.col("o_orderkey") % 4 != 0), path, key="o_orderkey"
    )
    updates = orders.filter(F.col("o_orderkey") % 8 <= 1).select(
        "o_orderkey", "o_custkey", F.round(F.col("price") * 2, 6).alias("price")
    )
    SN.merge_upsert(updates, path)
    SN.delete_where(path, "o_orderkey % 8 = 2", spark)
    return path


def q_ac01_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot table (sources/snapshot.py — copy-on-write
    parquet + manifest log, Delta/Iceberg pattern): read LATEST after
    create → MERGE (file-pruned by manifest key stats) → DELETE. The
    oracle recomputes the surviving row set with plain SQL over
    orders, so a hash match proves the whole commit/prune/rewrite
    machinery preserves exact row semantics."""
    from alternating_least_squares_spark.sources import snapshot as SN

    path = _snapshot_table_for(spark, sf_dir, "ac01")
    return SN.read_snapshot(spark, path)


SQL_AC01 = """
SELECT o_orderkey, o_custkey,
       round(CASE WHEN o_orderkey % 8 <= 1 THEN round(o_totalprice, 6) * 2
                  ELSE o_totalprice END, 6) AS price
FROM orders
WHERE (o_orderkey % 4 != 0 OR o_orderkey % 8 <= 1)
  AND o_orderkey % 8 != 2
"""


def q_ac02_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the same snapshot table: after the MERGE and
    DELETE commits, version 0 must still read EXACTLY as created —
    old versions reference immutable files, so mutation history never
    rewrites them. Oracle = the v0 construction query."""
    from alternating_least_squares_spark.sources import snapshot as SN

    path = _snapshot_table_for(spark, sf_dir, "ac02")
    return SN.read_snapshot(spark, path, version=0)


SQL_AC02 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price
FROM orders WHERE o_orderkey % 4 != 0
"""


def q_ac10_snapshot_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tags) on the snapshot table, proved
    through the WHOLE lifecycle: create v0 → tag it "baseline" →
    MERGE (v1) → DELETE (v2) → ``vacuum(keep_last=1)``, which expires
    v1 but MUST pin the tagged v0 (a tag is a promise of stable
    reads; Iceberg's expire_snapshots protects refs the same way) —
    then read BY NAME. The oracle is the v0 construction query, so
    the driver hash certifies that tag resolution + vacuum protection
    + time travel return the exact created rows after two mutations
    and an expiry pass. Tags are create-once ('x'-publish, the
    manifest commit discipline) — mutable refs would reintroduce the
    lost-update seam."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_snapshot_ac10", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.filter(F.col("o_orderkey") % 4 != 0), path, key="o_orderkey"
    )
    SN.create_tag(path, "baseline")  # pins v0
    updates = orders.filter(F.col("o_orderkey") % 8 <= 1).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("price") * 2, 6).alias("price"),
    )
    SN.merge_upsert(updates, path)
    SN.delete_where(path, "o_orderkey % 8 = 2", spark)
    SN.vacuum(path, keep_last=1)
    return SN.read_tag(spark, path, "baseline")


def q_ac12_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style RESTORE proved through the whole lifecycle:
    create v0 → MERGE (v1) → DELETE (v2) → ``restore(v0)`` commits v3
    whose files are v0's BY REFERENCE (no rewrite, no Spark job) →
    ``vacuum(keep_last=1)`` expires v0–v2 and reclaims the files only
    the rolled-back v1 wrote, but MUST keep v0's data alive because
    the restored HEAD references it — then read the head. The oracle
    is the v0 construction query (the ac10 shared-oracle pattern), so
    the driver hash certifies rollback-as-forward-commit + file
    sharing + vacuum survival end-to-end. ac10 proves a TAG pins
    expired history for reads; ac12 proves RESTORE re-promotes it to
    the writable head — together the two sides of Iceberg/Delta ref
    semantics."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_snapshot_ac12", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.filter(F.col("o_orderkey") % 4 != 0), path, key="o_orderkey"
    )
    updates = orders.filter(F.col("o_orderkey") % 8 <= 1).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("price") * 2, 6).alias("price"),
    )
    SN.merge_upsert(updates, path)  # v1
    SN.delete_where(path, "o_orderkey % 8 = 2", spark)  # v2
    SN.restore(path, 0)  # v3: head == v0, files shared by reference
    SN.vacuum(path, keep_last=1)  # reclaims v1's files, keeps v0's
    return SN.read_snapshot(spark, path)


AC13_FILES = 8


def q_ac13_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (VERDICT r15 #4 —
    the Delta DV / Iceberg v2 position-delete pattern;
    sources/snapshot.delete_where_dv): create orders as AC13_FILES
    range-clustered files → two DV deletes in sequence — each commits
    a (file_path, row_index) position sidecar and carries every data
    file BY REFERENCE (asserted in-query: the file lists of v0/v1/v2
    are byte-identical and each delete_dv manifest gained a non-empty
    sidecar — merge-on-read, loud if a rewrite sneaks in) → read the
    head, where _apply_dvs anti-joins both sidecars out on the
    parquet source's _metadata (file_path, row_index).

    The oracle is the declarative double-NOT filter over orders —
    exactly what the copy-on-write delete_where would produce — so
    one hash certifies position capture, sidecar round-trip, DV
    accumulation across commits, and the read-side anti-join
    together. Sequencing the second delete against the DV-applied
    live state also exercises the no-re-record path (positions
    already deleted are invisible to the second match scan).

    Time travel across DV commits, DV folding by cluster_optimize,
    vacuum of folded sidecars, and DV-aware copy-on-write rewrites
    are pinned in tests/test_snapshot.py. At 100 TB: a 1-row delete
    costs one sidecar write, never a file rewrite; the read-side
    anti-join is O(deleted positions) and resets at every fold."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_ac13", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        path,
        key="o_orderkey",
    )
    files0 = [f["path"] for f in SN._read_manifest(path, 0)["files"]]
    v1 = SN.delete_where_dv(
        path, "o_orderstatus = 'F' AND o_custkey % 10 = 3", spark
    )
    v2 = SN.delete_where_dv(path, "o_orderkey % 97 = 0", spark)
    for v in (v1, v2):
        m = SN._read_manifest(path, v)
        if [f["path"] for f in m["files"]] != files0:
            raise ValueError(
                f"ac13: delete_dv v{v} changed the data file list — "
                "the merge-on-read contract is broken"
            )
        if len(m.get("dvs", [])) != v or m["dvs"][-1]["rows"] == 0:
            raise ValueError(
                f"ac13: delete_dv v{v} wrote no position sidecar "
                "(vacuous — regenerated testdata matched nothing?)"
            )
    return SN.read_snapshot(spark, path)


SQL_AC13 = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 6) AS price
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_custkey % 10 = 3)
  AND NOT (o_orderkey % 97 = 0)
"""


def q_ac14_dv_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE by DISTRIBUTED key set
    (sources/snapshot.delete_keys_dv) — ac13's predicate twin and the
    production GDPR / CDC-apply shape: the keys to erase come from
    ANOTHER table (every order holding a line item with quantity ≥
    49), are never collected to the driver, and the delete commits
    ONE position sidecar with every data file carried by reference
    (asserted in-query: file list byte-identical to v0, sidecar
    non-empty — loud if a rewrite sneaks in). A planted NULL key
    exercises the ignored-NULL contract (an equi-delete cannot
    address NULL) without touching the oracle.

    The oracle is the declarative NOT IN anti-join over the same two
    tables — exactly what the copy-on-write delete_keys produces —
    so one hash certifies the semi-join position capture, the
    sidecar round-trip, and the read-side anti-join together. With
    ac13 this completes the mutation matrix {predicate, key-set} ×
    {copy-on-write, merge-on-read}. At 100 TB a 100 M-key erasure
    costs one keyed semi-join + one sidecar write — no file
    rewrites, same plan shape as a 10-key one."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_ac14", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        path,
        key="o_orderkey",
    )
    files0 = [f["path"] for f in SN._read_manifest(path, 0)["files"]]
    keys = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .unionByName(
            spark.createDataFrame([(None,)], "o_orderkey long")
        )
    )
    v1 = SN.delete_keys_dv(path, keys)
    m = SN._read_manifest(path, v1)
    if [f["path"] for f in m["files"]] != files0:
        raise ValueError(
            "ac14: delete_keys_dv changed the data file list — the "
            "merge-on-read contract is broken"
        )
    # (delete_keys_dv only appends an entry when the sidecar is
    # non-empty, so presence alone is the vacuity test)
    if not m.get("dvs"):
        raise ValueError(
            "ac14: delete_keys_dv wrote no position sidecar (vacuous "
            "— regenerated testdata matched nothing?)"
        )
    return SN.read_snapshot(spark, path)


SQL_AC14 = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 6) AS price
FROM orders
WHERE o_orderkey NOT IN (
  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49
)
"""


def q_ac15_dv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors (VERDICT r16 #3;
    sources/snapshot.update_where_dv) — the completion of the
    {predicate, key-set} × {COW, MOR} mutation matrix: two UPDATEs in
    sequence, each committing (a) a position sidecar that hides the
    matched rows' OLD images and (b) the corrected images APPENDED as
    new data files in the SAME commit — never rewriting a carried
    file. Asserted in-query: each update manifest's file list starts
    with the previous list verbatim and strictly extends it
    (merge-on-read, loud if a rewrite sneaks in), each gained a
    non-empty sidecar, operation == 'update_dv'. The SECOND update's
    match scan runs against the DV-applied live state, so it can hit
    rows living in the FIRST update's appended correction file —
    update-over-update through the sidecar machinery is inside the
    hash. The oracle is the nested CASE restatement — exactly what
    copy-on-write merge_upsert of the corrected rows produces (the
    equivalence is additionally pinned row-for-row against
    merge_upsert in tests/test_snapshot.py, with CDC classifying the
    changed keys as 'update' and cluster_optimize folding both the
    DVs and the corrections). Arithmetic stays hash-exact: '+1.0' /
    '*2.0' on an already-round(,6) double are identical IEEE ops in
    both engines. At 100 TB a 1-row update = one sidecar + one tiny
    append; compaction folds the read debt back."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_ac15", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        path,
        key="o_orderkey",
    )
    files = [[f["path"] for f in SN._read_manifest(path, 0)["files"]]]
    v1 = SN.update_where_dv(
        path,
        "o_orderstatus = 'O' AND o_custkey % 7 = 2",
        {"o_orderstatus": "'U'", "price": "price + 1.0"},
        spark,
    )
    v2 = SN.update_where_dv(
        path, "o_orderkey % 89 = 1", {"price": "price * 2.0"}, spark
    )
    for v in (v1, v2):
        m = SN._read_manifest(path, v)
        fl = [f["path"] for f in m["files"]]
        if fl[: len(files[-1])] != files[-1] or len(fl) <= len(files[-1]):
            raise ValueError(
                f"ac15: update_dv v{v} rewrote or failed to extend the "
                "data file list — the merge-on-read contract is broken"
            )
        if len(m.get("dvs", [])) != v or m["dvs"][-1]["rows"] == 0:
            raise ValueError(
                f"ac15: update_dv v{v} wrote no position sidecar "
                "(vacuous — regenerated testdata matched nothing?)"
            )
        if m["operation"] != "update_dv":
            raise ValueError(f"ac15: v{v} operation {m['operation']!r}")
        files.append(fl)
    return SN.read_snapshot(spark, path)


SQL_AC15 = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         round(o_totalprice, 6) AS price
  FROM orders
),
u1 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderstatus = 'O' AND o_custkey % 7 = 2
              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderstatus = 'O' AND o_custkey % 7 = 2
              THEN price + 1.0 ELSE price END AS price
  FROM base
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 89 = 1 THEN price * 2.0 ELSE price END
         AS price
FROM u1
"""


def q_ac16_dv_debt_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV READ-DEBT gauge + fold policy (VERDICT r17 #5;
    sources/snapshot.dv_debt_gauge / auto_fold) — the observability
    piece the MOR family (ac13-ac15, st17-st18) needs at 100 TB:
    every DV commit defers work every read then pays (the position
    anti-join) until a rewrite folds it, and the gauge makes that
    debt visible from MANIFESTS ALONE — O(files) metadata, no data
    scan (the x11 table-profile discipline): file_rows from manifest
    stats, dv_positions from per-sidecar commit counts (exact, never
    an estimate: capture scans run DV-applied so positions are never
    re-recorded), debt_ppm integer DIV. The policy half:
    ``auto_fold(threshold)`` triggers ``cluster_optimize`` — which
    folds every DV and resets the gauge — ONLY when debt_ppm exceeds
    the threshold. Asserted in-query: a delete_keys_dv + an
    update_where_dv put known debt on the table; auto_fold AT the
    current debt_ppm declines (no new version — a no-op fold per
    scheduler tick would churn history); auto_fold just below it
    folds; the post-fold gauge reads exactly zero debt. The oracle
    restates both gauge rows from the same arithmetic over orders, so
    the hash proves the manifest bookkeeping (file stats + sidecar
    counts through delete, update-with-append, and fold) is
    row-exact. At 100 TB this is the compaction scheduler's sweep:
    O(manifest) per table across thousands of tables, paying the
    rewrite only where reads are bleeding."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_ac16", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        path,
        key="o_orderkey",
    )
    SN.delete_keys_dv(
        path, orders.filter(F.col("o_custkey") % 13 == 5).select("o_orderkey")
    )
    SN.update_where_dv(
        path, "o_orderkey % 89 = 1", {"price": "price * 2.0"}, spark
    )
    g1 = SN.dv_debt_gauge(path)
    if g1["dv_positions"] == 0 or g1["debt_ppm"] == 0:
        raise ValueError(f"ac16: no planted debt? gauge={g1}")
    nv = len(SN._list_versions(path))
    skip = SN.auto_fold(spark, path, g1["debt_ppm"], AC13_FILES)
    if skip["folded"] or len(SN._list_versions(path)) != nv:
        raise ValueError(
            f"ac16: auto_fold at threshold == debt must decline, got "
            f"{skip} over {SN._list_versions(path)}"
        )
    fold = SN.auto_fold(spark, path, g1["debt_ppm"] - 1, AC13_FILES)
    if not fold["folded"] or len(SN._list_versions(path)) != nv + 1:
        raise ValueError(f"ac16: auto_fold below debt must fold, got {fold}")
    g2 = SN.dv_debt_gauge(path)
    if (g2["dv_positions"], g2["debt_ppm"], g2["dv_commits"]) != (0, 0, 0):
        raise ValueError(f"ac16: fold did not reset the gauge: {g2}")
    rows = [
        (
            stage,
            g["file_rows"],
            g["live_rows"],
            g["dv_positions"],
            g["debt_ppm"],
            g["dv_commits"],
        )
        for stage, g in (("pre", g1), ("post", g2))
    ]
    return spark.createDataFrame(
        rows,
        "stage string, file_rows long, live_rows long, dv_positions long, "
        "debt_ppm long, dv_commits long",
    )


SQL_AC16 = """
WITH c AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN o_custkey % 13 = 5 THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN o_orderkey % 89 = 1 AND o_custkey % 13 != 5
                  THEN 1 ELSE 0 END) AS u1
  FROM orders
)
SELECT 'pre' AS stage,
       CAST(n0 + u1 AS BIGINT) AS file_rows,
       CAST(n0 - d1 AS BIGINT) AS live_rows,
       CAST(d1 + u1 AS BIGINT) AS dv_positions,
       CAST((d1 + u1) * 1000000 // (n0 + u1) AS BIGINT) AS debt_ppm,
       CAST(2 AS BIGINT) AS dv_commits
FROM c
UNION ALL
SELECT 'post' AS stage,
       CAST(n0 - d1 AS BIGINT), CAST(n0 - d1 AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM c
"""


def q_ac03_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    the multi-column data-skipping layout (operators/zorder.py; the
    public idea behind Delta OPTIMIZE ZORDER BY). The code is a fixed
    shift/mask/or expression tree on both engines, so the layout key
    is hash-checked exactly; the file-pruning property it buys is
    asserted empirically in tests/test_zorder.py."""
    from alternating_least_squares_spark.operators.zorder import morton_code

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        morton_code(F.col("l_partkey"), F.col("l_suppkey")).alias("zcode"),
    )


def _ac03_oracle() -> str:
    from alternating_least_squares_spark.operators.zorder import (
        morton_code_sql,
    )

    return (
        "SELECT l_orderkey, l_linenumber, "
        f"{morton_code_sql('l_partkey', 'l_suppkey')} AS zcode FROM lineitem"
    )


SQL_AC03 = _ac03_oracle()


def q_ac04_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end (operators/compaction.py —
    the OPTIMIZE half of the table-format story next to ac01's MERGE
    and ac03's Z-order): scatter lineitem into 64 deliberately tiny
    files, compact into ~target-sized files, read the compacted copy
    back. The output row carries (n_rows, sum_qty) from the COMPACTED
    data plus a ``compacted`` flag asserting the file count actually
    shrank — so the oracle (plain aggregates over the ORIGINAL table,
    TRUE literal for the flag) hash-proves both halves: compaction
    preserved every row bit-exactly AND reduced file count. At 100 TB
    this is the nightly job that keeps scan task counts sane; the
    rewrite is one round-robin shuffle sized from a file census, never
    a collect."""
    import os

    from alternating_least_squares_spark.operators.compaction import (
        compact_parquet,
    )

    base = _scratch_path("alternating_ls_ac04")
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    li.repartition(64).write.mode("overwrite").parquet(src)
    stats = compact_parquet(spark, src, dst)
    compacted = spark.read.parquet(dst)
    return compacted.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.lit(stats["files_after"] < stats["files_before"]).alias("compacted"),
    )


SQL_AC04 = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       TRUE AS compacted
FROM lineitem
"""


AC11_FILES = 16


def q_ac11_cluster_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-driven layout end-to-end — closing the loop ac03 opened
    (ADVICE/VERDICT r13 #4): ac03 proves the Morton KEY is computed
    right; this entry proves the key DRIVES layout and the layout
    drives pruning. Pipeline: snapshot-create lineitem keyed by
    zcode = morton(l_partkey, l_suppkey) in a z-HOSTILE layout
    (range-partitioned by l_orderkey, so every file spans the full z
    domain) → sources/snapshot.cluster_optimize rewrites it
    range-partitioned + sorted on zcode (Delta OPTIMIZE ZORDER BY /
    Iceberg rewrite_data_files semantics; one shuffle, copy-on-write
    commit) → a 2-D rectangle query (the middle-quarter box of both
    key domains, derived from the data so it scales with SF) reads
    via read_key_range, which prunes files on manifest [min_key,
    max_key] intersecting the rectangle's z-interval
    [morton(p_lo, s_lo), morton(p_hi, s_hi)] (a correct superset:
    the code is monotone per coordinate). The returned row carries
    the rectangle's (n_rows, sum_qty) from the PRUNED scan plus a
    ``pruned`` flag asserting the optimized read touched fewer files
    than BOTH the file total and the same range-read against the
    hostile v0 — so the oracle (plain rectangle aggregate over
    lineitem, TRUE literal) hash-proves the clustered rewrite lost
    no rows, the prune lost no rectangle rows, AND the layout
    actually pruned. File-count floors are pinned in
    tests/test_zorder.py. At 100 TB this is the nightly clustering
    job: manifest pruning is a driver-side metadata diff, the
    rewrite one range shuffle."""
    import shutil

    from alternating_least_squares_spark.operators.zorder import (
        morton_code,
        morton_code_py,
    )
    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_ac11", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        morton_code(F.col("l_partkey"), F.col("l_suppkey")).alias("zcode"),
    )
    SN.create_table(
        li.repartitionByRange(AC11_FILES, "l_orderkey"), path, key="zcode"
    )
    SN.cluster_optimize(spark, path, AC11_FILES)
    pmax, smax = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    plo, phi = pmax // 4, pmax // 2
    slo, shi = smax // 4, smax // 2
    zlo, zhi = morton_code_py(plo, slo), morton_code_py(phi, shi)
    ranged, files_opt, files_total = SN.read_key_range(spark, path, zlo, zhi)
    _v0, files_v0, _tot0 = SN.read_key_range(spark, path, zlo, zhi, version=0)
    rect = ranged.filter(
        F.col("l_partkey").between(plo, phi)
        & F.col("l_suppkey").between(slo, shi)
    )
    return rect.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.lit(
            files_opt < files_total and files_opt < files_v0
        ).alias("pruned"),
    )


SQL_AC11 = """
WITH b AS (
  SELECT max(l_partkey) // 4 AS plo, max(l_partkey) // 2 AS phi,
         max(l_suppkey) // 4 AS slo, max(l_suppkey) // 2 AS shi
  FROM lineitem
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       TRUE AS pruned
FROM lineitem, b
WHERE l_partkey BETWEEN b.plo AND b.phi
  AND l_suppkey BETWEEN b.slo AND b.shi
"""


def q_ac05_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — expire history and delete orphaned data files
    (sources/snapshot.vacuum; the Delta VACUUM / Iceberg
    expire_snapshots lifecycle step): build the same
    create→MERGE→DELETE table as ac01, vacuum down to the latest
    version, then read LATEST. The oracle (same surviving-row SQL as
    ac01, TRUE for the flag) hash-proves vacuum deleted ONLY
    unreferenced files: any wrongly-deleted shared file would break
    the read, any row drift would break the hash. The flag asserts
    history actually went (2 versions expired, ≥1 orphan removed,
    second vacuum a no-op — idempotence). Time-travel-after-vacuum
    failure semantics are pinned in tests/test_snapshot.py."""
    from alternating_least_squares_spark.sources import snapshot as SN

    path = _snapshot_table_for(spark, sf_dir, "ac05")
    stats = SN.vacuum(path, keep_last=1)
    again = SN.vacuum(path, keep_last=1)
    ok = (
        stats["versions_removed"] == 2
        and stats["files_removed"] >= 1
        and again["versions_removed"] == 0
        and again["files_removed"] == 0
    )
    return SN.read_snapshot(spark, path).withColumn(
        "vacuumed", F.lit(bool(ok))
    )


SQL_AC05 = """
SELECT o_orderkey, o_custkey,
       round(CASE WHEN o_orderkey % 8 <= 1 THEN round(o_totalprice, 6) * 2
                  ELSE o_totalprice END, 6) AS price,
       TRUE AS vacuumed
FROM orders
WHERE (o_orderkey % 4 != 0 OR o_orderkey % 8 <= 1)
  AND o_orderkey % 8 != 2
"""


def q_ac06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the snapshot table (Delta
    ``mergeSchema`` semantics): v0 is created with three columns, a
    later append carries a new ``channel`` column with
    ``merge_schema=True``, and the LATEST read projects the
    pre-evolution files' missing column as NULL — the manifest schema,
    not the file footers, defines what a version looks like. The
    oracle reconstructs the union (old rows with NULL channel, new
    rows with the literal), so the hash proves both the NULL
    projection and that old files were never rewritten to evolve."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_snapshot_ac06", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.filter(F.col("o_orderkey") % 4 != 0), path, key="o_orderkey"
    )
    newcomers = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "channel", F.lit("web")
    )
    SN.append(newcomers, path, merge_schema=True)
    return SN.read_snapshot(spark, path)


SQL_AC06 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price,
       CASE WHEN o_orderkey % 4 = 0 THEN 'web' END AS channel
FROM orders
"""


def q_ac07_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (Delta 3.x semantics; round-5 gap
    from VERDICT r4 #6 — ac06 evolves on APPEND, this evolves UNDER
    MERGE): the upsert batch both updates/inserts rows AND carries a
    new ``channel`` column. One commit must do all of it — evolve the
    manifest schema, rewrite only key-overlapping files, and leave
    carried-over + surviving pre-evolution rows projecting NULL for the
    new column. The oracle reconstructs the exact post-merge table, so
    the hash proves the evolve+prune+rewrite interplay row-exactly."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    path = _scratch_path(
        "alternating_ls_snapshot_ac07", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.create_table(
        orders.filter(F.col("o_orderkey") % 4 != 0), path, key="o_orderkey"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 8 <= 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("price") * 2, 6).alias("price"),
        )
        .withColumn("channel", F.lit("merge"))
    )
    SN.merge_upsert(updates, path, merge_schema=True)
    return SN.read_snapshot(spark, path)


SQL_AC07 = """
SELECT o_orderkey, o_custkey,
       round(CASE WHEN o_orderkey % 8 <= 1 THEN round(o_totalprice, 6) * 2
                  ELSE o_totalprice END, 6) AS price,
       CASE WHEN o_orderkey % 8 <= 1 THEN 'merge' END AS channel
FROM orders
WHERE o_orderkey % 4 != 0 OR o_orderkey % 8 = 0
"""


def q_c02_filter_nonzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return Rel.filter_nonzero(li, "l_discount").select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


SQL_C02 = """
SELECT l_orderkey, l_linenumber, l_discount FROM lineitem WHERE l_discount <> 0
"""


def q_c04_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = Rel.micros_to_currency(orders, "o_totalprice", "total_currency")
    return out.select("o_orderkey", F.round("total_currency", 9).alias("total_currency"))


SQL_C04 = """
SELECT o_orderkey, round(o_totalprice * 0.000001, 9) AS total_currency FROM orders
"""


def q_c05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    bulky = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return Rel.anti_join(
        part.select(F.col("p_partkey"), F.col("p_name")),
        bulky.select(F.col("l_partkey").alias("p_partkey")),
        "p_partkey",
    )


SQL_C05 = """
SELECT p_partkey, p_name FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 48
)
"""


def q_c06_zero_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    return Rel.zero_pad_union(counts, cust, "c_custkey").select(
        "c_custkey", "n_orders"
    )


SQL_C06 = """
SELECT c.c_custkey, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders
FROM customer c
LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) o
  ON o.o_custkey = c.c_custkey
"""


def q_c08_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_partkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    return Rel.unpivot(
        wide, ["l_partkey"], ["A", "N", "R"], "returnflag", "qty"
    ).filter(F.col("qty").isNotNull())


SQL_C08 = """
SELECT l_partkey, l_returnflag AS returnflag, CAST(SUM(l_quantity) AS DOUBLE) AS qty
FROM lineitem GROUP BY 1, 2
"""


def q_c08_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )


SQL_C08_PIVOT = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS "F",
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE) AS "O"
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# text analysis (documents)


def _toks_sql(col: str = "text") -> str:
    # coalesce mirrors the Spark side (textfns.tokens maps NULL text to
    # an empty token array); without it every token-based oracle pair
    # silently diverges the day a NULL text row appears
    stripped = f"regexp_replace(coalesce({col}, ''), '^\\s+|\\s+$', '', 'g')"
    return (
        f"CASE WHEN {stripped} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({stripped}, '\\s+') END"
    )


def q_c13_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic for defensive ETL: ``try_cast`` on a
    JSON-extracted string and ``try_divide`` with a zero-prone
    denominator both yield NULL instead of failing the job — the
    semantics a 100 TB pipeline needs when one malformed row must not
    kill a 6-hour run. DuckDB twins: TRY_CAST and NULL-on-zero-divide."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    # Exact integer-micros division: DuckDB evaluates ANY decimal
    # division as double (result type DOUBLE), so a rounded quotient
    # flaps half-even vs half-up at the last digit. Integer division
    # of exact micros is bit-identical on both engines; NULL/zero
    # denominators yield NULL via nullif (the try-semantics this
    # query demonstrates). Spark `div` truncates toward zero while
    # DuckDB `//` floors — they differ whenever the quotient is
    # negative, and k comes from untrusted JSON, so the divisor is
    # gated to k > 0 IN BOTH ENGINES (non-positive k → NULL, same as
    # the zero case) rather than trusting the generator's sign.
    v_us = (F.col("value").cast("decimal(38,10)") * 1_000_000).cast("long")
    # Spark has no integer FLOOR division (`div` truncates toward
    # zero; DuckDB `//` floors) — emulate floor so a NEGATIVE value
    # also matches: subtract 1 when the division is inexact and the
    # numerator is negative (k is gated positive). NULL k propagates
    # through both terms.
    return ev.select(
        "event_id", k.alias("k"), v_us.alias("v_us")
    ).selectExpr(
        "event_id",
        "k",
        "v_us div (CASE WHEN k > 0 THEN k END)"
        " - (CASE WHEN v_us % (CASE WHEN k > 0 THEN k END) != 0"
        "          AND v_us < 0 THEN 1 ELSE 0 END) AS value_per_k_us",
    )


SQL_C13 = """
SELECT event_id,
       TRY_CAST(props->>'$.k' AS BIGINT) AS k,
       CAST(CAST(value AS DECIMAL(38,10)) * 1000000 AS BIGINT)
         // (CASE WHEN TRY_CAST(props->>'$.k' AS BIGINT) > 0
                  THEN TRY_CAST(props->>'$.k' AS BIGINT) END)
         AS value_per_k_us
FROM events
"""


def q_c14_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics a
    dimension join needs when 'unknown' is itself a category. Still a
    hash join (the null-safe operator is an equi-key to Spark), not a
    nested loop."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.nullif("lang", F.lit("en")).alias("k"))
    dim = a.select("k").distinct().withColumn(
        "bucket", F.coalesce("k", F.lit("UNKNOWN"))
    )
    return (
        a.join(dim, a.k.eqNullSafe(dim.k))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_C14 = """
WITH a AS (SELECT doc_id, nullif(lang, 'en') AS k FROM documents),
dim AS (SELECT DISTINCT k, coalesce(k, 'UNKNOWN') AS bucket FROM a)
SELECT bucket, count(*) AS n_docs
FROM a JOIN dim ON a.k IS NOT DISTINCT FROM dim.k
GROUP BY 1
"""


def q_c15_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``posexplode_outer`` semantics: documents keep a row even when
    they produce NO tokens (empty/whitespace text → NULL position and
    token) — the row-preserving flatten an ETL needs when a document
    with no extractable units must stay visible downstream. Inner
    explode would silently drop them."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.posexplode_outer(F.slice(toks, 1, 5)).alias("pos", "token"),
    )


SQL_C15 = """
SELECT d.doc_id, CAST(t.pos AS INT) AS pos, t.token
FROM documents d
LEFT JOIN LATERAL (
  SELECT unnest(toks[1:5]) AS token,
         generate_subscripts(toks[1:5], 1) - 1 AS pos
  FROM (
    SELECT CASE WHEN s = '' THEN []::VARCHAR[]
                ELSE string_split_regex(s, '\\s+') END AS toks
    FROM (SELECT regexp_replace(coalesce(d.text, ''),
                                '^\\s+|\\s+$', '', 'g') AS s)
  )
) t ON true
"""


def q_c16_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history build — the lakehouse pattern that
    turns a change feed into validity intervals: orders are read as a
    change feed of each customer's priority tier (key=o_custkey,
    attr=o_orderpriority, change-ts=o_orderdate), collapsed to one
    event per (key, ts) (latest o_orderkey wins — deterministic
    tie-break), runs of the same value are coalesced (lag), and each
    surviving change gets [valid_from, valid_to) with valid_to=NULL on
    the open current row (lead). Pure window algebra on both engines.

    At 100 TB: the explicit repartition on o_custkey satisfies BOTH
    windows' clustered distributions (hash on custkey co-locates every
    (custkey, date) group too — Spark's subset rule), so the whole
    history build is ONE exchange plus per-partition sorts (asserted
    in tests/test_plans.py); per-key history is small by nature, so no
    reducer hot-spots unless one key dominates the feed — then salt
    the collapse phase (operators/skew.py) and merge boundary runs in
    a second pass."""
    orders = load_table(spark, sf_dir, "orders").repartition("o_custkey")
    w_day = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    latest = (
        orders.withColumn("_rn", F.row_number().over(w_day))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderpriority")
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    changes = latest.withColumn(
        "_prev", F.lag("o_orderpriority").over(w_seq)
    ).filter(
        F.col("_prev").isNull()
        | (F.col("_prev") != F.col("o_orderpriority"))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w_seq).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


SQL_C16 = """
WITH latest AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
seq AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate) AS prev
  FROM latest WHERE rn = 1
),
chg AS (
  SELECT o_custkey, o_orderdate, o_orderpriority FROM seq
  WHERE prev IS NULL OR prev <> o_orderpriority
)
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate) AS valid_to,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate) IS NULL AS is_current
FROM chg
"""


SQL_T13 = f"""
WITH tk AS (
  SELECT doc_id, source, CAST(len({_toks_sql()}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens
            AS BIGINT) AS offset,
       CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
            // {PACK_CTX} AS BIGINT) AS bin_id
FROM tk
"""


def q_t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(text).cast("long").alias("n_tokens"),
        TX.char_count(text).cast("long").alias("n_chars_calc"),
        TX.punct_count(text).cast("long").alias("n_punct"),
        F.round(TX.avg_token_length(text), 6).alias("avg_token_len"),
    )


SQL_T01 = f"""
WITH tk AS (SELECT doc_id, text, {_toks_sql()} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
       round(CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks) END, 6) AS avg_token_len
FROM tk
"""


def q_t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


SQL_T02 = f"""
WITH tk AS (SELECT doc_id, text, {_toks_sql()} AS toks FROM documents),
     b AS (
       SELECT doc_id,
              CAST(len(toks) AS DOUBLE) AS n_tok,
              CAST(length(text) AS DOUBLE) AS n_chars,
              CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS n_punct,
              CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                        / len(toks) END AS avg_len
       FROM tk
     )
SELECT doc_id,
       round(greatest(0.0,
         least(n_tok / 64.0, 1.0) * 0.5
         + (CASE WHEN avg_len <= 0 THEN 0.0 ELSE least(avg_len / 5.0, 1.0) END) * 0.5
         - (n_punct / greatest(n_chars, 1.0)) * 2.0
       ), 6) AS quality
FROM b
"""


def q_t03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = TX.lang_scores(F.col("text"))
    en, de, es, fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    pred = (
        F.when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        en.alias("en_score"),
        de.alias("de_score"),
        es.alias("es_score"),
        fr.alias("fr_score"),
        pred.alias("lang_pred"),
    )


def _marker_sql(markers: list[str]) -> str:
    terms = [
        f"CAST((length(p) - length(replace(p, ' {m} ', ''))) / {len(m) + 2} AS BIGINT)"
        for m in markers
    ]
    return " + ".join(terms)


SQL_T03 = f"""
WITH p0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
     s AS (
       SELECT doc_id,
              {_marker_sql(TX.LANG_MARKERS["en"])} AS en_score,
              {_marker_sql(TX.LANG_MARKERS["de"])} AS de_score,
              {_marker_sql(TX.LANG_MARKERS["es"])} AS es_score,
              {_marker_sql(TX.LANG_MARKERS["fr"])} AS fr_score
       FROM p0
     )
SELECT doc_id, en_score, de_score, es_score, fr_score,
       CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
            WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
            WHEN es_score >= fr_score THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s
"""


def q_t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text"), 3).alias("fp"))


SQL_T04 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN len(toks) < 3 THEN md5(array_to_string(toks, ' '))
            ELSE list_min(list_transform(range(len(toks) - 2),
                   i -> md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
       END AS fp
FROM tk
"""


def q_t05_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.functions.dedup import (
        exact_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text")


SQL_T05 = """
SELECT md5(coalesce(text, '')) AS h, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dedup operators (documents)


def q_d01_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.functions.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), 16).alias("simhash"))


def _simhash_sql(bits: int = 16) -> str:
    bit_exprs = []
    for i in range(bits):
        sign = (
            "CASE WHEN (strpos('0123456789abcdef', substr(md5(t), "
            f"{i + 1}, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END"
        )
        bit = (
            f"(CASE WHEN list_sum(list_transform(toks, t -> {sign})) > 0 "
            "THEN 1 ELSE 0 END)"
        )
        bit_exprs.append(f"{bit} * {1 << (bits - 1 - i)}")
    total = " + ".join(bit_exprs)
    return f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM tk
"""


SQL_D01 = _simhash_sql(16)


def q_d02_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.functions.dedup import jaccard
    from alternating_least_squares_spark.functions.textfns import shingles

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh_a"),
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh_b"),
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )


SQL_D02 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     sh AS (
       SELECT doc_id,
              CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                   ELSE list_distinct(list_transform(range(len(toks) - 2),
                          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
              END AS s
       FROM tk
     )
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_d08_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT (Broder): |A∩B|/|A| and |A∩B|/|B| per
    adjacent-id pair — the asymmetric measure that catches an EXCERPT
    of a longer document where Jaccard (d02) stays tiny. Same
    shingle-set machinery, both directions emitted."""
    from alternating_least_squares_spark.functions.dedup import containment
    from alternating_least_squares_spark.functions.textfns import shingles

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh_a"),
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("sh_b"),
    )
    return a.join(b, "id_a").select(
        "id_a",
        "id_b",
        F.round(containment(F.col("sh_a"), F.col("sh_b")), 6).alias(
            "cont_ab"
        ),
        F.round(containment(F.col("sh_b"), F.col("sh_a")), 6).alias(
            "cont_ba"
        ),
    )


SQL_D08 = f"""
WITH tk AS (SELECT doc_id, {{toks}} AS toks FROM documents),
     sh AS (
       SELECT doc_id,
              CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                   ELSE list_distinct(list_transform(range(len(toks) - 2),
                          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
              END AS s
       FROM tk
     )
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(a.s) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(a.s) END, 6) AS cont_ab,
       round(CASE WHEN len(b.s) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(b.s) END, 6) AS cont_ba
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
""".format(toks=_toks_sql())


def q_d03_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup pairs (functions/dedup.
    near_dup_pairs), oracle-EXACT via the d09 forced-Jaccard
    construction (VERDICT r8 #4): the corpus is rebuilt so every
    pairwise Jaccard is exactly 1 or 0 — never in the probabilistic
    recall zone. Each doc's text is five unique per-id tokens
    (``zq{id}a .. zq{id}e``; zero shingle overlap across ids), and
    docs with id%10==0 get a whitespace-doubled twin at id+20M
    (identical token sequence → identical shingle set → identical
    MinHash signature → every band matches, candidate + verify
    guaranteed). A spurious band-bucket collision between unrelated
    docs can contribute at most one 64-bit shingle-hash collision, so
    its verified Jaccard is ≤ 1/7 < the 0.5 threshold — the output is
    therefore FORCED to the twin pairs at jaccard 1.0, which one SQL
    projection states. Probabilistic recall on real text stays pinned
    by tests/test_dedup.py's planted-pair fixtures, and the real-text
    banded path stays oracle-covered end-to-end by d11."""
    from alternating_least_squares_spark.functions.dedup import near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dstr = F.col("doc_id").cast("string")
    base_text = F.concat(
        F.lit("zq"), dstr, F.lit("a zq"), dstr, F.lit("b zq"), dstr,
        F.lit("c zq"), dstr, F.lit("d zq"), dstr, F.lit("e"),
    )
    base = docs.select("doc_id", base_text.alias("text"))
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.regexp_replace(base_text, " ", "  ").alias("text"),
    )
    return near_dup_pairs(
        base.unionByName(twins), "doc_id", "text",
        n_hashes=32, bands=8, threshold=0.5,
    )


SQL_D03 = """
SELECT doc_id AS id_a, doc_id + 20000000 AS id_b,
       CAST(1.0 AS DOUBLE) AS jaccard
FROM documents WHERE doc_id % 10 = 0
"""


def q_d04_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components (dedup_components, the hash-min
    round loop of graph.components_fixed) over the exact-duplicate
    graph: docs sharing an
    md5(text) form a clique, so the true component of every doc is the
    min doc_id in its hash group — which plain SQL can state, giving
    an ORACLE-CHECKED iterative graph operator."""
    from alternating_least_squares_spark.functions.dedup import dedup_components

    docs = load_table(spark, sf_dir, "documents")
    # coalesce: md5(NULL) is NULL and join keys never match on NULL,
    # which would make every NULL-text doc a singleton while the
    # oracle's window PARTITION BY groups them
    grouped = docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_h")
    )
    pairs = (
        grouped.alias("a")
        .join(grouped.alias("b"), "_h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    comp = dedup_components(pairs)
    # singletons (no dup partner) are their own component
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


SQL_D04 = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(coalesce(text, ''))) AS component
FROM documents
"""


# ---------------------------------------------------------------------------
# similarity search / ALS (rows-only: iterative or multi-stage plans)


def _sgn3_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-quantization ANN fixture (VERDICT r8 #3, the sm01/s02
    playbook): every vector replaced by the signs of its first 3
    components TILED across all 64 dims, so the corpus holds exactly
    8 distinct ±1 patterns. Identical patterns behave identically
    under ANY hashing/clustering/projection (same LSH buckets, same
    KMeans/IVF list, same PQ codes, same PCA image) and have cosine
    exactly 1.0; distinct patterns differ in ≥21 of 64 dims (cosine
    ≤ 22/64 ≈ 0.344, L2² ≥ 84). Every pattern group holds ≥52
    members at every SF (checked), so a k=5 top-k over any
    candidate-generation strategy that finds same-pattern members is
    FORCED: the 5 smallest same-pattern neighbor ids at cosine 1.0 —
    which one SQL self-join + row_number states (SQL_SIGN_TOPK,
    shared by s01/s03/s05/s06 exactly like d09/d10 share one oracle
    text: four implementations against one ground truth)."""
    sgn3 = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: F.when(
            F.coalesce(
                F.try_element_at(
                    F.col("embedding"), (d % 3 + 1).cast("integer")
                ),
                F.lit(0.0),
            )
            >= 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sgn3.alias("embedding")
    )


def q_s01_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k (functions/similarity.lsh_topk),
    oracle-EXACT via the sign-quantization construction
    (_sgn3_embeddings): identical patterns have identical hyperplane
    projections — same bucket in EVERY hash table, recall
    structurally 1.0. Probabilistic recall on real-valued vectors
    stays pinned by tests/test_similarity.py's planted fixtures."""
    from alternating_least_squares_spark.functions.similarity import lsh_topk

    emb = _sgn3_embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return lsh_topk(emb, queries_df, k=5)


SQL_SIGN_TOPK = """
WITH k AS (
  SELECT vec_id,
         concat(
           CASE WHEN coalesce(embedding[1], 0) >= 0 THEN '1' ELSE '0' END,
           CASE WHEN coalesce(embedding[2], 0) >= 0 THEN '1' ELSE '0' END,
           CASE WHEN coalesce(embedding[3], 0) >= 0 THEN '1' ELSE '0' END
         ) AS key
  FROM embeddings
)
SELECT * FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(1.0 AS DOUBLE) AS cosine,
         CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY c.vec_id)
              AS BIGINT) AS rank
  FROM k q JOIN k c ON c.key = q.key AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 20
) WHERE rank <= 5
"""
SQL_S01 = SQL_SIGN_TOPK


def q_s02_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH + exact
    cosine verify (functions/similarity.embedding_near_dup_pairs).
    Oracle-EXACT via the sm01 sign-quantization trick (VERDICT r6
    #8): inputs are sign vectors (±1 per component), so identical
    sign patterns hash into the SAME bucket in every LSH table
    (recall is structurally 1.0, not probabilistic) and have cosine
    exactly 64/(8·8) = 1.0, while distinct patterns have cosine ≤
    62/64 = 0.96875 < the 0.99 threshold and can never pass the
    verify even when buckets collide. Ground truth is therefore all
    intra-group ordered pairs of the sign-pattern key — one SQL
    self-join. Planted copies (vec_id%20==0, id +1M) guarantee dup
    pairs exist at every sf; probabilistic recall on real-valued
    vectors stays pinned by tests/test_similarity fixtures."""
    from alternating_least_squares_spark.functions.similarity import (
        embedding_near_dup_pairs,
    )

    sgn = F.transform(
        F.col("embedding"),
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sgn.alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return embedding_near_dup_pairs(
        emb.unionByName(copies), threshold=0.99
    )


SQL_S02 = """
WITH inp AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
),
k AS (
  SELECT vec_id,
         list_aggr(
           list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
           'string_agg', '') AS key
  FROM inp
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(1.0 AS DOUBLE) AS cosine
FROM k a JOIN k b ON a.key = b.key AND a.vec_id < b.vec_id
"""


def q_d06_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup as a FILTER (functions/dedup.keep_one_filter): the corpus
    with the higher-id member of every exact-duplicate pair dropped —
    the operator a pipeline actually applies after pair generation.
    Pairs here are the exact-dup pairs (same md5), so the oracle is a
    pure SQL anti-join; the LSH near-dup variant of the same filter is
    exercised rows-only through d03's pair output in tests."""
    from alternating_least_squares_spark.functions.dedup import keep_one_filter

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    hashed = docs.select("doc_id", h.alias("_h"))
    pairs = (
        hashed.alias("a")
        .join(hashed.alias("b"), "_h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return keep_one_filter(
        docs.select("doc_id", "source", "n_chars"), pairs
    )


SQL_D06 = """
WITH h AS (
  SELECT doc_id, md5(coalesce(text, '')) AS _h FROM documents
),
losers AS (
  SELECT DISTINCT b.doc_id
  FROM h a JOIN h b ON a._h = b._h AND a.doc_id < b.doc_id
)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""


def q_d05_mllib_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH.approxSimilarityJoin near-dup path (the API
    users migrating from MLlib pipelines hold); coexists with the
    hand-rolled d03 and agrees with it (tests). Oracle-EXACT (round
    9) although MLlib's hash family is internal: each document's text
    is replaced by 5 md5-derived tokens (md5(i‖text), i=0..4), so two
    documents share a 3-shingle ONLY when their full texts are
    identical — shingle-set Jaccard is structurally ∈ {0, 1}, robust
    to testdata regeneration (raw-text constructions can grow
    borderline (0, 0.5] pairs; md5 token overlap cannot). Identical
    texts ⇒ identical HashingTF vectors ⇒ identical MinHash
    signatures under ANY hash family ⇒ co-bucketed in every table,
    so recall of the distance-0 pairs is structural. A distinct-text
    pair passing the distance < 0.5 filter needs hashed-set Jaccard
    > 0.5, and with 3 shingles per side that means ALL THREE of its
    md5-random shingles landing in the same HashingTF buckets as the
    other side's — three simultaneous 2^18-bucket collisions,
    ~(2^-18)^3 ≈ 2^-54 per pair (ADVICE r9: this is the honest
    bound — HashingTF buckets the shingles, so the binding collision
    space is its 2^18 features, not md5's 128 bits). Ground truth:
    all ordered pairs of the exact-text key. Probabilistic behavior
    on real near-dups stays pinned by tests/test_dedup.py's
    agreement fixtures against d03."""
    from alternating_least_squares_spark.functions.mllib_lsh import (
        mllib_minhash_near_dup,
    )

    canon = F.concat_ws(
        " ",
        *[
            F.md5(
                F.concat(F.lit(str(i)), F.coalesce(F.col("text"), F.lit("")))
            )
            for i in range(5)
        ],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", canon.alias("text")
    )
    # planted exact copies (doc_id%10==0, +20M — the d11 offset
    # convention) guarantee distance-0 pairs at every SF; the corpus
    # itself holds few or no exact-text dups
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    return mllib_minhash_near_dup(
        docs.unionByName(copies), max_jaccard_distance=0.5
    )


SQL_D05 = """
WITH inp AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
  UNION ALL
  SELECT doc_id + 20000000, coalesce(text, '')
  FROM documents WHERE doc_id % 10 = 0
),
k AS (
  SELECT doc_id, md5(t) AS key FROM inp
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(0.0 AS DOUBLE) AS jaccard_distance
FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
"""


def q_s04_mllib_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH near-neighbor pairs on the chord
    scale. Oracle-EXACT (round 9) via the s02 construction: full-sign
    vectors + planted copies (vec_id%20==0, +1M). Identical sign
    patterns hash into the SAME bucket in every projection table
    (recall structurally 1.0 whatever the internal random vectors)
    at Euclidean distance exactly 0.0; distinct patterns differ in
    ≥1 of 64 ±1 components, distance ≥ 2 > the 1.0 join threshold —
    so the pair set is exactly "same sign pattern". Real-valued
    behavior stays pinned by tests/test_similarity.py."""
    from alternating_least_squares_spark.functions.mllib_lsh import (
        mllib_euclidean_neighbors,
    )

    sgn = F.transform(
        F.col("embedding"),
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sgn.alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return mllib_euclidean_neighbors(
        emb.unionByName(copies), max_distance=1.0
    )


SQL_S04 = """
WITH inp AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
),
k AS (
  SELECT vec_id,
         list_aggr(
           list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
           'string_agg', '') AS key
  FROM inp
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(0.0 AS DOUBLE) AS euclidean
FROM k a JOIN k b ON a.key = b.key AND a.vec_id < b.vec_id
"""


def q_s03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (KMeans coarse quantizer + probed-list exact
    rerank) — the second scale path next to s01's hyperplane LSH.
    Oracle-EXACT on the sign fixture (round 9, extending VERDICT r8
    #3 past s01): KMeans assignment is a deterministic argmin, so
    identical patterns land in the SAME inverted list no matter where
    the 16 centroids converge on 8 distinct points; the probe window
    (asc _d2, asc list_id — ivf.py:126) ranks the query's own
    assignment first (same distances, same lowest-index tie-break as
    MLlib's findClosest), so every same-pattern member is a candidate
    and the exact-cosine rerank forces the top-5. Real-valued recall
    stays pinned by tests/test_similarity.py."""
    from alternating_least_squares_spark.functions.ivf import (
        ivf_topk,
        train_centroids,
    )

    emb = _sgn3_embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 20)
    # random init: the oracle argument is assignment-invariant (any
    # centroid set puts identical patterns in one list), so the
    # k-means|| init passes buy nothing here — the sm01 rationale in
    # train_centroids' docstring. (r18 note: swapping this fit for the
    # driver-side Lloyd was tried — hash-green by the same invariance,
    # but four load-gated bench windows read s03 consistently ~0.5 s
    # SLOWER: here the fit is small next to the probe/rerank, and the
    # deterministic orderBy-sample pays an extra pass over the md5-
    # derived fixture expressions. sm01 keeps the swap — there the
    # vocabulary is the only distributed fit and the measurement reads
    # positive.)
    model = train_centroids(
        emb, n_centroids=16, init_mode="random"
    )
    return ivf_topk(
        emb, queries_df, k=5, n_centroids=16, n_probe=4, model=model
    )


SQL_S03 = SQL_SIGN_TOPK


def q_s05_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA 64→32 (MLlib, one Gramian pass) + cosine top-k in the
    reduced space, with LSH-bucketed candidate generation (default
    path — a bucket equi-join, never Q×N even for corpus-sized query
    sets). Oracle-EXACT on the sign fixture (round 9): the 8 sign
    patterns span ≤ 9 dims (8 centered directions + the uncentered
    mean), so 32 components hold the whole corpus — projection
    preserves pairwise DIFFERENCES exactly (x_p − x_q lies in the
    centered span), identical patterns project identically (reduced
    cosine exactly 1.0, same reduced-space LSH buckets in every
    table), and distinct projections stay ≥ √84 apart, bounding their
    cosine ≤ 0.85 < 1. Eigenvector sign/rotation ambiguity — the
    reason this was rows-only — cancels: cosine and bucket membership
    are basis-invariant. Real-valued recall + the full-rank
    rotation-invariance contract stay in tests/test_similarity.py."""
    from alternating_least_squares_spark.functions.similarity import pca_topk

    emb = _sgn3_embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return pca_topk(emb, queries_df, k=5, n_components=32)


SQL_S05 = SQL_SIGN_TOPK


def q_s06_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (functions/pq.py — Jégou et al. 2011): coarse-probe
    candidate generation, asymmetric-distance scoring over 4-byte PQ
    codes (the candidate stream never carries vectors — the
    memory-compression path that serves billion-vector indexes), then
    exact-cosine rerank of the ADC survivors. Oracle-EXACT on the
    sign fixture (round 9): driver-side Lloyd on ≤8 distinct points
    (resp. ≤8 distinct 16-dim subvectors) converges to exact pattern
    points in one iteration — duplicate centroids get no mass under
    the lowest-index argmin — so PQ encoding is LOSSLESS here: the
    ADC score of a same-pattern candidate is exactly Σ‖q_i‖² = 64.0
    while any cross-pattern candidate scores ≤ 22.0 (≥21 of 64 sign
    flips), so all ≥51 same-pattern members survive the rerank=64
    ADC cut and the exact-cosine rerank forces the top-5. Real-valued
    recall + exact-score contract pinned in tests/test_pq.py."""
    from alternating_least_squares_spark.functions.pq import ivf_pq_topk

    emb = _sgn3_embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_pq_topk(
        emb,
        queries_df,
        k=5,
        n_centroids=16,
        n_probe=4,
        m=4,
        k_sub=16,
        # ADC with m=4 ranks coarsely, so recall is bought with exact
        # rerank depth — cheap (64 full vectors per query via equi-join)
        rerank=64,
    )


SQL_S06 = SQL_SIGN_TOPK


S07_T_NUM, S07_T_DEN = 19, 20  # real cosine threshold 0.95


def _s07_nibble_sql(g: str, p: str) -> str:
    """Shared md5-nibble component: 1 + the first hex digit of
    md5('s07:<g>:<p>') — values in [1, 16], deterministic on both
    engines from the same string."""
    return (
        "(1 + CAST(strpos('0123456789abcdef', "
        f"substr(md5('s07:' || {g} || ':' || {p}), 1, 1)) - 1 AS BIGINT))"
    )


def _s07_allv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared s07/v06 vector universe: the real embeddings
    int8-quantized by the v03 rule PLUS the planted md5-nibble
    families (base, one-component-doubled neartwin, 2x-scaled twin,
    quarter-masked decoy at +1M..+4M id offsets) — the fixture whose
    known cosines (~0.98 / exactly 1 / ~0.86) exercise both the
    accept boundary and the reject side. Mirrored verbatim by the
    ``_SQL_S07_ALLV`` CTE block."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    safe = F.when(mx == 0, F.lit(1.0)).otherwise(mx)
    q8 = F.transform(
        xd, lambda x: F.floor(x * 127.0 / safe + 0.5).cast("long")
    )
    corpus = emb.select("vec_id", q8.alias("q"))

    g = F.col("vec_id")
    pos = F.sequence(F.lit(0), F.lit(63))

    def nib(p):
        return F.lit(1) + F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("s07:"),
                        g.cast("string"),
                        F.lit(":"),
                        p.cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")

    fam = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")

    def _member(offset: int, qexpr) -> DataFrame:
        # two-step select: building q and shifting the id in ONE
        # select would let Spark's lateral-column-alias resolution
        # bind nib()'s vec_id reference to the SHIFTED id (found the
        # hard way — every member silently hashed a different family)
        return fam.select("vec_id", qexpr.alias("q")).select(
            (F.col("vec_id") + offset).alias("vec_id"), "q"
        )

    m0 = _member(1_000_000, F.transform(pos, nib))
    m1 = _member(
        2_000_000,
        F.transform(
            pos,
            lambda p: nib(p)
            * F.when(p == g % 64, F.lit(2)).otherwise(F.lit(1)),
        ),
    )
    m2 = _member(3_000_000, F.transform(pos, lambda p: nib(p) * F.lit(2)))
    m3 = _member(
        4_000_000,
        F.transform(
            pos,
            lambda p: F.when(p % 4 == g % 4, F.lit(0)).otherwise(nib(p)),
        ),
    )
    return corpus.unionByName(m0).unionByName(m1).unionByName(m2).unionByName(m3)


def q_s07_exact_threshold_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT cosine-threshold join at a REAL 0.95 threshold over
    REAL-valued (int8-quantized) embeddings — the d12-style proof for
    the ANN family (the r13 standing caution: the s-ladder's oracles
    lean on sign-quantized fixtures whose cosines are forced to
    {1, ≤0.97}, which can mask estimator-quality bugs exactly the way
    threshold-1.0 Jaccard masked rank-1 MinHash).
    functions/similarity.exact_cosine_threshold_join has STRUCTURAL
    recall 1 (angular-triangle-inequality multi-probe over literal
    centroids; floats appear only in the probe decision where slop
    can only ADD candidates) and an exact-integer verify, so unlike
    the LSH entries nothing probabilistic stands between the operator
    and the oracle — which therefore BRUTE-FORCES all pairs (the d13
    discipline: the oracle may be quadratic, the operator is not).

    Corpus: the real embeddings quantized by the v03 int8 rule
    (engine-parity proven since round 7) — its densest pair sits at
    cosine ≈0.5, so the whole corpus exercises the REJECT side on
    realistic data. Planted families (vec_id % 10 == 0; the d12
    discipline) exercise the boundary: md5-nibble base vectors in
    [1,16]^64 with a one-component-doubled neartwin (cosine ≈0.98,
    real-valued, norm-asymmetric), a 2× scaled twin (cosine exactly
    1 at a DIFFERENT norm), and a quarter-masked decoy (cosine
    ≈0.86 — collides into the family's cell and must be rejected).
    Output is emit-the-terms: (id_a, id_b, dot, na2, nb2) exact
    BIGINTs, so the hash certifies every accept/reject decision
    including boundary algebra, with no float rounding to argue
    about."""
    from alternating_least_squares_spark.functions.similarity import (
        exact_cosine_threshold_join,
    )

    allv = _s07_allv(spark, sf_dir)
    return exact_cosine_threshold_join(
        allv, S07_T_NUM, S07_T_DEN, n_centroids=16
    )


_SQL_S07_ALLV = f"""mxt AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
),
corpus AS (
  SELECT e.vec_id,
         list_transform(e.embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
                     / (CASE WHEN m.mx = 0 THEN 1.0 ELSE m.mx END)
                     + 0.5) AS BIGINT)) AS q
  FROM embeddings e JOIN mxt m USING (vec_id)
),
fam AS (SELECT vec_id AS g FROM embeddings WHERE vec_id % 10 = 0),
members AS (
  SELECT g + 1000000 AS vec_id,
         list_transform(range(64), p -> {_s07_nibble_sql('g', 'p')}) AS q
  FROM fam
  UNION ALL
  SELECT g + 2000000,
         list_transform(range(64), p -> {_s07_nibble_sql('g', 'p')}
           * CASE WHEN p = g % 64 THEN 2 ELSE 1 END)
  FROM fam
  UNION ALL
  SELECT g + 3000000,
         list_transform(range(64), p -> {_s07_nibble_sql('g', 'p')} * 2)
  FROM fam
  UNION ALL
  SELECT g + 4000000,
         list_transform(range(64), p -> CASE WHEN p % 4 = g % 4 THEN 0
           ELSE {_s07_nibble_sql('g', 'p')} END)
  FROM fam
),
allv AS (
  SELECT * FROM corpus UNION ALL SELECT * FROM members
)"""

SQL_S07 = f"""
WITH {_SQL_S07_ALLV},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
         CAST(list_dot_product(a.q, a.q) AS BIGINT) AS na2,
         CAST(list_dot_product(b.q, b.q) AS BIGINT) AS nb2
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, dot, na2, nb2
FROM pairs
WHERE na2 > 0 AND nb2 > 0 AND dot > 0
  AND CAST(dot AS HUGEINT) * dot * {S07_T_DEN * S07_T_DEN}
      >= CAST({S07_T_NUM * S07_T_NUM} AS HUGEINT) * na2 * nb2
"""


V06_K = 1          # neighbors kept per vector
V06_T_NUM, V06_T_DEN = 9, 10  # edge admission threshold: cosine >= 0.9


def q_v06_knn_graph(
    spark: SparkSession,
    sf_dir: str,
    owned_out: list[int] | None = None,
) -> DataFrame:
    """Bucketed k-NN GRAPH construction over embeddings (VERDICT r14
    #6 — the similarity-graph primitive connecting the ANN family to
    the graph family: components/LPA over a k-NN graph is the
    standard semantic-cluster recipe next to sm01): for each vector,
    the ``V06_K`` most-cosine-similar neighbors among pairs at
    cosine ≥ 0.9, emitted as ``(src, dst, dot, ns2, nd2)`` edges in
    exact integer terms. Candidates come from
    ``exact_cosine_threshold_join`` (s07's angular multi-probe —
    structural recall 1, cell-keyed equi-joins, NEVER all-pairs), so
    the per-src top-k is selected from the COMPLETE ≥ t candidate
    set, making the graph exact, not probabilistic.

    The ranking is the load-bearing part and uses NO float sort key:
    candidate d1 beats d2 for the same src iff
    ``dot1²·nd2_2 > dot2²·nd2_1`` (the shared ns2 cancels; both dots
    are > 0 at t > 0), cross-multiplied in DECIMAL(38,0) with ties
    broken by dst id — a total order both engines state identically,
    computed as a bounded same-src "beats" equi-join (candidates per
    src are the ≥ 0.9 near-neighbors — few, by the near-dup regime).
    The s07 planted families make the selection evidential: a base
    vector sees its 2×-scaled twin at cosine EXACTLY 1 and its
    neartwin at ≈0.98 → top-1 picks the twin; the neartwin sees base
    and scaled at IDENTICAL cosines (scaled = 2·base) → the dst-id
    tie-break decides, deterministically on both engines.

    Scale: candidate generation is the s07 cell-keyed shape; the
    ranking join is keyed on src and touches only admitted
    candidate pairs (O(Σ deg²) with deg bounded by the threshold
    regime, never corpus²); output is k rows per node."""
    from alternating_least_squares_spark.functions.similarity import (
        exact_cosine_threshold_join,
    )

    from alternating_least_squares_spark.checkpoint import (
        local_checkpoint_owned,
        release_local_checkpoint,
    )

    allv = _s07_allv(spark, sf_dir)
    owned_base: list[int] = []
    pairs = exact_cosine_threshold_join(
        allv, V06_T_NUM, V06_T_DEN, n_centroids=16,
        owned_out=owned_base,
    )
    # the admitted pair set is tiny (near-dup regime) but its DAG is
    # the whole multi-probe join: symmetrize + the beats join would
    # otherwise re-execute it 4x (union of two reads, then self-join
    # of that) — checkpoint once, everything downstream reads k rows.
    # The eager checkpoint also materializes the join, so the
    # CORPUS-sized base checkpoint inside exact_cosine_threshold_join
    # is no longer read and is released HERE (the d13 rotation
    # discipline) instead of staying pinned for the session; only the
    # k-row pair checkpoint survives the call (review r15).
    pairs, _own_pairs = local_checkpoint_owned(pairs)
    release_local_checkpoint(pairs, set(owned_base))
    if owned_out is not None:
        # composition callers (v07) release the pair checkpoint once
        # their own downstream state is materialized (review r15)
        owned_out.extend(_own_pairs)
    sym = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "dot",
        F.col("na2").alias("ns2"),
        F.col("nb2").alias("nd2"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"),
            F.col("id_a").alias("dst"),
            "dot",
            F.col("nb2").alias("ns2"),
            F.col("na2").alias("nd2"),
        )
    )
    dec = "decimal(38,0)"
    a_dot, b_dot = F.col("a.dot").cast(dec), F.col("b.dot").cast(dec)
    a_score = a_dot * a_dot * F.col("b.nd2").cast(dec)
    b_score = b_dot * b_dot * F.col("a.nd2").cast(dec)
    beats = (b_score > a_score) | (
        (b_score == a_score) & (F.col("b.dst") < F.col("a.dst"))
    )
    better = (
        sym.alias("a")
        .join(
            sym.alias("b"),
            (F.col("a.src") == F.col("b.src")) & beats,
        )
        .groupBy(F.col("a.src").alias("src"), F.col("a.dst").alias("dst"))
        .agg(F.count("*").alias("n_better"))
    )
    return (
        sym.join(better, ["src", "dst"], "left")
        .filter(F.coalesce(F.col("n_better"), F.lit(0)) < V06_K)
        .select("src", "dst", "dot", "ns2", "nd2")
    )


_SQL_V06_KNN_CTES = f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
         CAST(list_dot_product(a.q, a.q) AS BIGINT) AS na2,
         CAST(list_dot_product(b.q, b.q) AS BIGINT) AS nb2
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
),
adm AS (
  SELECT id_a, id_b, dot, na2, nb2
  FROM pairs
  WHERE na2 > 0 AND nb2 > 0 AND dot > 0
    AND CAST(dot AS HUGEINT) * dot * {V06_T_DEN * V06_T_DEN}
        >= CAST({V06_T_NUM * V06_T_NUM} AS HUGEINT) * na2 * nb2
),
sym AS (
  SELECT id_a AS src, id_b AS dst, dot, na2 AS ns2, nb2 AS nd2 FROM adm
  UNION ALL
  SELECT id_b AS src, id_a AS dst, dot, nb2 AS ns2, na2 AS nd2 FROM adm
),
cnt AS (
  SELECT a.src, a.dst, count(*) AS n_better
  FROM sym a JOIN sym b ON a.src = b.src AND (
    CAST(b.dot AS HUGEINT) * b.dot * a.nd2
      > CAST(a.dot AS HUGEINT) * a.dot * b.nd2
    OR (CAST(b.dot AS HUGEINT) * b.dot * a.nd2
          = CAST(a.dot AS HUGEINT) * a.dot * b.nd2
        AND b.dst < a.dst))
  GROUP BY 1, 2
)"""

SQL_V06 = f"""
WITH {_SQL_S07_ALLV},
{_SQL_V06_KNN_CTES}
SELECT s.src, s.dst, s.dot, s.ns2, s.nd2
FROM sym s LEFT JOIN cnt c ON s.src = c.src AND s.dst = c.dst
WHERE coalesce(c.n_better, 0) < {V06_K}
"""


V07_ROUNDS = 4  # hash-min rounds; measured k-NN graph depth is 2 at
                # sf0.001/sf0.01/sf0.1 (family cliques + short chains)
                # -- 2x headroom, fixpoint pinned by pytest


def q_v07_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering over the k-NN graph — the composition v06
    exists for (its docstring names it: components over a k-NN graph
    is the standard semantic-cluster recipe next to sm01, the
    SemDeDup / semantic-dedup shape: cluster, then keep one per
    cluster or sample within): hash-min connected components
    (operators/graph.components_fixed, exactly V07_ROUNDS rounds —
    the gr08 fixed-sweep discipline) over v06's exact top-k edge
    set, read undirected. Every vector with a nonzero norm appears:
    isolated vectors (no ≥ 0.9 neighbor) are singleton clusters
    labeled with their own id, so the output is a TOTAL clustering
    of the corpus, ``(vec_id, cluster)`` with cluster = the minimum
    vec_id reachable — the planted families collapse onto their base
    member's +1M id unless a cross-family bridge (all-positive
    nibble vectors genuinely produce a few at 0.9) merges further
    down. The oracle restates the WHOLE composition: the shared allv
    fixture, the brute-force ≥ t pair set, the exact beats-join
    top-k, and the unrolled hash-min rounds — so the driver hash
    certifies candidate generation, ranking, and label propagation
    in one check. Scale: v06's cell-keyed shape feeds edges of k
    rows/node; components is the Pregel-as-DataFrames loop (one
    vertex-keyed join + one groupBy-min per round, rounds = cluster
    diameter — tiny for near-dup almost-cliques); the node fill is
    one left join."""
    from alternating_least_squares_spark.functions.similarity import (
        int_vec_dot,
    )
    from alternating_least_squares_spark.operators.graph import (
        components_fixed,
    )

    from alternating_least_squares_spark.checkpoint import (
        release_local_checkpoint,
    )

    own_pairs: list[int] = []
    knn = q_v06_knn_graph(spark, sf_dir, owned_out=own_pairs)
    edges = knn.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    labels = components_fixed(edges, rounds=V07_ROUNDS)
    # components_fixed returns an eager checkpoint, so v06's pair
    # checkpoint is fully superseded here — release it instead of
    # pinning one orphan per invocation (review r15)
    release_local_checkpoint(labels, set(own_pairs))
    qlong = F.transform(F.col("q"), lambda x: x.cast("long"))
    nodes = (
        _s07_allv(spark, sf_dir)
        .select("vec_id", int_vec_dot(qlong, qlong).alias("_n2"))
        .filter(F.col("_n2") > 0)
        .select("vec_id")
    )
    return nodes.join(
        labels, nodes.vec_id == labels.vertex, "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("cluster"),
    )


def _v07_oracle(rounds: int) -> str:
    """Unrolled hash-min over the v06 k-NN edge set (the gr08
    materialization lesson: l{r} references l{r-1} twice, so plain
    CTEs inline exponentially), with singleton fill from the
    nonzero-norm node universe."""
    parts = [
        "WITH " + _SQL_S07_ALLV,
        ",",
        _SQL_V06_KNN_CTES,
        f""",
knn AS MATERIALIZED (
  SELECT s.src, s.dst
  FROM sym s LEFT JOIN cnt c ON s.src = c.src AND s.dst = c.dst
  WHERE coalesce(c.n_better, 0) < {V06_K}
),
e AS MATERIALIZED (
  SELECT DISTINCT src AS a, dst AS b FROM (
    SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn
  )
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS c FROM e)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", l{r} AS MATERIALIZED (
  SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l{p}
    UNION ALL
    SELECT e.b AS v, l{p}.c FROM e JOIN l{p} ON e.a = l{p}.v
  ) GROUP BY 1
)"""
        )
    parts.append(
        f""", nodes AS (
  SELECT vec_id FROM allv WHERE list_dot_product(q, q) > 0
)
SELECT n.vec_id,
       CAST(coalesce(l.c, n.vec_id) AS BIGINT) AS cluster
FROM nodes n LEFT JOIN l{rounds} l ON n.vec_id = l.v"""
    )
    return "\n".join(parts)


SQL_V07 = _v07_oracle(V07_ROUNDS)


def q_m01_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.ml.als import train_and_recommend

    return train_and_recommend(spark, sf_dir, rank=8, max_iter=8, k=5)


def q_m03_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document filtering (ml/classifier.py — the learned
    quality-classifier stage of LLM data recipes): codegen feature
    assembly → content-hash split → MLlib logistic regression →
    scan-speed holdout scoring. The label is a PLANTED linear rule
    (this corpus's metadata is text-independent noise — documented in
    the module), so the pipeline is graded on rule recovery, floor
    pinned in tests/test_classifier.py. Rows-only: coefficients depend
    on LBFGS aggregation order."""
    from alternating_least_squares_spark.ml.classifier import (
        train_and_score_filter,
    )

    return train_and_score_filter(spark, sf_dir)


def q_m05_pinned_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified twin of m03's scoring path (VERDICT r10 #3 — the
    last cheap rows-only→oracle conversion): identical feature
    assembly, content-hash holdout split, and left-associated
    literal-margin codegen, with the LBFGS coefficients replaced by
    the pinned exactly-representable constants in ml/classifier.py.
    Every double the comparison touches is integer-derived (one IEEE
    division of exact ints) or round(·,6)'d identically on both
    engines, so label/pred booleans are bit-stable cross-engine. The
    ipf_cost_per_visit_fixed twin discipline applied to ML scoring;
    m03's optimizer itself stays rows-only with its pytest recovery
    floor."""
    from alternating_least_squares_spark.ml.classifier import (
        pinned_score_filter,
    )

    return pinned_score_filter(spark, sf_dir)


def _m05_sql() -> str:
    from alternating_least_squares_spark.ml.classifier import (
        PINNED_COEFS,
        PINNED_INTERCEPT,
        SPLIT_AT,
    )

    en = _marker_sql(TX.LANG_MARKERS["en"])
    de = _marker_sql(TX.LANG_MARKERS["de"])
    es = _marker_sql(TX.LANG_MARKERS["es"])
    fr = _marker_sql(TX.LANG_MARKERS["fr"])
    c = PINNED_COEFS
    # the margin chain mirrors score_margin's left-associated
    # FEATURE_COLS order exactly — IEEE addition is order-sensitive
    margin = (
        f"{PINNED_INTERCEPT!r} + ({c['punct_ratio']!r}) * punct_ratio "
        f"+ ({c['avg_tok_len']!r}) * avg_tok_len "
        f"+ ({c['quality']!r}) * quality "
        f"+ ({c['m_en']!r}) * m_en + ({c['m_de']!r}) * m_de "
        f"+ ({c['m_es']!r}) * m_es + ({c['m_fr']!r}) * m_fr"
    )
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
tk AS (
  SELECT doc_id, text, {_toks_sql()} AS toks,
         ' ' || lower(text) || ' ' AS p
  FROM d
),
f AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
              / len(toks) END AS avg_tok_len,
    CAST(len(toks) AS DOUBLE) AS n_tok,
    CAST({en} AS DOUBLE)
      / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS m_en,
    CAST({de} AS DOUBLE)
      / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS m_de,
    CAST({es} AS DOUBLE)
      / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS m_es,
    CAST({fr} AS DOUBLE)
      / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS m_fr,
    {_hex4_sql()} AS hex4
  FROM tk
),
q AS (
  SELECT *,
    round(greatest(0.0,
      least(n_tok / 64.0, 1.0) * 0.5
      + (CASE WHEN avg_tok_len <= 0 THEN 0.0
              ELSE least(avg_tok_len / 5.0, 1.0) END) * 0.5
      - punct_ratio * 2.0), 6) AS quality
  FROM f
)
SELECT doc_id,
  CAST(2.0 * m_en + 0.1 * avg_tok_len - 3.0 * punct_ratio > 0.51
       AS BIGINT) AS label,
  CAST({margin} > 0 AS BIGINT) AS pred
FROM q
WHERE hex4 >= {SPLIT_AT}
"""


SQL_M05 = _m05_sql()


def q_m06_pinned_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified twin of the ALS recommend stage (VERDICT r11 #3
    — the name-promise family was the last one outside the oracle):
    the shared ``recommend_from_factors`` scoring path (dot product +
    per-user top-k with deterministic tie-break) run on PINNED
    exactly-representable factor matrices derived from the testdata
    keys, instead of a fit. Scores are exact integers in units of
    1/64, so rows, ranks, and tie-breaks are bit-stable cross-engine;
    a pytest pins the same expression to MLlib's own ``transform``
    scoring on a live model, tying this hash to what m01/m02 execute.
    Bounded query side (every 29th user, broadcast) — recommending
    for ALL users at scale stays on m01's MLlib block-partitioned
    path."""
    from alternating_least_squares_spark.ml.als import pinned_recommend

    return pinned_recommend(spark, sf_dir, k=5)


def q_m07_pinned_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified twin of m02's ranking-evaluation machinery:
    hits@5 and floored recall-ppm per scored user against the observed
    (user, item) positives of the same orders ⋈ lineitem projection
    the live fits train on. All-integer output — the eval side of the
    implicit-ALS entry, certified end to end (projection, semi-join
    hit counting, exact-divide flooring) with only the fit left
    rows-only."""
    from alternating_least_squares_spark.ml.als import pinned_ranking_eval

    return pinned_ranking_eval(spark, sf_dir, k=5)


def _pinned_factor_sql(key: str, prefix: str) -> str:
    from alternating_least_squares_spark.ml.als import PINNED_DIMS

    return ", ".join(
        f"({key}*{p}+{q})%17-8 AS {prefix}{j}"
        for j, (p, q) in enumerate(PINNED_DIMS)
    )


def _m06_ranked_sql() -> str:
    """Shared m06/m07 CTE chain: pinned factors, exact integer dot,
    per-user ranking (mirrors recommend_from_factors' index-ordered
    aggregate and (score desc, item asc) tie-break)."""
    from alternating_least_squares_spark.ml.als import (
        PINNED_DIMS,
        PINNED_USER_STRIDE,
    )

    dot = " + ".join(f"u{j}*i{j}" for j in range(len(PINNED_DIMS)))
    return f"""users AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS user_id FROM orders
  WHERE o_custkey % {PINNED_USER_STRIDE} = 0
),
items AS (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS item_id FROM lineitem
),
uf AS (SELECT user_id, {_pinned_factor_sql("user_id", "u")} FROM users),
itf AS (SELECT item_id, {_pinned_factor_sql("item_id", "i")} FROM items),
ranked AS (
  SELECT user_id, item_id, CAST({dot} AS BIGINT) AS score_units,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY {dot} DESC, item_id
         ) AS rn
  FROM uf CROSS JOIN itf
)"""


SQL_M06 = f"""
WITH {_m06_ranked_sql()}
SELECT user_id, item_id, score_units,
       CAST(score_units AS DOUBLE)/64.0 AS score
FROM ranked WHERE rn <= 5
"""

def _m07_sql() -> str:
    from alternating_least_squares_spark.ml.als import PINNED_USER_STRIDE

    return f"""
WITH {_m06_ranked_sql()},
recs AS (SELECT user_id, item_id FROM ranked WHERE rn <= 5),
pos AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS user_id,
         CAST(l_partkey AS BIGINT) AS item_id
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey % {PINNED_USER_STRIDE} = 0
),
np AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS npos FROM pos GROUP BY 1),
h AS (
  SELECT r.user_id, CAST(COUNT(p.item_id) AS BIGINT) AS hits
  FROM recs r
  LEFT JOIN pos p ON r.user_id = p.user_id AND r.item_id = p.item_id
  GROUP BY 1
)
SELECT np.user_id, h.hits, np.npos,
       CAST(floor(CAST(h.hits * 1000000 AS DOUBLE) / np.npos) AS BIGINT)
         AS recall_ppm
FROM np JOIN h ON np.user_id = h.user_id
"""


SQL_M07 = _m07_sql()


def q_m02_als_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS (Hu/Koren/Volinsky 2008) over the same
    ratings projection — Σ quantity is confidence, not a rating, so
    this variant is the statistically right one for the testdata.
    Rows-only (iterative ML); ranking-quality floor pinned in
    tests/test_als.py."""
    from alternating_least_squares_spark.ml.als import (
        train_and_recommend_implicit,
    )

    return train_and_recommend_implicit(spark, sf_dir, rank=8, max_iter=8, k=5)


# ---------------------------------------------------------------------------
# embeddings (vector math)


DOT_SQL = (
    "list_sum(list_transform(range(64), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
)
NORM_SQL = (
    "sqrt(list_sum(list_transform(range(64), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({a}[i+1] AS DOUBLE))))"
)


def q_v01_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.functions.similarity import (
        pair_cosine,
        vec_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        vec_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        vec_norm(F.col("embedding")).alias("nb"),
    )
    cos = pair_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return a.join(b, "id_a").select("id_a", "id_b", cos.alias("cosine"))


SQL_V01 = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({DOT_SQL.format(a="a.embedding", b="b.embedding")}
             / ({NORM_SQL.format(a="a.embedding")}
                * {NORM_SQL.format(a="b.embedding")}), 6) AS cosine
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
"""


def q_v02_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for 20 query vectors.
    Rank by (rounded cosine DESC, neighbor id) so ordering is
    deterministic across engines. The LSH-bucketed variant for scale is
    ``functions/similarity.py`` (rows-only check)."""
    from alternating_least_squares_spark.functions.similarity import (
        pair_cosine,
        rank_topk,
        vec_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        vec_norm(F.col("embedding")).alias("nq"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("en"),
        vec_norm(F.col("embedding")).alias("nn"),
    )
    pairs = q.crossJoin(n).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = pair_cosine(F.col("eq"), F.col("en"), F.col("nq"), F.col("nn"))
    return rank_topk(
        pairs.select("query_id", "neighbor_id", cos.alias("cosine")), 5
    )


SQL_V02 = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({DOT_SQL.format(a="q.embedding", b="n.embedding")}
               / ({NORM_SQL.format(a="q.embedding")}
                  * {NORM_SQL.format(a="n.embedding")}), 6) AS cosine
  FROM embeddings q CROSS JOIN embeddings n
  WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_v03_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage-shrink step of a vector pipeline (4 bytes → 1 byte per
    dim, 4× smaller scans before rerank). Pure codegen exprs.

    Oracle-parity notes: round-half-up is spelled ``floor(x + 0.5)``
    because ``round()`` tie conventions differ between engines, and the
    quantized array is emitted as a CSV string (the driver's canon
    layer compares scalars, not nested lists). A zero vector keeps
    scale 1 to dodge 127/0."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    safe = F.when(mx == 0, F.lit(1.0)).otherwise(mx)
    q8 = F.transform(
        xd, lambda x: F.floor(x * 127.0 / safe + 0.5).cast("long").cast("string")
    )
    return emb.select(
        "vec_id",
        F.round(mx, 6).alias("abs_max"),
        F.array_join(q8, ",").alias("q8"),
    )


SQL_V03 = """
WITH base AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
)
SELECT e.vec_id,
       round(b.mx, 6) AS abs_max,
       array_to_string(list_transform(e.embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
                   / (CASE WHEN b.mx = 0 THEN 1.0 ELSE b.mx END)
                   + 0.5) AS BIGINT)), ',') AS q8
FROM embeddings e JOIN base b USING (vec_id)
"""


def _sign_code(half: int) -> Column:
    """Pack 32 embedding sign bits into one non-negative BIGINT:
    half 0 = dims 1–32, half 1 = dims 33–64. A flat 32-term codegen
    sum of literal powers of two (the t19 HOF lesson: interpreted
    lambdas lose to compiled expressions), and two 32-bit halves
    instead of one 64-bit word so neither engine ever touches the
    BIGINT sign bit."""
    terms = [
        F.when(
            F.element_at("embedding", half * 32 + j + 1) > 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(32)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def q_v04_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization + Hamming top-k — the third rung
    of the quantization ladder (v03 int8 = 4×, s06 PQ = 32×, this =
    one BIT per dimension, 32× with nothing but XOR+popcount at query
    time; the compression modern vector stores ship as 'binary
    quantization' for the first-pass candidate scan). Each 64-dim
    vector packs into two 32-bit sign codes; candidate distance =
    popcount(xor) summed over the halves — integer arithmetic,
    bit-identical on any engine, at any parallelism.

    Query shape: the v02 fixture (vec_id < 20 queries, rank by
    (hamming ASC, neighbor_id) so ties are a set, top-5). Brute force
    here is the correctness baseline — at 100 TB the codes ARE the
    scan (8 bytes/vector: a 10⁹-vector corpus is 8 GB of codes,
    broadcast-or-local to every executor), and the s01/s03 bucketed
    ladders remain the sublinear path; exact rerank on the survivors
    reuses v02."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _sign_code(0).alias("c0"),
        _sign_code(1).alias("c1"),
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("c0").alias("q0"),
        F.col("c1").alias("q1"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"), "c0", "c1"
    )
    pairs = q.crossJoin(n).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(
        "hamming", "neighbor_id"
    )
    return (
        pairs.select("query_id", "neighbor_id", ham.alias("hamming"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


def _v04_code_sql(half: int) -> str:
    terms = [
        f"(CASE WHEN embedding[{half * 32 + j + 1}] > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    ]
    return " + ".join(terms)


SQL_V04 = f"""
WITH codes AS (
  SELECT vec_id,
         {_v04_code_sql(0)} AS c0,
         {_v04_code_sql(1)} AS c1
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.c0, n.c0))
              + bit_count(xor(q.c1, n.c1)) AS BIGINT) AS hamming
  FROM codes q JOIN codes n ON q.vec_id < 20
   AND q.vec_id <> n.vec_id
)
SELECT query_id, neighbor_id, hamming,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id)
            AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 5
"""


def q_v05_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) via the Shrivastava–Li
    (NIPS 2014) augmentation — the retrieval mode recommender scoring
    actually needs (rank by RAW dot product, where a long vector can
    beat a well-aligned short one; cosine ANN alone can't express
    it): append one component sqrt(M² − ‖x‖²) to every corpus vector
    (M = max corpus norm) and 0 to the query — every augmented corpus
    vector then has norm EXACTLY M, so augmented cosine =
    dot/(‖q‖·M) is a per-query monotone map of the inner product and
    the whole cosine ANN ladder (s01 hyperplane LSH, s03 IVF, s06 PQ)
    applies to MIPS unchanged. This entry certifies the reduction is
    exactly ranking-preserving: Spark RANKS by the augmented cosine,
    the oracle ranks by the raw dot — a hash match means no pair ever
    swapped.

    Exactness: components quantize to integer milli-units on both
    engines, so dots and squared norms are exact BIGINTs (≤64·10⁶ —
    also exactly representable doubles); distinct integer dots stay
    distinct through the one shared-constant division (|a−b| ≥ 1
    against a ulp ~1e-12 at this magnitude), equal dots tie-break by
    neighbor_id on both sides. M² is ONE collected scalar (the t18
    N/V precedent); the 20×N brute-force cross join is the same
    baseline shape as v02 — at scale the augmented vectors feed the
    bucketed ladder instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    iv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000).cast("long"),
    )
    zero = F.lit(0).cast("long")
    base = emb.select(F.col("vec_id"), iv.alias("iv")).withColumn(
        "n2",
        F.aggregate("iv", zero, lambda acc, x: acc + x * x),
    )
    m2 = base.agg(F.max("n2")).collect()[0][0]  # one scalar (M²)
    q = base.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("iv").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("iv").alias("nv")
    )
    pairs = q.crossJoin(n).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda x, y: x * y),
        zero,
        lambda acc, x: acc + x,
    )
    aug_cos = dot.cast("double") / (
        F.sqrt(F.col("qn2").cast("double"))
        * F.sqrt(F.lit(int(m2)).cast("double"))
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        dot.alias("dot"),
        aug_cos.alias("_ac"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_ac"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "dot",
            F.round("_ac", 6).alias("aug_cosine"),
            "rank",
        )
    )


SQL_V05 = """
WITH b AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS iv
  FROM embeddings
),
n2t AS (
  SELECT vec_id, iv,
         CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
  FROM b
),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(64),
           i -> q.iv[i+1] * n.iv[i+1])) AS BIGINT) AS dot,
         q.n2 AS qn2
  FROM n2t q CROSS JOIN n2t n
  WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, dot,
         round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(qn2 AS DOUBLE))
                  * sqrt(CAST((SELECT MAX(n2) FROM n2t) AS DOUBLE))),
               6) AS aug_cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY dot DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, dot, aug_cosine, rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# events (time-series / stream-shaped)


def q_e01_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            # pmod, not %: hour-of-day stays in [0, 24) pre-1970 too
            F.expr(f"pmod({_floor_div('ts_ns', NS_PER_HOUR)}, 24)").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
    )


SQL_E01 = f"""
SELECT (({_floor_div_duck('epoch_ns(ts)', NS_PER_HOUR)} % 24) + 24) % 24
         AS hour, event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS total_value
FROM events GROUP BY 1, 2
"""


def q_e02_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


SQL_E02 = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events
"""


def q_e03_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the batch analog of
    the streaming stateful operator in ``streaming/``. Integer
    MICROsecond arithmetic (DuckDB timestamps are µs-precision, so ns
    would not round-trip through its view) → exact parity.

    Hot users serialize their window partition (correctness pinned by
    tests/test_skew.py's 95%-hot fixture); the mitigation recipe lives
    in operators/skew.py."""
    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_us", F.expr("ts_ns DIV 1000")
    )
    w = Window.partitionBy("user_id").orderBy("_us")
    lagged = ev.withColumn("_prev", F.lag("_us").over(w))
    flagged = lagged.withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull() | (F.col("_us") - F.col("_prev") > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("_new").over(
            Window.partitionBy("user_id").orderBy("_us").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("_us").alias("session_start_us"),
        F.max("_us").alias("session_end_us"),
        F.count("*").alias("n_events"),
    )


SQL_E03 = """
WITH lagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts_us,
         CAST(SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       COUNT(*) AS n_events
FROM sess GROUP BY 1, 2
"""


def q_e06_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-funnel analysis (view → click → purchase), the
    product-analytics staple: a user reaches stage k only via an event
    AFTER their stage-k-1 time. Expressed as chained conditional MINs —
    three narrow aggregates over the same scan, each joined back on
    user_id (broadcast-sized: one row per user) — rather than a
    per-user sorted-array scan, so both engines state it identically
    and nothing is order-dependent. Timestamps are epoch micros
    (ts_ns DIV 1000) for exact parity.

    At 100 TB: three shuffles on user_id over progressively smaller
    slices (stage-2 scans only click events, stage-3 only purchases);
    a match_recognize-style single-pass NFA would be one shuffle but
    per-row stateful — this shape stays whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts_us") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts_us").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts_us") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    return (
        s1.join(s2.select("user_id", "t_click"), "user_id", "left")
        .join(s3.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("funnel_depth"),
        )
    )


SQL_E06 = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s1 AS (
  SELECT user_id, min(ts_us) AS t_view FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT ev.user_id, min(ts_us) AS t_click
  FROM ev JOIN s1 ON ev.user_id = s1.user_id
  WHERE event_type = 'click' AND ts_us > t_view
  GROUP BY 1
),
s3 AS (
  SELECT ev.user_id, min(ts_us) AS t_purchase
  FROM ev JOIN s2 ON ev.user_id = s2.user_id
  WHERE event_type = 'purchase' AND ts_us > t_click
  GROUP BY 1
)
SELECT s1.user_id, t_view, t_click, t_purchase,
       CAST(1 + (t_click IS NOT NULL)::int + (t_purchase IS NOT NULL)::int
            AS BIGINT) AS funnel_depth
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_e07_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — users grouped by first-activity day, then
    distinct active users per (cohort_day, days_since): the
    activation/retention matrix every growth dashboard draws. Two
    aggregates over one scan (first-seen per user, then distinct
    users per cohort cell); day arithmetic in integer epoch-days
    (ts_ns over 8.64e13 ns/day) so both engines bucket identically with no
    timezone or calendar dependence.

    At 100 TB: the first-seen aggregate shuffles on user_id once and
    is broadcast back against the (much wider) activity stream; the
    cell aggregate is a partial+final count_distinct on a key space
    of |cohorts| x |horizon| — tiny."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(_floor_div("ts_ns", day_ns)).alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("days_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


SQL_E07 = """
WITH ev AS (
  SELECT user_id,
         ((epoch_ns(ts) - ((epoch_ns(ts) % 86400000000000) + 86400000000000)
           % 86400000000000) // 86400000000000) AS day
  FROM events
),
first AS (
  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
)
SELECT cohort_day, day - cohort_day AS days_since,
       count(DISTINCT ev.user_id) AS n_active
FROM ev JOIN first ON ev.user_id = first.user_id
GROUP BY 1, 2
"""


def q_e08_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — per (event_type, hour) open/high/low/close
    /count/volume bars, the canonical time-series compaction (metrics
    rollups, market candles). Open/close are picked by row_number over
    (ts_ns, event_id) — a total order, so ties cannot flap engines;
    high/low are exact min/max; volume sums through a decimal cast.

    At 100 TB: both windows and the final groupBy share the
    (event_type, hour_bucket) partitioning, so Catalyst plans ONE
    exchange followed by per-partition sorts + a partial/final agg —
    the bar count (|types| x |hours|) is tiny however wide the input."""
    hour_ns = 3_600_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        "ts_ns",
        F.expr(_floor_div("ts_ns", hour_ns)).alias("hour_bucket"),
    )
    w_open = Window.partitionBy("event_type", "hour_bucket").orderBy(
        F.asc("ts_ns"), F.asc("event_id")
    )
    w_close = Window.partitionBy("event_type", "hour_bucket").orderBy(
        F.desc("ts_ns"), F.desc("event_id")
    )
    ranked = ev.withColumn("_rn_o", F.row_number().over(w_open)).withColumn(
        "_rn_c", F.row_number().over(w_close)
    )
    return ranked.groupBy("event_type", "hour_bucket").agg(
        F.max(F.when(F.col("_rn_o") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("_rn_c") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
        ).alias("volume"),
    )


SQL_E08 = f"""
WITH ev AS (
  SELECT event_id, event_type, value, epoch_ns(ts) AS ts_ns,
         {_floor_div_duck('epoch_ns(ts)', 3_600_000_000_000)} AS hour_bucket
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, hour_bucket
                            ORDER BY ts_ns, event_id) AS rn_o,
         row_number() OVER (PARTITION BY event_type, hour_bucket
                            ORDER BY ts_ns DESC, event_id DESC) AS rn_c
  FROM ev
)
SELECT event_type, hour_bucket,
       max(CASE WHEN rn_o = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_c = 1 THEN value END) AS close,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS volume
FROM r GROUP BY 1, 2
"""


def q_e09_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — per-user consecutive-day activity streaks,
    the classic sessionization-by-calendar pattern (login streaks,
    SLA windows): distinct active days, islands identified by the
    ``day - row_number()`` constant-per-run trick, then per-user
    longest/count/total. Day buckets in integer epoch-days (floor
    division) so both engines agree pre-1970 too.

    At 100 TB: everything clusters on user_id — the distinct, the
    window, and both aggregates share that partitioning after the
    first exchange on (user_id, day) collapses into it; per-user day
    counts are bounded by the calendar, so no reducer hot-spots."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(_floor_div("ts_ns", day_ns)).alias("day")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "_grp", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "_grp").agg(
        F.count("*").alias("_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("_len").alias("active_days"),
    )


SQL_E09 = f"""
WITH days AS (
  SELECT DISTINCT user_id,
         {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len FROM islands GROUP BY 1, 2
)
SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks,
       CAST(sum(len) AS BIGINT) AS active_days
FROM streaks GROUP BY 1
"""


def q_e05_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path: ``parse_json`` once into a variant,
    then typed ``variant_get`` extractions — the open-schema
    semi-structured column pattern (vs e02's per-path string
    extraction). A missing path yields NULL, matching the oracle's
    json extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k"),
        F.variant_get(v, "$.missing", "string").alias("absent"),
    )


SQL_E05 = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k,
       props->>'$.missing' AS absent
FROM events
"""


# GPT-2-style pretokenizer (simplified, ASCII): contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs. Identical
# semantics in java.util.regex (Spark) and RE2 (DuckDB) for this
# pattern — no lookarounds, no unicode classes.
BPE_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def q_t09_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the LLM-pipeline's 'how many tokens is
    this corpus' accounting): subword-boundary pretokens via regex vs
    plain whitespace tokens, per document. Pure regexp_extract_all —
    JVM-side, scan-speed."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        TX.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
    )


SQL_T09 = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9'']+'))
         AS BIGINT) AS n_bpe_tokens,
       CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS BIGINT)
         AS n_ws_tokens
FROM documents
"""

CHUNK_LEN = 200
CHUNK_STRIDE = 150


def q_t10_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: fixed-size character windows with overlap
    (len 200, stride 150) — the context-window-packing primitive of
    every LLM training pipeline. ``sequence`` + ``posexplode`` is a
    row generator (narrow, no shuffle): chunking 100 TB costs one
    pass, and chunks inherit the parent's partitioning. Chunk content
    is hash-compacted (md5) so the oracle compares exact text without
    hauling it."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    last_start = (
        F.floor((F.greatest(F.length(text), F.lit(1)) - 1) / CHUNK_STRIDE)
        * CHUNK_STRIDE
    ).cast("int")
    starts = F.sequence(F.lit(0), last_start, F.lit(CHUNK_STRIDE))
    chunk = F.substring(text, F.col("start") + 1, CHUNK_LEN)
    return (
        docs.select("doc_id", F.posexplode(starts).alias("chunk_idx", "start"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


SQL_T10 = f"""
WITH g AS (
  SELECT doc_id, coalesce(text, '') AS t,
         unnest(generate_series(0,
           CAST((greatest(length(coalesce(text, '')), 1) - 1)
                // {CHUNK_STRIDE} * {CHUNK_STRIDE} AS BIGINT),
           {CHUNK_STRIDE})) AS start
  FROM documents
)
SELECT doc_id,
       start // {CHUNK_STRIDE} AS chunk_idx,
       start,
       CAST(length(substr(t, CAST(start AS INT) + 1, {CHUNK_LEN})) AS BIGINT)
         AS chunk_len,
       md5(substr(t, CAST(start AS INT) + 1, {CHUNK_LEN})) AS chunk_md5
FROM g
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"


def q_t11_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regex scrub of emails and phone numbers with
    per-doc match accounting. The synthetic corpus contains no PII, so
    the query plants a deterministic email+phone per document first —
    the operator under test is the scrub itself (pure codegen
    regexp_replace / regexp_count; both patterns are RE2- and
    Java-regex-compatible so the oracle runs them verbatim)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


SQL_T11 = f"""
WITH p AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.com or +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS planted
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(planted, '{_PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(planted, '{_PII_PHONE}')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(regexp_replace(planted, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM p
"""


def q_t12_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family
    of filters, Rae et al. 2021): duplicate-token fraction and
    top-token share per document. explode → two-level agg; all counts
    are integers so both ratios are single exact divisions."""
    docs = load_table(spark, sf_dir, "documents")
    tok_counts = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("_c"))
    )
    return (
        tok_counts.groupBy("doc_id")
        .agg(
            F.sum("_c").alias("_n"),
            F.count("*").alias("_uniq"),
            F.max("_c").alias("_mx"),
        )
        .select(
            "doc_id",
            F.col("_n").cast("long").alias("n_tokens"),
            F.round(
                1.0 - F.col("_uniq").cast("double") / F.col("_n"), 6
            ).alias("dup_token_frac"),
            F.round(F.col("_mx").cast("double") / F.col("_n"), 6).alias(
                "top_token_share"
            ),
        )
    )


SQL_T12 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     tc AS (
       SELECT doc_id, t, count(*) AS _c
       FROM (SELECT doc_id, unnest(toks) AS t FROM tk)
       GROUP BY 1, 2
     )
SELECT doc_id,
       CAST(sum(_c) AS BIGINT) AS n_tokens,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(_c), 6) AS dup_token_frac,
       round(CAST(max(_c) AS DOUBLE) / sum(_c), 6) AS top_token_share
FROM tc GROUP BY 1
"""


CTX_EXCERPT_CHARS = 80


def q_t14_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered context assembly — the prompt/few-shot
    packing aggregation (concatenate ordered member excerpts per
    group) that any order-UNSTABLE ``collect_list`` silently breaks
    under repartitioning: members ride a (doc_id, excerpt) struct
    array, ``array_sort`` pins a TOTAL order (doc_id, then excerpt —
    the oracle's ORDER BY spells out the same tie-break) inside the
    aggregation, and the assembled context is surfaced as md5 + length
    so the hash check proves BYTE-exact assembly against SQL's
    ``string_agg(... ORDER BY)``.

    At 100 TB: one shuffle on the group key; per-group memory is
    O(n_members x excerpt_cap) — the cap bounds each ELEMENT, not the
    group. A group with unbounded membership needs a member cap (top-k
    by doc_id via window) or the t13 sharded-packing shape instead; a
    prompt-assembly group is small by construction (the use case)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    excerpt = F.substring("text", 1, CTX_EXCERPT_CHARS)
    assembled = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("doc_id").alias("i"), excerpt.alias("t"))
                )
            ),
            lambda s: s["t"],
        ),
        "\n",
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.length(assembled).alias("context_chars"),
        F.md5(assembled).alias("context_md5"),
    )


SQL_T14 = f"""
SELECT source, count(*) AS n_docs,
       CAST(length(string_agg(substr(text, 1, {CTX_EXCERPT_CHARS}), chr(10)
               ORDER BY doc_id, substr(text, 1, {CTX_EXCERPT_CHARS})))
            AS INT) AS context_chars,
       md5(string_agg(substr(text, 1, {CTX_EXCERPT_CHARS}), chr(10)
               ORDER BY doc_id, substr(text, 1, {CTX_EXCERPT_CHARS})))
         AS context_md5
FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
GROUP BY 1
"""

RANGEGEN_N = 24_000


def q_x07_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API (``sources/pysource.py``): a
    custom partitioned connector — rows are pulled per InputPartition
    on executors, never through the driver. The generator is a pure
    function of the row id, so a SQL oracle can replay the connector
    exactly; the query aggregates over the synthetic stream to prove
    the rows actually flowed."""
    from alternating_least_squares_spark.sources.pysource import register

    register(spark)
    src = (
        spark.read.format("rangegen")
        .option("n", RANGEGEN_N)
        .option("partitions", 8)
        .load()
    )
    return src.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(F.col("score").cast("decimal(38,10)")).cast("double"), 6
        ).alias("score_sum"),
    )


SQL_X07 = f"""
WITH g AS (
  SELECT unnest(generate_series(0, {RANGEGEN_N - 1})) AS id
)
SELECT id % 24 AS bucket,
       count(*) AS n_rows,
       round(CAST(sum(CAST((id * 2654435761 % 1000000) / 1000000.0
                           AS DECIMAL(38,10))) AS DOUBLE), 6) AS score_sum
FROM g GROUP BY 1
"""

DOMAIN_CAP = 10


def q_x06_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix sampling: cap every source domain at DOMAIN_CAP
    docs' worth of probability mass (rate = cap/|domain|, the
    down-weight-the-crawl-dominator move in training-data mixing).
    Rates come from one tiny per-domain count (broadcast back); the
    keep decision is the same md5 content hash as x02/x03 —
    deterministic under repartitioning, engines, and reruns, hence
    exactly oracle-checkable (seeded RNG samplers are none of those)."""
    docs = load_table(spark, sf_dir, "documents")
    rates = docs.groupBy("source").agg(
        F.least(
            F.lit(1.0), F.lit(float(DOMAIN_CAP)) / F.count("*")
        ).alias("_rate")
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_hex4(F.col("doc_id")) < F.floor(F.col("_rate") * 65536))
        .select("doc_id", "source")
    )


SQL_X06 = f"""
WITH rates AS (
  SELECT source, least(1.0, {float(DOMAIN_CAP)} / count(*)) AS _rate
  FROM documents GROUP BY 1
), b AS (
  SELECT doc_id, source,
         {_hex4_sql()}
         AS hex4
  FROM documents
)
SELECT doc_id, b.source
FROM b JOIN rates ON b.source = rates.source
WHERE hex4 < floor(_rate * 65536)
"""


def q_e04_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsample + gap fill: per-user 6-hour buckets over
    each user's own [min, max] span, with empty buckets materialized
    as zero rows (``sequence`` + ``explode`` builds the dense grid —
    a generator, not a shuffle; the grid is |users|·|span buckets|).
    The left join onto actual bucket aggregates shuffles on
    (user, bucket) once. Integer-µs bucket arithmetic for exact
    DuckDB parity."""
    bucket_us = 6 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_b",
        F.expr(f"{_floor_div('ts_ns DIV 1000', bucket_us)} * {bucket_us}"),
    )
    # ONE raw-events scan: the bucket aggregate. Spans re-aggregate
    # the (much smaller) bucket table, not the raw events.
    actual = ev.groupBy("user_id", F.col("_b").alias("bucket_us")).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("_v"),
    )
    spans = actual.groupBy("user_id").agg(
        F.min("bucket_us").alias("_b0"), F.max("bucket_us").alias("_b1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_b0"), F.col("_b1"), F.lit(bucket_us))
        ).alias("bucket_us"),
    )
    return grid.join(actual, ["user_id", "bucket_us"], "left").select(
        "user_id",
        "bucket_us",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_events"),
        F.round(
            F.coalesce(F.col("_v"), F.lit(0).cast("decimal(38,10)")).cast(
                "double"
            ),
            6,
        ).alias("total_value"),
    )


def q_e17_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill resampling (LOCF — last observation carried
    forward), the OTHER gap-fill semantics time-series users need:
    e04 materializes empty buckets as zeros (count-like series); a
    sensor/price series must instead HOLD the last reading through
    the gap. Same dense per-user 6-hour grid as e04 (sequence
    generator, no shuffle; |users|·|span buckets| rows), one left
    join onto the observed buckets, then ONE ordered window pass with
    ``last(value, ignorenulls=True)`` carries readings forward.

    Determinism: the observed per-bucket statistic is MAX(value) —
    exact and order-independent where a float SUM is not — with NaN
    normalized to NULL first (the w08 null-domain discipline; the
    engines disagree on NaN's sort position). The grid spans each
    user's first to last bucket holding a REAL reading (a bucket of
    only-NaN events cannot anchor the span — it would reintroduce the
    leading-edge NULLs this contract forbids), so every emitted
    ``locf_value`` is a real carried reading; in-span buckets whose
    events are all NaN emit ``observed = 0`` with the carry, and a
    user with no real reading at all is absent. At scale
    this is one keyed exchange for the join plus the same exchange
    reused by the window (both key on user)."""
    bucket_us = 6 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_b",
        F.expr(f"{_floor_div('ts_ns DIV 1000', bucket_us)} * {bucket_us}"),
    )
    obs = ev.groupBy("user_id", F.col("_b").alias("bucket_us")).agg(
        F.max(
            F.when(~F.isnan("value"), F.col("value"))
        ).alias("_mx")
    )
    spans = (
        obs.filter(F.col("_mx").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("bucket_us").alias("_b0"),
            F.max("bucket_us").alias("_b1"),
        )
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_b0"), F.col("_b1"), F.lit(bucket_us))
        ).alias("bucket_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "bucket_us"], "left")
        .select(
            "user_id",
            "bucket_us",
            F.col("_mx").isNotNull().cast("long").alias("observed"),
            F.round(
                F.last("_mx", ignorenulls=True).over(w), 6
            ).alias("locf_value"),
        )
    )


def q_e18_linear_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear-interpolation resampling — the third gap-fill semantics
    (TimescaleDB ``interpolate`` / pandas ``interpolate('linear')``):
    e04 zero-fills count-like series, e17 holds the last reading, and
    a *continuous* sensor series wants the straight line between the
    bracketing real readings. Same dense per-user 6-hour grid and
    real-reading-anchored span as e17, then TWO ordered window passes
    per row: the carried (value, bucket) of the last real reading at
    or before it, and of the first real reading at or after it.

    Determinism: the per-bucket statistic is e17's NaN-normalized
    MAX(value), floored to integer micro-units; the interpolation
    weights are BUCKET-INDEX differences (never raw microsecond
    spans — gap·µs·µvalue products overflow BIGINT), so the weighted
    numerator stays an exact integer ≤ ~2^40 that both engines divide
    and floor identically. Observed buckets bracket themselves
    (prev = next = own bucket), so the gap==0 guard returns their own
    exact value. Scale: one keyed exchange for the grid join, reused
    by both windows (all key on user); grid size is |users|·|span
    buckets|, same as e04/e17."""
    bucket_us = 6 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_b",
        F.expr(f"{_floor_div('ts_ns DIV 1000', bucket_us)} * {bucket_us}"),
    )
    obs = ev.groupBy("user_id", F.col("_b").alias("bucket_us")).agg(
        F.floor(
            F.max(F.when(~F.isnan("value"), F.col("value"))) * 1_000_000
        )
        .cast("long")
        .alias("_v_us")
    )
    spans = (
        obs.filter(F.col("_v_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("bucket_us").alias("_b0"),
            F.max("bucket_us").alias("_b1"),
        )
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_b0"), F.col("_b1"), F.lit(bucket_us))
        ).alias("bucket_us"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("bucket_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    real_bucket = F.when(
        F.col("_v_us").isNotNull(), F.col("bucket_us")
    )
    joined = grid.join(obs, ["user_id", "bucket_us"], "left").select(
        "user_id",
        "bucket_us",
        F.col("_v_us").isNotNull().cast("long").alias("observed"),
        F.last("_v_us", ignorenulls=True).over(w_prev).alias("_pv"),
        F.last(real_bucket, ignorenulls=True).over(w_prev).alias("_pb"),
        F.first("_v_us", ignorenulls=True).over(w_next).alias("_nv"),
        F.first(real_bucket, ignorenulls=True).over(w_next).alias("_nb"),
    )
    gap = (F.col("_nb") - F.col("_pb")) / F.lit(bucket_us)
    di = (F.col("bucket_us") - F.col("_pb")) / F.lit(bucket_us)
    interp = F.when(F.col("_nb") == F.col("_pb"), F.col("_pv")).otherwise(
        F.floor(
            (
                F.col("_pv") * (gap - di) + F.col("_nv") * di
            )
            / gap
        ).cast("long")
    )
    return joined.select(
        "user_id",
        "bucket_us",
        "observed",
        interp.alias("interp_us"),
    )


def _e18_sql() -> str:
    b = 6 * 3600 * 1_000_000
    return f"""
WITH ev AS (
  SELECT user_id,
         ((epoch_us(ts) - ((epoch_us(ts) % {b}) + {b})
           % {b}) // {b}) * {b} AS bb,
         CASE WHEN isnan(value) THEN NULL ELSE value END AS value
  FROM events
),
obs AS (
  SELECT user_id, bb AS bucket_us,
         CAST(floor(max(value) * 1000000) AS BIGINT) AS v_us
  FROM ev GROUP BY 1, 2
),
spans AS (
  SELECT user_id, min(bucket_us) AS b0, max(bucket_us) AS b1
  FROM obs WHERE v_us IS NOT NULL GROUP BY 1
),
grid AS (
  SELECT user_id, CAST(g AS BIGINT) AS bucket_us
  FROM spans, UNNEST(range(b0, b1 + 1, {b})) AS t(g)
),
j AS (
  SELECT g.user_id, g.bucket_us,
         CAST(o.v_us IS NOT NULL AS BIGINT) AS observed,
         last_value(o.v_us IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN o.v_us IS NOT NULL THEN g.bucket_us END
                    IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         first_value(o.v_us IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_us
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN o.v_us IS NOT NULL THEN g.bucket_us END
                     IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_us
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
  FROM grid g LEFT JOIN obs o
    ON g.user_id = o.user_id AND g.bucket_us = o.bucket_us
)
SELECT user_id, bucket_us, observed,
       CASE WHEN nb = pb THEN pv
            ELSE CAST(floor(
              (pv * ((nb - bucket_us) / {b}.0)
               + nv * ((bucket_us - pb) / {b}.0))
              / ((nb - pb) / {b}.0)) AS BIGINT)
       END AS interp_us
FROM j
"""


SQL_E18 = _e18_sql()


SQL_E17 = """
WITH ev AS (
  SELECT user_id,
         ((epoch_us(ts) - ((epoch_us(ts) % 21600000000) + 21600000000)
           % 21600000000) // 21600000000) * 21600000000 AS b,
         CASE WHEN isnan(value) THEN NULL ELSE value END AS value
  FROM events
),
obs AS (
  SELECT user_id, b AS bucket_us, max(value) AS mx FROM ev GROUP BY 1, 2
),
spans AS (
  SELECT user_id, min(bucket_us) AS b0, max(bucket_us) AS b1
  FROM obs WHERE mx IS NOT NULL GROUP BY 1
),
grid AS (
  SELECT user_id, CAST(g AS BIGINT) AS bucket_us
  FROM spans, UNNEST(range(b0, b1 + 1, 21600000000)) AS t(g)
)
SELECT g.user_id, g.bucket_us,
       CAST(o.mx IS NOT NULL AS BIGINT) AS observed,
       round(last_value(o.mx IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS locf_value
FROM grid g LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.bucket_us = o.bucket_us
"""


SQL_E04 = """
WITH ev AS (
  SELECT user_id,
         ((epoch_us(ts) - ((epoch_us(ts) % 21600000000) + 21600000000)
           % 21600000000) // 21600000000) * 21600000000 AS b, value
  FROM events
),
spans AS (
  SELECT user_id, min(b) AS b0, max(b) AS b1 FROM ev GROUP BY 1
),
grid AS (
  SELECT user_id, CAST(g AS BIGINT) AS bucket_us
  FROM spans, UNNEST(range(b0, b1 + 1, 21600000000)) AS t(g)
),
actual AS (
  SELECT user_id, b AS bucket_us, count(*) AS n,
         sum(CAST(value AS DECIMAL(38,10))) AS v
  FROM ev GROUP BY 1, 2
)
SELECT g.user_id, g.bucket_us,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       round(CAST(coalesce(v, CAST(0 AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM grid g LEFT JOIN actual a
  ON g.user_id = a.user_id AND g.bucket_us = a.bucket_us
"""


def q_x05_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) applied as a
    per-row LATERAL join: split each document into '.'-separated
    pieces, one output row per piece with its position and length.
    UDTFs are the row-at-a-time slow path — this registry keeps them
    OFF hot paths (mm01/mm02 use Arrow-batched mapInPandas instead);
    the entry exists to lock down the API surface and its exact
    semantics against the oracle (DuckDB's aligned unnest +
    generate_subscripts)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="piece_idx long, piece string, n_chars long")
    class SplitPieces:
        def eval(self, text: str):
            if text is None:
                return  # NULL → no rows, matching DuckDB's unnest(NULL)
            for i, piece in enumerate(text.split(".")):
                yield i, piece, len(piece)

    spark.udtf.register("split_pieces", SplitPieces)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_x05_docs"
    )
    return spark.sql(
        "SELECT doc_id, s.piece_idx, s.piece, s.n_chars "
        "FROM _x05_docs, LATERAL split_pieces(text) s"
    )


SQL_X05 = """
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, '.'), 1) - 1 AS BIGINT)
         AS piece_idx,
       unnest(string_split(text, '.')) AS piece,
       CAST(length(unnest(string_split(text, '.'))) AS BIGINT) AS n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# headline analytical queries


def q_h01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. Non-integral sums go through
    DECIMAL(38,10) so both engines agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast("double"),
                4,
            ).alias("sum_base_price"),
            F.round(F.sum(disc.cast("decimal(38,10)")).cast("double"), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.sum(charge.cast("decimal(38,10)")).cast("double"), 4).alias(
                "sum_charge"
            ),
            F.round(
                (F.sum("l_quantity") / F.count("*")).cast("double"), 6
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_H01 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10))) AS DOUBLE), 4) AS sum_charge,
       round(CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem GROUP BY 1, 2
"""


def q_h02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"), 4
            ).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_H02 = """
SELECT n.n_name,
       round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# non-SQL-expressible (rows-only driver check)


# ---------------------------------------------------------------------------
# grouping sets / window frames (not in the reference — SURVEY §2.D
# marks them N/A there — but free in Spark, so exposed as first-class
# query surface)


def q_g01_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag → linestatus → grand total): one shuffle,
    Expand feeds all grouping sets through the same hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


SQL_G01 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_g02_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


SQL_G02 = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# One ANSI-dialect string, executed VERBATIM by both engines: Spark
# runs it through spark.sql() over temp views; DuckDB runs it as the
# oracle. Proves the engine exposes a raw-SQL surface, not only the
# DataFrame API.
SQL_SHARED_SQL01 = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_price,
       round(min(o_totalprice), 6) AS min_price,
       round(max(o_totalprice), 6) AS max_price
FROM orders
WHERE o_orderstatus <> 'F' AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o_orderpriority
"""


def q_sql01_shared_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL surface: register the testdata as temp views and run
    the SAME SQL string the DuckDB oracle runs — dialect-portable ANSI
    (no engine-specific functions), byte-identical on both sides."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_SHARED_SQL01)


# Second shared-dialect statement (round 5): windows + join + CTEs in
# ONE portable ANSI text — proves the raw-SQL surface covers analytic
# functions, not just scan-agg. Deterministic ranking: revenue is
# rounded first and ties break on the supplier key (a total order).
SQL_SHARED_SQL02 = """
WITH rev AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
         round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(38,10))) AS DOUBLE), 6) AS revenue
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
rk AS (
  SELECT nation, supp, revenue,
         row_number() OVER (PARTITION BY nation
                            ORDER BY revenue DESC, supp) AS rnk
  FROM rev
)
SELECT nation, supp, revenue, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= 3
"""


def q_sql02_shared_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql01's analytic sibling: the SAME SQL text — CTEs, a join, a
    decimal-cast aggregate, and a window rank — runs verbatim on
    spark.sql() and on DuckDB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(SQL_SHARED_SQL02)


SQL_SHARED_SQL04 = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON TRUE
"""


def q_sql04_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with a per-key LIMIT — the
    top-N-per-entity join users write naturally (each customer's two
    priciest orders; o_orderkey breaks price ties so the result is a
    set, not a race). The SAME text runs verbatim on spark.sql() and
    DuckDB (``ON TRUE`` is the dialect intersection — bare
    ``JOIN LATERAL`` parses only on Spark).

    The 100 TB story is what Catalyst DECORRELATES this into: not a
    per-customer nested loop but one ``WindowGroupLimit`` over orders
    (map-side top-k per key BEFORE the shuffle, so the exchange
    carries ≤ 2 rows per customer) joined back to customer on the
    equi-key — asserted in tests/test_plans.py. A naive executor
    would re-run the subquery |customer| times; the declarative form
    costs one scan of each table."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_SHARED_SQL04)


SQL_SHARED_SQL05 = """
SELECT l_linestatus,
       CAST(A AS BIGINT) AS qty_a,
       CAST(N AS BIGINT) AS qty_n,
       CAST(R AS BIGINT) AS qty_r
FROM (
  SELECT * FROM (
    SELECT l_linestatus, l_returnflag, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
  ) PIVOT (
    sum(qty) FOR l_returnflag IN ('A', 'N', 'R')
  )
)
"""


def q_sql05_shared_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ``PIVOT`` in the shared dialect (VERDICT r12 #7):
    c08 proves pivot SEMANTICS through the DataFrame API against a
    CASE-expression oracle; this proves the SQL-TEXT surface — the
    same ``FROM (...) PIVOT (agg FOR col IN (...))`` statement parses
    and agrees on Spark 4 and DuckDB, extending the sql01/sql02/sql04
    one-text-two-engines contract to pivoting. Dialect-intersection
    notes: the implicit-group-by form only (Spark rejects a GROUP BY
    inside PIVOT; DuckDB defaults to the remaining columns), bare
    single-char IN values so both engines emit identical column
    names, and an OUTER cast of each pivoted column because DuckDB
    widens SUM(BIGINT) to HUGEINT (the e09/t13 lesson) while Spark
    stays BIGINT. Scale shape: Catalyst compiles SQL PIVOT to two
    keyed aggregations — partial_sum on (l_linestatus, l_returnflag)
    then pivotfirst on l_linestatus — BOTH map-side combined, so the
    first exchange carries ≤ |status|·|flag| rows per mapper and the
    second ≤ |status|; plan-asserted in tests/test_plans.py. (c08's
    hand-built conditional-sum pivot does it in one exchange; the
    extra hop is the price of the generic SQL form and is bounded by
    the group-key cardinality, not the data.)"""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(SQL_SHARED_SQL05)


SQL_SHARED_SQL06 = """
SELECT l_linestatus, flag, CAST(qty AS BIGINT) AS qty
FROM (
  SELECT l_linestatus,
         CAST(sum(CASE WHEN l_returnflag = 'A'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS A,
         CAST(sum(CASE WHEN l_returnflag = 'N'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS N,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS R
  FROM lineitem GROUP BY l_linestatus
) UNPIVOT (
  qty FOR flag IN (A, N, R)
)
"""


def q_sql06_shared_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim ``UNPIVOT`` in the shared dialect (VERDICT r13 #5) —
    the reshape twin that closes the pair sql05 opened: c08 proves
    unpivot SEMANTICS through the DataFrame API (stack/explode) and
    sql05 the PIVOT text; this proves the one-text-two-engines
    ``FROM (...) UNPIVOT (val FOR name IN (cols))`` surface parses
    and agrees on Spark 4 and DuckDB. Dialect-intersection notes:
    bare unquoted single-letter measure columns so both engines emit
    the same name strings into ``flag``; the wide source is built
    inline with conditional sums CAST to BIGINT inside (DuckDB
    SUM(BIGINT)→HUGEINT, the e09/t13 lesson) so the unpivoted value
    column is BIGINT on both; default NULL-exclusion semantics agree
    (no NULLs exist here — ELSE 0). Scale shape: Catalyst compiles
    UNPIVOT to Expand over the one map-side-combined aggregate — the
    wide row multiplies by 3 AFTER the groupBy, so the only exchange
    carries ≤ |linestatus| rows per mapper and the expansion is
    output-side, exactly how c08_unpivot's hand-built stack plans."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(SQL_SHARED_SQL06)


SQL_SHARED_SQL07 = """
SELECT o_custkey, 'both' AS side FROM (
  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
)
UNION ALL
SELECT o_custkey, 'even_only' AS side FROM (
  SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
)
"""


def q_sql07_shared_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim multiset set operations in the shared dialect —
    ``INTERSECT ALL`` / ``EXCEPT ALL`` in ONE text both engines run
    (the sql01/sql05/sql06 contract extended to bag semantics; the
    declarative face of the reference's sorted symmetric diff,
    data.clj:17-30): per customer key appearing m times on the even
    side and n times on the every-third side, INTERSECT ALL must
    emit exactly min(m, n) rows and EXCEPT ALL exactly max(m − n, 0)
    — the multiplicity arithmetic is what distinguishes bag ops from the
    semi/anti joins DISTINCT set ops rewrite into, and what this
    entry certifies agrees cross-engine.

    Scale shape: Catalyst's RewriteIntersectAll/RewriteExceptAll
    compile each bag op to per-side counts on ONE keyed exchange
    followed by a generator replicate (sequence+explode of
    min(m,n) / m−n) — never a join that carries duplicate rows
    around, never a sort. The only data-bearing shuffles are the
    key-grain count aggregates."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders"
    )
    return spark.sql(SQL_SHARED_SQL07)


def q_sql03_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (SPARK-51086 family, GA in Spark 4):
    ``CREATE FUNCTION ... RETURNS DOUBLE RETURN <expr>`` — the
    catalog-managed way to share business expressions across queries
    without leaving Catalyst. Two functions, one COMPOSED of the
    other, used in both the WHERE clause and the aggregate; the
    optimizer INLINES them (tests assert the executed plan is plain
    whole-stage-codegen expressions — no UDF boundary, no Python
    worker), so at 100 TB this costs exactly what the hand-inlined
    h01 expression costs. Oracle: the same query with the bodies
    inlined by hand — which is also precisely what certifies the
    inlining semantics."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_sql03_li"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _sql03_disc(p DOUBLE,"
        " d DOUBLE) RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _sql03_charge(p DOUBLE,"
        " d DOUBLE, t DOUBLE) RETURNS DOUBLE"
        " RETURN _sql03_disc(p, d) * (1.0 + t)"
    )
    return spark.sql("""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       round(CAST(SUM(CAST(_sql03_charge(l_extendedprice, l_discount,
                                         l_tax)
                           AS DECIMAL(38,10))) AS DOUBLE), 4)
         AS sum_charge
FROM _sql03_li
WHERE _sql03_disc(l_extendedprice, l_discount) > 1000.0
GROUP BY l_returnflag, l_linestatus
""")


SQL_SQL03 = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       round(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           * (1.0 + l_tax)
                           AS DECIMAL(38,10))) AS DOUBLE), 4)
         AS sum_charge
FROM lineitem
WHERE l_extendedprice * (1.0 - l_discount) > 1000.0
GROUP BY l_returnflag, l_linestatus
"""


def q_g03_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    == DuckDB ``quantile_cont``, both linear interpolation). Exact
    percentile requires a per-group sort — use ``approx_percentile``
    (t-digest, no sort) when 0.1% error is acceptable at scale; that
    variant has no cross-engine oracle, which is exactly why the exact
    one is registered."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
        F.count_distinct("l_suppkey").alias("n_suppliers"),
    )


SQL_G03 = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem GROUP BY 1
"""


def q_g04_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the sublinear-memory path for cardinality
    and quantiles at 100 TB: HyperLogLog approx distinct (fixed ~KB
    state vs a hash set of every key) and t-digest approx percentile
    (no per-group sort). Rows-only: sketch internals are
    engine-specific; the accuracy bounds vs exact are pytest
    (test_sampling.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.round(
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 2
        ).alias("approx_median_price"),
    )


def q_g04b_sketch_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g04's sketch aggregates FORCED into their exact regime so the
    same API surface gets a hash-checked row (VERDICT r6 #8): (a)
    HLL++ over a planted 8-value domain (``l_partkey % 8``) — 8
    values hash to 8 distinct registers of the 4096-register (rsd
    0.02) sketch, and linear counting over fixed register constants
    rounds to exactly 8 on any partitioning of any data that
    contains all residues (the register set depends only on the
    VALUES 0..7, pinned forever); (b) percentile_approx over a
    planted two-value column with a 90/10 split — the rank error
    n/(2·accuracy) ≤ 3 rows at sf0.01 can never cross the ~40%-of-n
    margin between the p50/p95 targets and the value boundary, so
    both quantiles are exact order statistics. g04 proper stays
    rows-only on the real high-cardinality columns (estimates are
    engine-internal); accuracy bounds vs exact remain pytest-pinned
    (test_sampling.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    spiky = F.when(F.col("l_partkey") % 10 == 0, 999).otherwise(1)
    return li.select(
        "l_returnflag",
        (F.col("l_partkey") % 8).alias("_lc"),
        spiky.alias("_sp"),
    ).groupBy("l_returnflag").agg(
        F.approx_count_distinct("_lc", rsd=0.02).alias("acd_lowcard"),
        F.percentile_approx("_sp", F.lit(0.5), F.lit(10000))
        .cast("long")
        .alias("p50_spiky"),
        F.percentile_approx("_sp", F.lit(0.95), F.lit(10000))
        .cast("long")
        .alias("p95_spiky"),
    )


SQL_G04B = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey % 8) AS BIGINT) AS acd_lowcard,
       CAST(quantile_disc(CASE WHEN l_partkey % 10 = 0 THEN 999 ELSE 1 END,
                          0.5) AS BIGINT) AS p50_spiky,
       CAST(quantile_disc(CASE WHEN l_partkey % 10 = 0 THEN 999 ELSE 1 END,
                          0.95) AS BIGINT) AS p95_spiky
FROM lineitem GROUP BY 1
"""


def q_w01_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window: per-customer running order total in date order
    (rows-frame; deterministic tie-break on o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).over(w).cast(
                "double"
            ),
            6,
        ).alias("running_total"),
    )


SQL_W01 = """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 6) AS running_total
FROM orders
"""


def q_w02_rank_dense_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + offset window functions in one pass (single window
    sort per partition): order rank by price per customer, dense rank,
    and previous order's price."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


SQL_W02 = """
SELECT o_custkey, o_orderkey,
       CAST(rank() OVER w AS BIGINT) AS price_rank,
       CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
       lag(o_totalprice) OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_w03_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame (trailing 1 hour per user) —
    complements w01/w02's ROWS frames. The frame bound is on the
    integer-µs event time, so both engines cut it identically;
    RANGE semantics also make ties (equal timestamps) unambiguous —
    all peers join the frame."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count("*").over(w).alias("n_trailing_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double"),
            6,
        ).alias("sum_trailing_1h"),
    )


SQL_W03 = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_trailing_1h,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE), 6)
         AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_w04_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution / navigation window functions in one pass:
    quartile bucket (ntile), percent_rank, cume_dist, and the
    segment's richest customer (first_value) per market segment.
    Total order inside the window (acctbal desc, custkey asc) makes
    every function deterministic under ties."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first_value(F.col("c_name")).over(w).alias("segment_top_customer"),
    )


SQL_W04 = """
SELECT c_mktsegment, c_custkey,
       CAST(ntile(4) OVER w AS BIGINT) AS balance_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(c_name) OVER w AS segment_top_customer
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_g05_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — finer than g01 rollup / g02 cube: only
    the (returnflag, linestatus), (returnflag), and () sets, skipping
    the (linestatus) slice a cube would also compute. grouping_id
    disambiguates real NULL keys from subtotal rows (both engines use
    the same bit encoding: one bit per column, left = MSB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast(
                    "double"
                ),
                6,
            ).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty")
    )


SQL_G05 = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_items,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# g06 equi-width histogram: fixed literal domain so both engines bucket
# identically with no data-dependent bounds pass. o_totalprice at every
# SF lies in (0, 600k); out-of-domain values clamp to the edge buckets.
HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 600_000.0, 24


def q_g06_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the profiling primitive
    behind every data-quality dashboard. One narrow bucket expression
    + one groupBy: the histogram of 100 TB costs a single
    partial/final count aggregation over ≤ HIST_BUCKETS keys.
    ``width_bucket`` semantics (1-based, clamped) built from floor
    arithmetic shared verbatim by both engines — no data-dependent
    min/max pass, so the plan has no scalar-subquery barrier."""
    orders = load_table(spark, sf_dir, "orders")
    w = (HIST_HI - HIST_LO) / HIST_BUCKETS
    bucket = F.least(
        F.lit(HIST_BUCKETS),
        F.greatest(
            F.lit(1),
            (F.floor((F.col("o_totalprice") - HIST_LO) / w) + 1).cast("int"),
        ),
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                    "double"
                ),
                6,
            ).alias("total_price"),
        )
        .withColumn("lo", (HIST_LO + (F.col("bucket") - 1) * w).cast("double"))
        .withColumn("hi", (HIST_LO + F.col("bucket") * w).cast("double"))
    )


SQL_G06 = f"""
WITH b AS (
  SELECT least({HIST_BUCKETS}, greatest(1,
           CAST(floor((o_totalprice - {HIST_LO})
                      / {(HIST_HI - HIST_LO) / HIST_BUCKETS}) + 1 AS INT)
         )) AS bucket,
         o_totalprice
  FROM orders
)
SELECT bucket, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_price,
       CAST({HIST_LO} + (bucket - 1) * {(HIST_HI - HIST_LO) / HIST_BUCKETS}
            AS DOUBLE) AS lo,
       CAST({HIST_LO} + bucket * {(HIST_HI - HIST_LO) / HIST_BUCKETS}
            AS DOUBLE) AS hi
FROM b GROUP BY bucket
"""


def q_w05_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ``F.window`` tumbling aggregation (the same operator the
    streaming surface uses in st01, here on a static frame): 1-hour
    buckets per event type with the window bounds surfaced as
    integer-µs columns for exact oracle parity."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"),
                6,
            ).alias("total_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            F.unix_micros("w.end").alias("win_end_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# floor-div emulation ((x - nonneg_mod) // d): F.window assigns
# floor-based windows; DuckDB's // truncates toward zero (see
# _floor_div_duck) — without it pre-1970 events land in windows that
# do not contain them
SQL_W05 = """
SELECT ((epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000)
         % 3600000000) // 3600000000) * 3600000000 AS win_start_us,
       ((epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000)
         % 3600000000) // 3600000000) * 3600000000 + 3600000000
         AS win_end_us,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM events GROUP BY 1, 2, 3
"""


def q_w06_hopping_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch hopping (sliding) ``F.window``: 1-hour windows sliding
    every 30 minutes, per event type — each event lands in exactly
    window/slide = 2 overlapping windows. Same operator the streaming
    surface uses in st07; bounds surfaced as integer-µs columns for
    exact oracle parity (the oracle enumerates the k = 0..n−1 window
    starts per event arithmetically)."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"),
                6,
            ).alias("total_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            F.unix_micros("w.end").alias("win_end_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# every event belongs to exactly n = window/slide hopping windows with
# starts floor(ts/slide)*slide − k*slide, k = 0..n−1 (for k ≤ n−1:
# start + window > ts always holds since window − k·slide ≥ slide >
# ts mod slide) — so a bare cross join against k, no containment filter
SQL_W06 = """
SELECT (((epoch_us(ts) - ((epoch_us(ts) % 1800000000) + 1800000000)
          % 1800000000) // 1800000000) - g.k) * 1800000000 AS win_start_us,
       (((epoch_us(ts) - ((epoch_us(ts) % 1800000000) + 1800000000)
          % 1800000000) // 1800000000) - g.k) * 1800000000 + 3600000000
         AS win_end_us,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM events CROSS JOIN generate_series(0, 1) g(k)
GROUP BY 1, 2, 3
"""


def q_h03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by revenue for one market
    segment before a date. Plan: broadcast the filtered customer dim,
    shuffle lineitem once on orderkey, top-k via sort+limit (Spark
    plans TakeOrderedAndProject — no full sort)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_H03 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
             AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_h04_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a
    nation, per nation-of-a-region. Two broadcast dims (nation ⋈
    region, supplier), one orders⋈customer broadcast chain, a single
    big shuffle on orderkey."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_r = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n_r), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue")
        )
    )


SQL_H04 = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
             AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name IN ('ASIA', 'EUROPE')
GROUP BY 1
"""


def q_h05_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_H05 = """
SELECT c_custkey, c_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
             AS DOUBLE), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_h06_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship month. One
    broadcast join (part is the small dim), decimal-exact conditional
    sums, ratio taken in double only at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(38,10)")
                )
            ).alias("_p"),
            F.sum(rev).alias("_t"),
        )
        .select(
            "ship_month",
            F.round(
                F.lit(100.0)
                * F.col("_p").cast("double")
                / F.col("_t").cast("double"),
                6,
            ).alias("promo_pct"),
        )
    )


SQL_H06 = """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))
               ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,10))) AS DOUBLE), 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_h07_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts by priority for one quarter where
    at least one lineitem shipped after the order date. The EXISTS
    subquery is a left-semi join with a non-equi conjunct — the
    orderkey equi-key still drives the shuffle, the date comparison
    rides along as a join residual (no extra pass)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


SQL_H07 = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY 1
"""


def q_h08_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    ship year — the (supplier nation, customer nation) pair comes from
    two independent dimension chains hanging off the same fact row.
    Both nation-resolving chains broadcast; the only big shuffle is
    lineitem⋈orders on orderkey."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s_n = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c_n = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(s_n), li.l_suppkey == s_n.s_suppkey)
        .join(F.broadcast(c_n), orders.o_custkey == c_n.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue")
        )
    )


SQL_H08 = """
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(vol) AS DOUBLE), 6) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)) AS vol
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
)
GROUP BY 1, 2, 3
"""


def q_h09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for one
    part family. The testdata has no partsupp table, so supply cost is
    modeled as 10% of the part's retail price per unit — the operator
    shape (two broadcast dims + orders join + two-key agg over an
    arithmetic measure) is what's under test."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s_n = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(38,10)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(s_n), li.l_suppkey == s_n.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 6).alias("profit"))
    )


SQL_H09 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           - 0.1 * p_retailprice * l_quantity
                           AS DECIMAL(38,10))) AS DOUBLE), 6) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE contains(p_name, 'red')
GROUP BY 1, 2
"""


def q_h10_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority order counts per
    lineitem category for a one-year ship window (the testdata has no
    l_shipmode, so l_linestatus plays the category). Conditional
    CASE-sums ride the single orderkey shuffle."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("category"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority"),
        )
    )


SQL_H10 = """
SELECT l_linestatus AS category,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_h11_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer, keeping
    zero-order customers via a LEFT OUTER join (the filter on the
    order side must stay inside the join, not above it, or the zeros
    vanish). Two-level aggregation: per-customer count, then histogram
    over the counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


SQL_H11 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY 1
)
GROUP BY 1
"""


def q_h12_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    conjunctions. The disjunction references both sides of the
    part⋈lineitem join, so it can only be applied as a join residual —
    the per-side prefilters (brand set, quantity envelope) are what
    Catalyst can and must push to the scans."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    disj = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 20))
        | ((b == "Brand#2") & s.between(11, 30) & q.between(10, 30))
        | ((b == "Brand#3") & s.between(20, 50) & q.between(20, 40))
    )
    return joined.filter(disj).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,10)"
                )
            ).cast("double"),
            6,
        ).alias("revenue")
    )


SQL_H12 = """
SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS DOUBLE), 6) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q_h13_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold, with customer context. The qualifying-key set is an
    AGGREGATE-derived semi join — the HAVING aggregate runs first,
    then the big tables join only against the (small) qualifying keys.
    Top-k planned as TakeOrdered, not a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("_q"))
        .filter(F.col("_q") > 220)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(38,10)")).cast(
                    "double"
                ),
                6,
            ).alias("total_qty")
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


SQL_H13 = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(38,10))) > 220
)
GROUP BY 1, 2, 3, 4
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_h14_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no URGENT orders — a scalar aggregate subquery (broadcast as a
    plan literal via crossJoin of a 1-row aggregate) feeding a filter,
    then an anti join against the filtered fact table. (Plain "no
    orders at all" would be vacuous on the synthetic data — every
    customer orders — so the anti-join side is the urgent slice.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    # threshold as (exact decimal sum, count) instead of a double avg:
    # a distributed double avg is partition-order-dependent, and a
    # customer whose balance lands within an ulp of it would flap the
    # filter between engines/runs. Cross-multiplying against the exact
    # sum keeps the comparison bit-deterministic (decimal * long is
    # exact; both engines evaluate identically).
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(38,10)")).alias("_tot"),
        F.count("*").alias("_n"),
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(
            F.col("c_acctbal").cast("decimal(38,10)") * F.col("_n")
            > F.col("_tot")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast(
                    "double"
                ),
                6,
            ).alias("total_balance"),
        )
    )


SQL_H14 = """
SELECT c_mktsegment, count(*) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_balance
FROM customer
WHERE CAST(c_acctbal AS DECIMAL(38,10))
        * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(38,10)))
         FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q_h15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue per supplier over a quarter, keep the
    supplier(s) matching the GLOBAL max — an argmax via scalar
    aggregate subquery. The 1-row max is crossJoined in (broadcast
    literal), so the big aggregation runs once; no self-join of the
    revenue view."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_H15 = """
WITH rev AS (
  SELECT l_suppkey,
         round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,10))) AS DOUBLE), 6)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_h16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp stands in as the DISTINCT
    supplier-part pairs observed in lineitem): distinct-supplier
    counts per (brand, type, size) excluding one brand and a
    NOT-IN supplier set (negative balance). The exclusion list is a
    broadcast anti join; the distinct-pairs dedup happens BEFORE the
    dimension join so the join input is minimal."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(
            F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .filter(F.col("p_brand") != "Brand#45")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_H16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_h17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of their part's average — a correlated scalar subquery,
    decorrelated into a per-part aggregate + join (what every modern
    planner does). The per-part threshold side is orders of magnitude
    smaller than the fact table, so it broadcasts.

    Parity: l_quantity is integral, so avg = exact_sum/count is one
    IEEE division — bit-identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    thresh = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("_t")
    )
    return (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .join(F.broadcast(thresh), li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_t"))
        .agg(
            F.round(
                (
                    F.sum(F.col("l_extendedprice").cast("decimal(38,10)")).cast(
                        "double"
                    )
                    / 7.0
                ),
                6,
            ).alias("avg_yearly")
        )
    )


SQL_H17 = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def q_h18_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem value stands in for partsupp stock
    value): per-part traded value, HAVING value > fraction x the
    GLOBAL total — a scalar aggregate subquery against the same
    aggregate. Computed as one grouped agg + a 1-row crossJoin; the
    global total is decimal-exact so the threshold comparison cannot
    flap."""
    li = load_table(spark, sf_dir, "lineitem")
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("_v"))
    # threshold = 1.2x the mean per-part value — scale-stable (the
    # TPC-H 0.0001/SF trick without needing to know SF): per-part sums
    # concentrate toward the mean as SF grows, so a fixed multiple of
    # the mean keeps a roughly constant row share (~16% at 1.2x)
    thresh = per_part.agg(
        (F.sum("_v").cast("double") / F.count("*") * 1.2).alias("_thresh")
    )
    return (
        per_part.crossJoin(F.broadcast(thresh))
        .filter(F.col("_v").cast("double") > F.col("_thresh"))
        .select(
            "l_partkey",
            F.round(F.col("_v").cast("double"), 6).alias("part_value"),
        )
    )


SQL_H18 = """
WITH pv AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS _v
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, round(CAST(_v AS DOUBLE), 6) AS part_value
FROM pv
WHERE CAST(_v AS DOUBLE) > (SELECT CAST(sum(_v) AS DOUBLE) / count(*) * 1.2
                            FROM pv)
"""


def q_h19_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (observed min line price stands in for partsupp
    supplycost): for each mid-size part in one region, the supplier
    offering it cheapest — correlated-min decorrelated into a window
    argmin (rank over (cost, suppkey) per part), then the
    supplier→nation→region dimension chain joined broadcast-side.
    Ties broken by suppkey so the result is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
    )
    cost = (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name", "s_acctbal")
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("min_price"), F.asc("l_suppkey")
    )
    best = (
        cost.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .filter((F.col("p_size") >= 20) & (F.col("p_size") <= 25))
        .select(
            "p_partkey", "p_brand", "s_name", "n_name", "s_acctbal",
            F.round(F.col("min_price"), 6).alias("min_price"),
        )
    )


SQL_H19 = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, s_name, n_name, s_acctbal,
         min(l_extendedprice) AS min_price
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5
), best AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY min_price ASC, l_suppkey ASC) AS _rk
  FROM cost
)
SELECT p_partkey, p_brand, s_name, n_name, s_acctbal,
       round(min_price, 6) AS min_price
FROM best JOIN part ON l_partkey = p_partkey
WHERE _rk = 1 AND p_size BETWEEN 20 AND 25
"""


def q_h21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag stands in for late receipt):
    multi-supplier orders where EXACTLY ONE supplier produced returned
    lines — the EXISTS / NOT-EXISTS pair collapsed into one grouped
    pass over (order, supplier) flags, then a semi join back to name
    the culprit. Entirely integer logic → exact parity."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("_ret")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_sup"), F.sum("_ret").alias("_n_ret")
    )
    culprit = (
        per_os.filter(F.col("_ret") == 1)
        .join(
            per_o.filter((F.col("_n_sup") >= 2) & (F.col("_n_ret") == 1)),
            "l_orderkey",
            "left_semi",
        )
    )
    return (
        culprit.join(F.broadcast(sup), culprit.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_H21 = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS _ret
  FROM lineitem GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, count(*) AS _n_sup, sum(_ret) AS _n_ret
  FROM per_os GROUP BY 1
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM per_os
JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE per_os._ret = 1 AND per_o._n_sup >= 2 AND per_o._n_ret = 1
GROUP BY 1, 2
"""


def q_h20_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single aggregate — the query
    whose whole cost is the scan. Every predicate (date range,
    discount band, quantity cap) must reach the parquet reader as a
    pushed filter; tests/test_plans.py asserts PushedFilters for this
    family."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("forecast_revenue")
        )
    )


SQL_H20 = """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,10)))
             AS DOUBLE), 6) AS forecast_revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_h22_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of yearly revenue within a
    region — conditional-sum over a two-dimension-chain join
    (supplier→nation→region on one side, order year on the other).
    The share is a CASE-sum / sum ratio per group; both sums are
    decimal-exact so the ratio is one deterministic division."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "n_name")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    target = F.when(F.col("n_name") == "NATION_8", rev).otherwise(
        F.lit(0).cast("decimal(38,10)")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                (F.sum(target).cast("double") / F.sum(rev).cast("double")),
                6,
            ).alias("mkt_share")
        )
    )


SQL_H22 = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CASE WHEN n_name = 'NATION_8'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(38,10))
                      ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,10))) AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON l_orderkey = o_orderkey
WHERE r_name = 'EUROPE'
GROUP BY 1
"""


def q_j01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event matched with
    the user's latest purchase at-or-before it. Oracle: DuckDB's
    NATIVE ASOF LEFT JOIN — two independent implementations of the
    semantics hash-compared. Integer-µs timestamps for parity."""
    from alternating_least_squares_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    # one purchase per (user, microsecond) on BOTH engines: ties in
    # the right table would otherwise make the as-of winner engine-
    # dependent (DuckDB's ASOF picks an arbitrary tied row; the Spark
    # operator picks the greatest payload). max(value) pins the same
    # representative everywhere.
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(clicks, purchases, key="user_id", ts="ts_us")


SQL_J01 = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts_us,
       p.value AS value_asof, p.ts_us AS ts_us_asof
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""


def q_j02_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/rangejoin.py): click events within
    ±15 min of a same-user purchase. Bin width = the window radius, so
    each interval explodes to ≤ 3 bins and the join is a bounded-fan
    equi-join — never a nested-loop theta join. Oracle: DuckDB BETWEEN
    join."""
    from alternating_least_squares_spark.operators.rangejoin import range_join

    radius_us = 15 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts_us") - radius_us).alias("w_start"),
        (F.col("ts_us") + radius_us).alias("w_end"),
        F.col("ts_us").alias("p_ts_us"),
    )
    return range_join(
        clicks, purchases, key="user_id", ts="ts_us",
        start="w_start", end="w_end", bin_width=radius_us,
    ).select("event_id", "user_id", "ts_us", "p_ts_us")


SQL_J02 = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, epoch_us(ts) AS p_ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts_us, p.p_ts_us
FROM c JOIN p ON c.user_id = p.user_id
 AND c.ts_us BETWEEN p.p_ts_us - 900000000 AND p.p_ts_us + 900000000
"""


def q_j03_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join
    (operators/rangejoin.interval_overlap_join): every (click,
    purchase) pair whose 10-minute activity windows overlap — the
    join shape with NO native Spark operator (a raw inequality join
    plans nested-loop). Binned equi-join with the canonical-bin trick:
    each overlapping pair survives in exactly ONE bin (the one holding
    the overlap's first instant), so no pair-dedup shuffle. Bin width
    = window length ⇒ each interval covers ≤ 2 bins. Oracle: DuckDB
    plain inequality join — quadratic there, which is exactly the
    point of the binned formulation here."""
    from alternating_least_squares_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    win_ns = 600 * 1_000_000_000  # 10 minutes
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"),
        F.col("ts_ns").alias("a_start"),
        (F.col("ts_ns") + win_ns).alias("a_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_id"),
        F.col("ts_ns").alias("b_start"),
        (F.col("ts_ns") + win_ns).alias("b_end"),
    )
    pairs = interval_overlap_join(
        clicks, purchases, "a_start", "a_end", "b_start", "b_end",
        bin_width=win_ns,
    )
    return pairs.select("a_id", "b_id")


SQL_J03 = """
WITH a AS (
  SELECT event_id AS a_id, epoch_ns(ts) AS s, epoch_ns(ts) + 600000000000 AS e
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT event_id AS b_id, epoch_ns(ts) AS s, epoch_ns(ts) + 600000000000 AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT a.a_id, b.b_id
FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
"""


# ---------------------------------------------------------------------------
# TF-IDF (documents)


def q_t06_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Fully distributed: explode →
    two keyed aggregations (term counts per doc; doc frequency per
    term) → broadcast-joined idf → window top-k. The corpus size N is
    one scalar driver-side count (not a global window, which would
    single-partition the whole table at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df = #docs containing the term = #rows of tf per term. Deriving
    # it from tf (instead of a second count_distinct over `terms`)
    # tokenizes the corpus once, not twice, and the second shuffle
    # moves the already-reduced (doc, term) pairs — Catalyst reuses
    # tf's exchange for both join sides (ReusedExchange in the plan).
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf")
            * F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df"))),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


SQL_T06 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     terms AS (SELECT doc_id, unnest(toks) AS term FROM tk),
     tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
     dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
     n AS (SELECT count(*) AS n_docs FROM documents),
     scored AS (
       SELECT tf.doc_id, tf.term, tf.tf,
              round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + dft.df)), 6) AS tfidf
       FROM tf JOIN dft USING (term) CROSS JOIN n
     )
SELECT doc_id, term, tf, tfidf, rnk FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
  ) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


def q_q01_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (functions/quality.py): row
    predicates + uniqueness evaluated in ONE aggregation pass over
    orders. Oracle: the same conditional counts in SQL."""
    from alternating_least_squares_spark.functions import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    return Q.check(
        orders,
        [
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", 0.0, 1e7),
            Q.matches("o_orderpriority", r"^[1-5]-"),
        ],
        unique_keys=["o_orderkey"],
    )


SQL_Q01 = """
WITH agg AS (
  SELECT
    count(*) FILTER (WHERE o_custkey IS NULL) AS c1,
    count(*) FILTER (WHERE NOT (o_totalprice IS NOT NULL
                                AND o_totalprice >= 0.0
                                AND o_totalprice <= 1e7)) AS c2,
    count(*) FILTER (WHERE NOT (o_orderpriority IS NOT NULL
                                AND regexp_matches(o_orderpriority, '^[1-5]-'))) AS c3,
    -- struct-count semantics: NULL keys participate (a table of
    -- duplicate NULL keys must fail); DuckDB's count(col)/count(DISTINCT
    -- col) both skip NULLs, so add the NULL-group surplus explicitly
    count(*) - count(DISTINCT o_orderkey)
      - (CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END) AS c4
  FROM orders
)
SELECT 'not_null(o_custkey)' AS constraint, CAST(c1 AS BIGINT) AS n_violations, c1 = 0 AS passed FROM agg
UNION ALL
SELECT 'in_range(o_totalprice,0.0,10000000.0)', CAST(c2 AS BIGINT), c2 = 0 FROM agg
UNION ALL
SELECT 'matches(o_orderpriority,^[1-5]-)', CAST(c3 AS BIGINT), c3 = 0 FROM agg
UNION ALL
SELECT 'unique(o_orderkey)', CAST(c4 AS BIGINT), c4 = 0 FROM agg
"""


def q_x04_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via an Arrow-batched pandas GROUPED_AGG UDF:
    per-returnflag geometric mean of extended price. Completes the
    Pandas-API shape matrix (mapInPandas → mm01, grouped
    applyInPandas → x01, applyInPandasWithState → st03, grouped-agg
    UDAF → here). Oracle: exp(avg(ln(x))) — the same math in closed
    form, so the UDAF's Python arithmetic is hash-verified."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(prices: pd.Series) -> float:
        return float(np.exp(np.log(prices.to_numpy()).mean()))

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 4).alias("geomean_price")
    )


SQL_X04 = """
SELECT l_returnflag,
       round(exp(avg(ln(l_extendedprice))), 4) AS geomean_price
FROM lineitem GROUP BY 1
"""


def q_x02_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment — the
    reproducible-split primitive every training pipeline needs (random
    splits change across runs/engines; content-hash splits never do).
    Bucket = first 4 hex digits of md5(doc_id) mod 10 → 8/1/1 split.
    Engine-independent (md5 + integer arithmetic), hence fully
    oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hex4(F.col("doc_id")) % 10
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 8, F.lit("train"))
        .when(bucket < 9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


SQL_X02 = f"""
WITH b AS (
  SELECT doc_id,
         {_hex4_sql()}
         AS hex4
  FROM documents
)
SELECT doc_id, hex4 % 10 AS bucket,
       CASE WHEN hex4 % 10 < 8 THEN 'train'
            WHEN hex4 % 10 < 9 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_x03_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling via content hash: downsample the dominant
    language stratum (en → 50%) while keeping the tails — the
    class-rebalancing / domain-mix primitive.

    Uses md5(doc_id) rather than a seeded RNG so the sample is
    REPRODUCIBLE across runs, engines, and cluster sizes (a seeded
    Bernoulli sampler is engine-specific and changes under
    repartitioning at 100 TB; a content hash never does) — which also
    makes it fully oracle-checkable.  The engine-native ``sampleBy``
    path is exercised in tests/test_sampling.py."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL-lang rows are explicitly "not the en stratum" on BOTH
    # engines: when(lang == 'en', ...) evaluates a NULL lang to NULL ->
    # otherwise-kept on Spark, while SQL's lang <> 'en' is NULL -> row
    # dropped unless the hash half saves it. Spell the three-way out.
    keep = (
        F.col("lang").isNull()
        | (F.col("lang") != "en")
        | (_hex4(F.col("doc_id")) < 32768)
    )
    return docs.filter(keep).select("doc_id", "lang")


SQL_X03 = f"""
WITH b AS (
  SELECT doc_id, lang,
         {_hex4_sql()}
         AS hex4
  FROM documents
)
SELECT doc_id, lang FROM b
WHERE lang IS NULL OR lang <> 'en' OR hex4 < 32768
"""


def q_x15_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (α = 0.5, the multilingual /
    multi-domain training-mix staple): per-source keep rate
    (N_min/N_s)^(1-α) = √(N_min/N_s), so the smallest source survives
    whole and larger sources downsample toward equal representation —
    the knob between proportional (α=1, x06's cap is its hard-limit
    cousin) and uniform (α=0). Keep decisions are md5-hash
    thresholded (the x02/x03 discipline): reproducible across runs,
    engines, partitionings — and therefore oracle-checkable row by
    row, not just in expectation. The per-source thresholds are
    integers both engines derive from the same counts with one sqrt
    each, so no float-boundary drift.

    The testdata's sources are perfectly uniform (every N_s equal →
    every threshold 65536 → the filter never fires), so the entry
    derives a deterministically SKEWED domain instead:
    bucket = floor(√(doc_id mod 100)) gives 10 domains with sizes
    5:15:25:…:95 per 500 docs at any sf — the smallest survives
    whole, the largest keeps ≈ √(5/95) ≈ 23%, and the hash-selected
    row set is fully evidential (same construction in the oracle)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("b"),
            F.floor(F.sqrt((F.col("doc_id") % 100).cast("double")))
            .cast("int")
            .cast("string"),
        ).alias("source"),
    )
    cnt = docs.groupBy("source").agg(F.count("*").alias("n"))
    nmin = cnt.agg(F.min("n").alias("nmin"))
    rates = cnt.crossJoin(F.broadcast(nmin)).select(
        "source",
        F.floor(
            F.sqrt(F.col("nmin").cast("double") / F.col("n").cast("double"))
            * 65536
        )
        .cast("long")
        .alias("thr"),
    )
    return docs.join(F.broadcast(rates), "source").filter(
        _hex4(F.col("doc_id")) < F.col("thr")
    ).select("doc_id", "source")


SQL_X15 = f"""
WITH d AS (
  SELECT doc_id,
         'b' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE)))
                          AS INTEGER) AS VARCHAR) AS source
  FROM documents
),
c AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
m AS (SELECT min(n) AS nmin FROM c),
r AS (
  SELECT source,
         CAST(floor(sqrt(CAST(m.nmin AS DOUBLE) / CAST(c.n AS DOUBLE))
                    * 65536) AS BIGINT) AS thr
  FROM c CROSS JOIN m
),
b AS (
  SELECT doc_id, source,
         {_hex4_sql()}
         AS hex4
  FROM d
)
SELECT b.doc_id, b.source
FROM b JOIN r ON r.source = b.source
WHERE b.hex4 < r.thr
"""


def q_p01_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data flagship plan (plans/corpus_curation.py): exact
    dedup → quality floor → language filter → contamination screen →
    per-doc accounting, as one Catalyst plan over a single documents
    scan. The oracle replays the whole chain in SQL."""
    from alternating_least_squares_spark.plans.corpus_curation import curate

    return curate(spark, sf_dir)


def q_p02_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from alternating_least_squares_spark.plans.corpus_curation import (
        corpus_stats,
        curate,
    )

    return corpus_stats(curate(spark, sf_dir))


def _curation_sql() -> str:
    en = _marker_sql(TX.LANG_MARKERS["en"])
    de = _marker_sql(TX.LANG_MARKERS["de"])
    es = _marker_sql(TX.LANG_MARKERS["es"])
    fr = _marker_sql(TX.LANG_MARKERS["fr"])
    return f"""
WITH surv AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(coalesce(text, ''))
),
d AS (
  SELECT doc_id, text, source FROM documents
  WHERE doc_id IN (SELECT doc_id FROM surv)
),
tk AS (SELECT doc_id, source, text, {_toks_sql()} AS toks FROM d),
q AS (
  SELECT doc_id, source, text, CAST(len(toks) AS BIGINT) AS n_tokens,
         round(greatest(0.0,
           least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.5
           + (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                         / len(toks) END) <= 0 THEN 0.0
              ELSE least((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                         / len(toks) END) / 5.0, 1.0) END) * 0.5
           - (CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
              / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 2.0
         ), 6) AS quality
  FROM tk
),
lng AS (
  SELECT doc_id, {en} AS en_s, {de} AS de_s, {es} AS es_s, {fr} AS fr_s
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM d)
),
kept AS (
  SELECT q.doc_id, q.source, q.n_tokens, q.quality
  FROM q JOIN lng USING (doc_id)
  WHERE q.quality >= 0.3
    AND lng.en_s > lng.de_s AND lng.en_s > lng.es_s AND lng.en_s > lng.fr_s
    AND NOT contains(lower(q.text), 'spark sql benchmark')
)
"""


SQL_P01 = _curation_sql() + """
SELECT doc_id, source, n_tokens, quality FROM kept
"""

SQL_P02 = _curation_sql() + """
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(CAST(quality AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)
         AS avg_quality
FROM kept GROUP BY 1
"""


def q_x01_grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInPandas`` custom operator: per-returnflag robust
    price statistics (median, MAD, 3-MAD outlier count) computed in
    pandas per group — the escape hatch for per-group logic built-in
    aggregates can't express. Arrow-batched; one shuffle on the key.

    Oracle: DuckDB's native median()/mad() (pandas and DuckDB share
    the linear-interpolation median), so the Python-side math is
    hash-verified — the same proof pattern as mm01 for mapInPandas."""

    def per_group(pdf):
        import pandas as pd

        med = float(pdf["l_extendedprice"].median())
        mad = float((pdf["l_extendedprice"] - med).abs().median())
        n_out = int(((pdf["l_extendedprice"] - med).abs() > 3 * mad).sum())
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "median_price": [round(med, 6)],
                "mad_price": [round(mad, 6)],
                "n_outliers": [n_out],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        per_group,
        "l_returnflag string, median_price double, mad_price double, n_outliers long",
    )


SQL_X01 = """
WITH stats AS (
  SELECT l_returnflag,
         median(l_extendedprice) AS med,
         mad(l_extendedprice) AS md
  FROM lineitem GROUP BY 1
)
SELECT s.l_returnflag,
       round(s.med, 6) AS median_price,
       round(s.md, 6) AS mad_price,
       count(*) FILTER (WHERE abs(l.l_extendedprice - s.med) > 3 * s.md)
         AS n_outliers
FROM lineitem l JOIN stats s USING (l_returnflag)
GROUP BY 1, 2, 3
"""


def q_t07_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 word bigrams by document frequency —
    the building block of n-gram LM filtering / vocab construction.
    One explode + two aggregations; top-k planned as
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("bigram"))
        .limit(50)
    )


SQL_T07 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     sh AS (
       SELECT doc_id,
              CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                   ELSE list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
              END AS grams
       FROM tk
     ),
     b AS (SELECT doc_id, unnest(grams) AS bigram FROM sh)
SELECT bigram, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM b GROUP BY 1
ORDER BY n_docs DESC, n_occurrences DESC, bigram ASC
LIMIT 50
"""


def q_t08_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination screen: which documents contain any of a
    set of probe strings. Probes broadcast (tiny dim), docs stream
    through a single contains scan — the standard decontamination
    pass before training-data release."""
    probes = spark.createDataFrame(
        [("join order",), ("hash table",), ("spark sql",)], "probe string"
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.crossJoin(F.broadcast(probes))
        .filter(F.contains(F.lower("text"), F.col("probe")))
        .select("doc_id", "probe")
    )


SQL_T08 = """
WITH probes(probe) AS (VALUES ('join order'), ('hash table'), ('spark sql'))
SELECT doc_id, probe
FROM documents CROSS JOIN probes
WHERE contains(lower(text), probe)
"""


# exactly 8 whitespace tokens — one full k=8 gram, so a clean planted
# doc matches on exactly this one window
T24_PROBE = (
    "decontamination probe span alpha beta gamma delta epsilon"
)
T24_K = 8


def q_t24_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram eval-set decontamination — the GPT-3/PaLM method t08's
    substring probes don't implement: a training document is
    contaminated if it shares ANY k-token gram (k=8 here; 13 in the
    GPT-3 appendix) with the held-out eval set, catching paraphrased
    splices and mid-document leaks that exact/near dedup miss because
    whole-document similarity stays low. Output: each contaminated
    corpus doc with its distinct shared-gram count (the removal pass
    keys on these ids).

    Fixture: the eval set is the doc_id % 97 slice plus one synthetic
    eval doc holding a fixed 8-token probe, and the corpus gains
    doc_id % 10 == 7 variants (+30M ids, the d11 offset convention)
    with the probe appended; planted variants of eval-slice docs leak
    the WHOLE eval text, so hit counts span 1..full-doc. The corpus
    ALSO carries organic contamination — it has exact-duplicate texts
    (the t05 fixture), so a corpus duplicate of an eval-slice doc
    flags with its full gram count, which is precisely the leak the
    method exists to catch. All exact string equality — deterministic
    at any parallelism.

    Scale shape: eval grams are tiny relative to any corpus (eval
    sets are thousands of docs) — distinct once, broadcast; the
    corpus explodes its grams ONCE and the membership check is one
    broadcast semi-ish join + keyed count, linear in corpus tokens.
    At web scale the gram join key should ride the t21 128-bit hash
    pair instead of gram text; text keys keep this entry
    oracle-exact."""
    ev, corpus = _t24_fixture(spark, sf_dir)
    ev_grams = _t24_gram_rows(ev).select("gram").distinct()
    corpus_grams = _t24_gram_rows(corpus)
    return (
        corpus_grams.join(F.broadcast(ev_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def _t24_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared t24/t25 contamination fixture: (eval set, corpus)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    probe_row = spark.createDataFrame(
        [(-1, T24_PROBE)], "doc_id long, text string"
    )
    ev = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", "text")
        .unionByName(probe_row)
    )
    planted = docs.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.lit(T24_PROBE)).alias(
            "text"
        ),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return ev, corpus


def q_t25_hashed_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t24's web-scale key variant, made executable (VERDICT r11 #5 —
    the t24 docstring promised it): the decontamination join keys on
    the t21 128-bit hash PAIR (two salted xxhash64s of the gram)
    instead of gram text, and the hashing happens BEFORE the dedup
    shuffle, so every exchanged row is 24 bytes regardless of window
    width. Same fixture, same output contract as t24; its oracle IS
    t24's text-key SQL, so the driver hash certifies the hash-key
    path equal to the text-key path (plus an equality pytest on the
    DataFrames). A 128-bit pair makes a colliding gram pair
    astronomically unlikely (~10^-20 at 10^9 distinct grams); a
    collision would overcount n_shared by one — the accepted trade
    the GPT-3 appendix makes at k=13."""
    ev, corpus = _t24_fixture(spark, sf_dir)
    ev_keys = _t24_gram_hashes(ev).select("h1", "h2").distinct()
    corpus_keys = _t24_gram_hashes(corpus)
    return (
        corpus_keys.join(F.broadcast(ev_keys), ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def _t24_gram_stream(df: DataFrame) -> DataFrame:
    """Raw (doc_id, gram) rows for t24/t25, k=8, NOT deduplicated,
    assembled by COMPILED lead() windows over one posexplode (46 s
    at sf0.1 for ``shingles()`` vs ~3 s for this form, measured while
    ``shingles()`` re-tokenized each document for every element_at of
    its 8-gram lambda; it now binds the token array once per row),
    keeping ``shingles()``'s short-doc semantics — a document under k tokens contributes its whole
    token string as one gram, so no document silently drops out."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    with_toks = spread_if_narrow(df, "doc_id").select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    )
    long_docs = with_toks.filter(F.size("toks") >= T24_K).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, T24_K)
    ]
    wins = (
        long_docs.select(
            "doc_id",
            F.concat_ws(" ", *leads).alias("gram"),
            leads[-1].alias("_last"),
        )
        # lead(k-1) NULL ⇔ the window would run past the doc's end
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    short_docs = with_toks.filter(F.size("toks") < T24_K).select(
        "doc_id", F.concat_ws(" ", "toks").alias("gram")
    )
    return wins.unionByName(short_docs)


def _t24_gram_rows(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, gram) rows — t24's text-keyed form."""
    return _t24_gram_stream(df).distinct()


def _t24_gram_hashes(df: DataFrame) -> DataFrame:
    """Distinct (doc_id, h1, h2) rows — t25's hash-keyed form: each
    gram collapses to the t21 128-bit pair (two salted xxhash64s)
    BEFORE the dedup shuffle, so every exchanged row is 8+16 bytes no
    matter how long the text window is. This ordering is the point of
    the variant: at web scale the gram-text distinct is the dominant
    shuffle, and hashing first shrinks it ~10x."""
    g = _t24_gram_stream(df)
    return g.select(
        "doc_id",
        F.xxhash64(F.lit(1), "gram").alias("h1"),
        F.xxhash64(F.lit(2), "gram").alias("h2"),
    ).distinct()


def _t24_grams_sql(col: str = "text") -> str:
    k = T24_K
    return f"""CASE WHEN len(toks) < {k}
       THEN [array_to_string(toks, ' ')]
       ELSE list_transform(range(len(toks) - {k - 1}),
              i -> array_to_string(toks[i + 1 : i + {k}], ' ')) END"""


SQL_T24 = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
ev0 AS (
  SELECT doc_id, text FROM d WHERE doc_id % 97 = 0
  UNION ALL SELECT -1, '{T24_PROBE}'
),
corp0 AS (
  SELECT doc_id, text FROM d WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 30000000, text || ' ' || '{T24_PROBE}'
  FROM d WHERE doc_id % 10 = 7
),
evg AS (
  SELECT DISTINCT unnest(list_distinct({_t24_grams_sql()})) AS gram
  FROM (SELECT doc_id, text, {_toks_sql()} AS toks FROM ev0)
),
cg AS (
  SELECT doc_id, unnest(list_distinct({_t24_grams_sql()})) AS gram
  FROM (SELECT doc_id, text, {_toks_sql()} AS toks FROM corp0)
)
SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM cg JOIN evg USING (gram)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# streaming replays (Structured Streaming run to completion, then
# compared against plain batch SQL — the exactly-once replay property)


def q_st01_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over the events stream
    (watermarked), replayed to completion with Trigger.AvailableNow.
    The oracle is plain batch SQL — stream replay == batch is the
    correctness property of the streaming surface."""
    from alternating_least_squares_spark.streaming import (
        hourly_value_stream,
        read_events_stream,
        run_stream_to_batch,
    )

    stream = read_events_stream(spark, sf_dir)
    return run_stream_to_batch(hourly_value_stream(stream), output_mode="complete")


SQL_ST01 = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS total_value
FROM events GROUP BY 1, 2
"""


def q_st02_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful sessionization (F.session_window, 30-min gap)
    replayed to completion. Complete output mode (session windows
    support append/complete only; append would hold back sessions
    newer than the watermark with no later batch to close them in a
    replay). Session bounds exposed as epoch micros for oracle
    parity."""
    from alternating_least_squares_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
        sessionize_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    sess = run_stream_to_batch(
        sessionize_stream(stream, gap="30 minutes"), output_mode="complete"
    )
    return sess.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "total_value",
    )


# session_window semantics: a session spans events closer than GAP to
# the previous event (strictly-less merge: windows [t, t+gap) overlap
# iff next < prev + gap) and its end is last_event + gap.
SQL_ST02 = """
WITH lagged AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, value, ts_us,
         CASE WHEN prev IS NULL OR ts_us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, value, ts_us,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       COUNT(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS total_value
FROM sess GROUP BY user_id, seq
"""


def q_st03_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) replayed to
    completion: running per-user profiles. One source file → one
    micro-batch → the emitted update per user IS the final profile,
    so plain batch SQL is an exact oracle."""
    from alternating_least_squares_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
        user_profile_stream,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "value", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    prof = run_stream_to_batch(user_profile_stream(stream), output_mode="update")
    return prof.select(
        "user_id",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
        "max_value",
        "last_ts_us",
    )


SQL_ST03 = """
SELECT user_id,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value,
       max(value) AS max_value,
       max(epoch_us(ts)) AS last_ts_us
FROM events GROUP BY 1
"""


def q_st04_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events frame enriched against
    a static dimension (event_type → category) before a windowless
    aggregate — the standard enrichment topology (static side is
    broadcast per micro-batch, no stream-side state). Replay == batch
    SQL, so fully oracle-checked."""
    from alternating_least_squares_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
    )

    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("refund", "revenue"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = (
        stream.join(F.broadcast(dim), "event_type", "left")
        .groupBy(F.coalesce("category", F.lit("other")).alias("category"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
    )
    return run_stream_to_batch(enriched, output_mode="complete")


SQL_ST04 = """
WITH dim(event_type, category) AS (
  VALUES ('click','engagement'), ('view','engagement'),
         ('purchase','revenue'), ('refund','revenue'), ('error','ops')
)
SELECT coalesce(d.category, 'other') AS category,
       count(*) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM events e LEFT JOIN dim d USING (event_type)
GROUP BY 1
"""


def q_st05_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one state row per key and
    the event-time watermark evicts keys once they can no longer
    collide with late data — so state is O(keys per watermark window),
    not O(history), the property that makes streaming dedup viable on
    an unbounded 100 TB/day feed. Only the dedup keys are projected so
    the emitted set is deterministic (which physical row survives per
    key is not). Replay == batch DISTINCT — fully oracle-checked."""
    from alternating_least_squares_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
    )

    stream = read_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_batch(deduped, output_mode="append")


SQL_ST05 = "SELECT DISTINCT user_id, event_type FROM events"


def q_st06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click→purchase
    attribution within 1 hour): two independent source streams joined
    on user with event-time bounds, which is what lets Spark evict
    join state as the watermark advances. Replay == batch interval
    join — fully oracle-checked."""
    from alternating_least_squares_spark.streaming import (
        attribution_join_stream,
        read_events_stream,
        run_stream_to_batch,
    )

    clicks = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = attribution_join_stream(clicks, purchases, horizon="1 hour")
    return run_stream_to_batch(joined, output_mode="append")


SQL_ST06 = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id AS user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def q_st07_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (1-hour window, 30-minute slide) event-time windows over
    the watermarked events stream, replayed to completion — the
    streaming twin of w06. Replay == batch is the checked property;
    bounds as epoch micros for oracle parity."""
    from alternating_least_squares_spark.streaming import (
        hopping_value_stream,
        read_events_stream,
        run_stream_to_batch,
    )

    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_batch(
        hopping_value_stream(stream), output_mode="complete"
    )
    return out.select(
        F.unix_micros("window_start").alias("win_start_us"),
        F.unix_micros("window_end").alias("win_end_us"),
        "event_type",
        "n_events",
        "total_value",
    )


SQL_ST07 = SQL_W06


def q_st08_stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink into the versioned snapshot table
    (foreachBatch incremental MERGE — one snapshot version per
    micro-batch; see streaming/events.py). Replayed with AvailableNow;
    the oracle is the plain per-user aggregate, so a hash match proves
    the batch-combine arithmetic and the table's MERGE semantics
    compose to exactly-once totals."""
    import shutil

    from alternating_least_squares_spark.streaming import (
        read_events_stream,
        stream_upsert_profiles_to_snapshot,
    )

    path = _scratch_path(
        "alternating_ls_snapshot_st08", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    stream = read_events_stream(spark, sf_dir)
    return stream_upsert_profiles_to_snapshot(stream, path)


SQL_ST08 = """
SELECT user_id, COUNT(*) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value
FROM events GROUP BY 1
"""


def q_st09_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file ingest (streaming/events.incremental_file_ingest
    — the Delta Auto-Loader / availableNow pattern): events land in two
    arrival waves; the SECOND run's checkpointed file ledger must pick
    up ONLY the new wave, never re-scan the landing zone. The output
    aggregates the fully-ingested sink hourly (oracle = the same
    aggregate over all events) with an ``incremental`` flag
    hash-asserting the run-2 row count equals exactly wave 2 — a
    re-scan or a miss both flip it."""
    import shutil

    from alternating_least_squares_spark.streaming.events import (
        incremental_file_ingest,
    )

    base = _scratch_path(
        "alternating_ls_st09", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    import os

    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )
    hour_ns = 3_600_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "event_type", "value"
    )
    wave1 = ev.filter(F.col("event_id") % 2 == 0)
    wave2 = ev.filter(F.col("event_id") % 2 == 1)
    n_wave2 = wave2.count()
    schema = wave1.schema

    wave1.write.mode("overwrite").parquet(src)
    n_run1 = incremental_file_ingest(spark, src, sink, ckpt, schema)
    # wave 2 arrives: APPEND new files into the same landing dir
    wave2.write.mode("append").parquet(src)
    n_run2 = incremental_file_ingest(spark, src, sink, ckpt, schema)

    ok = n_run2 == n_wave2 and n_run1 + n_run2 == n_wave2 + wave1.count()
    ingested = spark.read.parquet(sink)
    return ingested.groupBy(
        F.expr(_floor_div("ts_ns", hour_ns)).alias("hour_bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
        ).alias("total_value"),
        F.max(F.lit(bool(ok))).alias("incremental"),
    )


SQL_ST09 = f"""
SELECT {_floor_div_duck('epoch_ns(ts)', 3_600_000_000_000)} AS hour_bucket,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS total_value,
       TRUE AS incremental
FROM events GROUP BY 1
"""


def q_st10_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus admission (streaming/admission.py — the
    streaming face of d09): document files land in TWO waves; each
    availableNow run picks up only the unseen files and near-dup-gates
    each micro-batch against the base corpus PLUS everything admitted
    earlier. Wave 2 contains whitespace-variants of docs admitted in
    wave 1 — rejecting them proves the corpus GROWS between runs, the
    property a static-corpus gate misses.

    Oracle-exact by the d09 construction (every admission decision is
    shingle-Jaccard exactly 1 or 0, so token-sequence NOT EXISTS is
    ground truth): wave 1 = whitespace-doubled variants of %10==0
    (reject vs base) + fresh zq-token docs for %10==5 (admit); wave 2
    = whitespace-doubled variants of THOSE admitted docs (reject vs
    grown corpus) + fresh qx-token docs for %10==7 (admit). The
    ``incremental`` flag hash-asserts each run admitted exactly its
    fresh set."""
    import os
    import shutil

    from alternating_least_squares_spark.streaming.admission import (
        DOCS_SCHEMA,
        admit_stream_run,
    )

    base = _scratch_path(
        "alternating_ls_st10", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "_ckpt"))

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dstr = F.col("doc_id").cast("string")
    double_sp = lambda c: F.regexp_replace(F.coalesce(c, F.lit("")), " ", "  ")
    fresh_text = lambda tag: F.concat(
        F.lit(tag), dstr, F.lit("a " + tag), dstr, F.lit("b " + tag),
        dstr, F.lit("c " + tag), dstr, F.lit("d"),
    )
    v1 = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        double_sp(F.col("text")).alias("text"),
    )
    f1 = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        fresh_text("zq").alias("text"),
    )
    v2 = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        double_sp(fresh_text("zq")).alias("text"),
    )
    f2 = docs.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        fresh_text("qx").alias("text"),
    )

    v1.unionByName(f1).write.parquet(src)
    n1 = admit_stream_run(spark, docs, src, sink, ckpt)
    v2.unionByName(f2).write.mode("append").parquet(src)
    n2 = admit_stream_run(spark, docs, src, sink, ckpt)

    ok = n1 == f1.count() and n2 == f2.count()
    admitted = spark.read.schema(DOCS_SCHEMA).parquet(sink)
    return admitted.select(
        "doc_id", F.lit(bool(ok)).alias("incremental")
    )


SQL_ST10 = f"""
WITH ck AS (
  SELECT array_to_string({_toks_sql()}, ' ') AS key FROM documents
),
f1 AS (
  SELECT doc_id + 30000000 AS doc_id,
         'zq' || doc_id || 'a zq' || doc_id || 'b zq' || doc_id || 'c zq'
              || doc_id || 'd' AS key
  FROM documents WHERE doc_id % 10 = 5
),
v1 AS (
  SELECT doc_id + 20000000 AS doc_id,
         array_to_string(
           {_toks_sql("regexp_replace(coalesce(text, ''), ' ', '  ', 'g')")},
           ' ') AS key
  FROM documents WHERE doc_id % 10 = 0
),
a1 AS (
  SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM f1) w1
  WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.key = w1.key)
),
v2 AS (
  SELECT doc_id + 10000000 AS doc_id, key FROM f1
),
f2 AS (
  SELECT doc_id + 50000000 AS doc_id,
         'qx' || doc_id || 'a qx' || doc_id || 'b qx' || doc_id || 'c qx'
              || doc_id || 'd' AS key
  FROM documents WHERE doc_id % 10 = 7
),
a2 AS (
  SELECT * FROM (SELECT * FROM v2 UNION ALL SELECT * FROM f2) w2
  WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.key = w2.key)
    AND NOT EXISTS (SELECT 1 FROM a1 WHERE a1.key = w2.key)
)
SELECT doc_id, TRUE AS incremental FROM a1
UNION ALL
SELECT doc_id, TRUE AS incremental FROM a2
"""


# ---------------------------------------------------------------------------
# multimodal columns


def q_mm01_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end (VERDICT r8 #5 — no more stub):
    every document gets a planted uncompressed 24-bit BMP whose pixel
    bytes are its text right-padded to a (doc_id%4+2)×(doc_id%3+1)
    frame (functions/multimodal.attach_bmp_blob), and a SECOND
    Arrow-batched stage parses the BMP container with stdlib
    ``struct`` — magic, header offsets, bottom-up row order, 4-byte
    row padding — emitting the parsed dimensions and the md5 of the
    decoded top-down pixel bytes (decode_bmp_features). The oracle
    restates container size (54 + stride·h), dimensions, and the
    pixel buffer (substring + rpad; testdata text is ASCII) in SQL,
    so a hash match proves the decoder read the format, not that two
    Python stages agreed with each other."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_bmp_blob,
        decode_bmp_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_bmp_features(attach_bmp_blob(docs))


SQL_MM01 = """
WITH dim AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 2 AS INTEGER) AS width,
         CAST(doc_id % 3 + 1 AS INTEGER) AS height,
         text
  FROM documents
)
SELECT doc_id,
       CAST(54 + ((width * 3 + 3) // 4) * 4 * height AS BIGINT) AS n_bytes,
       width,
       height,
       md5(rpad(substring(coalesce(text, ''), 1, width * height * 3),
                width * height * 3, 'x')) AS pixel_md5
FROM dim
"""


def q_mm05_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, end to end (round 9 — completes decode →
    features → resize → frame-sample with an actual pixel op; mm04's
    stride resize stays as the byte-level stand-in for undecodable
    formats): plant the mm01 BMPs, decode them, nearest-neighbor
    sample to 2×2 (integer ``src = out·src_dim DIV out_dim`` mapping),
    re-encode to a valid BMP container. The oracle restates the four
    sampled pixels with substring arithmetic on the padded text (the
    planted pixels ARE the text) and the re-encoded container size as
    the 54 + stride·2 constant — a hash match proves the resize
    sampled exactly the right pixels, not that two Python stages
    agreed."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_bmp_blob,
        resize_bmp_nearest,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_bmp_nearest(attach_bmp_blob(docs), out_w=2, out_h=2)


SQL_MM05 = """
WITH dim AS (
  SELECT doc_id,
         doc_id % 4 + 2 AS w,
         doc_id % 3 + 1 AS h,
         rpad(substring(coalesce(text, ''), 1,
                        CAST((doc_id % 4 + 2) * (doc_id % 3 + 1) * 3
                             AS INTEGER)),
              CAST((doc_id % 4 + 2) * (doc_id % 3 + 1) * 3 AS INTEGER),
              'x') AS px
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS src_width,
       CAST(h AS INTEGER) AS src_height,
       CAST(2 AS INTEGER) AS width,
       CAST(2 AS INTEGER) AS height,
       md5(concat(
         substring(px, 1, 3),
         substring(px, CAST((w // 2) * 3 + 1 AS INTEGER), 3),
         substring(px, CAST(((h // 2) * w) * 3 + 1 AS INTEGER), 3),
         substring(px, CAST(((h // 2) * w + (w // 2)) * 3 + 1 AS INTEGER), 3)
       )) AS resized_md5,
       CAST(70 AS BIGINT) AS resized_bmp_bytes
FROM dim
"""


def q_mm02_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-EXPANDING mapInPandas plumbing proof (the video-keyframe
    access pattern): every 4th 64-byte frame of each payload, one
    output row per sampled frame. The oracle rebuilds the same frames
    with substring arithmetic in SQL (text is ASCII, so byte offsets
    == char offsets), so a hash match proves the fan-out produced
    exactly the right chunk boundaries and bytes."""
    from alternating_least_squares_spark.functions.multimodal import (
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(docs)


SQL_MM02 = """
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(length(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS BIGINT)
         AS n_bytes,
       md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
FROM documents,
     UNNEST(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 4)) AS t(i)
WHERE text IS NOT NULL
"""


def q_mm03_arrow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` variant of mm01: the lowest-level batch-Python
    surface — raw pyarrow RecordBatches in and out, no pandas
    conversion layer. The right tool when the Python side is itself
    Arrow-native (decoders emitting tensors, GPU libraries); here it
    recomputes the mm01 byte features so the same DuckDB oracle
    hash-proves the Arrow round-trip."""
    import hashlib as _hl

    def batches(it):
        import pyarrow as pa

        for batch in it:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            payloads = [(t or "").encode("utf-8") for t in texts]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array([len(b) for b in payloads], pa.int64()),
                    pa.array(
                        [_hl.md5(b).hexdigest() for b in payloads],
                        pa.string(),
                    ),
                ],
                names=["doc_id", "n_bytes", "md5"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(batches, "doc_id long, n_bytes long, md5 string")


SQL_MM03 = """
SELECT doc_id,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
       md5(coalesce(text, '')) AS md5
FROM documents
"""


def q_mm06_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + frame analysis (the audio rung of the
    media ladder, with an actual decode the way mm01/mm05's BMP path
    was real while PNG/JPEG were still PIL-gated): a deterministic int16
    little-endian PCM waveform is planted per doc (attach_pcm_blob —
    raw WAV-data-chunk bytes through an Arrow boundary), then
    pcm_frame_features parses it with numpy.frombuffer (THE decode
    for PCM audio), windows it into 16-sample frames, and emits
    exact-integer per-frame energy = Σs² and peak = max|s| — BIGINT-
    exact (16·32768² < 2⁶³), so the oracle restates the whole
    waveform arithmetic with generate_series and hash-matches
    bit-for-bit; no float RMS drift anywhere. Variable-length streams
    (48/64/80 samples by doc_id%3 → 3-5 frames) prove the fan-out
    handles ragged inputs. Scale: decode is embarrassingly parallel
    over docs, the binary column dies at this stage (output rows are
    4 longs), and at a real 100 TB audio corpus the same plan reads
    the bytes from b07-style binaryFile ingest instead of planting
    them."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_pcm_blob,
        pcm_frame_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pcm_frame_features(attach_pcm_blob(docs))


SQL_MM06 = """
WITH s AS (
  SELECT doc_id,
         unnest(generate_series(0, 47 + (doc_id % 3) * 16)) AS i
  FROM documents
),
v AS (
  SELECT doc_id, i // 16 AS frame_idx,
         (doc_id * 7919 + i * 104729 + i * i * (doc_id // 65536)
          + 12345) % 65536 - 32768 AS x
  FROM s
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(sum(x * x) AS BIGINT) AS energy,
       CAST(max(abs(x)) AS BIGINT) AS peak
FROM v GROUP BY doc_id, frame_idx
"""


def q_mm07_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio CONTAINER decode — the RIFF/WAVE rung above mm06's
    raw PCM, the audio analog of the BMP container work (E129): a
    true WAV file per doc (RIFF header, fmt chunk, data chunk —
    stdlib struct only, the format sox/ffmpeg/python-wave produce for
    16-bit mono) built by ``encode_wav`` through an Arrow boundary,
    then parsed back by ``decode_wav``, whose chunk WALK skips
    unknown chunks (LIST/INFO metadata real recorders emit) and
    raises on truncated/malformed containers or non-16-bit-mono
    formats (the loud-gate discipline). Emits the doc-level audio
    profile: sample rate and count as parsed FROM THE CONTAINER,
    exact integer duration in µs (n·10⁶ DIV rate — no float
    seconds), total energy Σs² and peak. Both the planted rate
    (8000·(1+doc_id%3)) and the waveform are doc_id-derived, so the
    oracle restates the whole profile arithmetically — a hash match
    proves header fields survived the encode→decode round trip
    bit-exactly. Scale: one narrow Arrow pass; the container dies at
    the decode, six longs per doc ride on."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_wav_blob,
        wav_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return wav_features(attach_wav_blob(docs))


SQL_MM07 = """
WITH s AS (
  SELECT doc_id,
         unnest(generate_series(0, 47 + (doc_id % 3) * 16)) AS i
  FROM documents
),
v AS (
  SELECT doc_id,
         (doc_id * 7919 + i * 104729 + i * i * (doc_id // 65536)
          + 12345) % 65536 - 32768 AS x
  FROM s
)
SELECT doc_id,
       CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(count(*) * 1000000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
         AS duration_us,
       CAST(sum(x * x) AS BIGINT) AS energy,
       CAST(max(abs(x)) AS BIGINT) AS peak
FROM v GROUP BY doc_id
"""


def q_mm08_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode for the common case, stdlib only (VERDICT r14
    #4 — converts the last big "decoder is PIL-gated" row into a real
    path, the discipline that took BMP real in round 9 and WAV in
    round 14): a true PNG per doc — signature, CRC-verified
    IHDR/IDAT/IEND chunk walk, zlib-inflated scanlines, all five
    filter types 0-4 — built by ``encode_png`` through an Arrow
    boundary and parsed back by ``decode_png``. The planted image is
    ``(id%4+2) × (id%3+1)`` with ``3 + id%2`` channels (RGB even /
    RGBA odd ids) whose pixels are the doc's ASCII text
    truncated/padded (the mm01 BMP contract), and — the load-bearing
    part — each scanline is genuinely FILTERED with type
    ``(id + row) % 5`` before compression, so the oracle's pixel md5
    certifies the Sub/Up/Average/Paeth unfilter arithmetic: a
    decoder that mishandles any filter type reconstructs wrong
    pixels and hash-breaks. The oracle restates the decoded
    scanlines arithmetically (text substring+rpad), which decode ==
    encode⁻¹ makes filter-independent. This entry is 8-bit RGB/RGBA
    non-interlaced; palette (mm09), interlaced (mm10), 16-bit (mm11)
    and JPEG (mm12) each closed in later rounds — the PIL gate is
    gone. Scale: one narrow Arrow pass per
    side, no shuffle; the blob dies at the decode stage — five
    narrow columns ride on (the mm06/mm07 shape)."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_png_blob,
        decode_png_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_png_features(attach_png_blob(docs))


SQL_MM08 = """
WITH dim AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 2 AS INTEGER) AS width,
         CAST(doc_id % 3 + 1 AS INTEGER) AS height,
         CAST(3 + doc_id % 2 AS INTEGER) AS channels,
         text
  FROM documents
)
SELECT doc_id, width, height, channels,
       md5(rpad(substring(coalesce(text, ''), 1,
                          width * height * channels),
                width * height * channels, 'x')) AS pixel_md5
FROM dim
"""


def q_mm09_palette_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTE (color type 3) PNG decode — mm08's most common
    remaining PIL-gated class taken real (VERDICT r15 #5): a true
    indexed PNG per doc — CRC-verified IHDR/PLTE/IDAT/IEND walk,
    1-byte-per-pixel scanlines unfiltered at bpp=1 with the same five
    filter types, then index-expanded through the PLTE's RGB triples
    (the PIL convert("RGB") contract). Planted per doc: ``(id%5+2) ×
    (id%3+1)`` with an ``id%4+2``-entry grayscale PLTE (entry j =
    'A'+j three times), indices = the doc's ASCII pixel buffer mod
    the palette size, per-row filter ``(id+row)%5`` — so the decoded
    pixel md5 certifies PLTE parsing, expansion, AND bpp=1 unfilter
    arithmetic together (a decoder that expands before unfiltering,
    or unfilters at bpp=3, hash-breaks). The oracle restates the
    expanded buffer per char: ``chr(65 + ord(ch) % n_colors)``
    repeated 3×, via the correlated-unnest construction (the
    mm06/mm07 pattern). PLTE malformations (missing/duplicate/late/
    bad length/out-of-range index) are ValueError crash classes,
    fuzz-covered in tests. Scale: identical to mm08 — one narrow
    Arrow pass per side, the blob dies at the decode stage."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_palette_png_blob,
        decode_png_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_png_features(attach_palette_png_blob(docs))


SQL_MM09 = """
WITH dim0 AS (
  SELECT doc_id,
         CAST(doc_id % 5 + 2 AS INTEGER) AS width,
         CAST(doc_id % 3 + 1 AS INTEGER) AS height,
         CAST(doc_id % 4 + 2 AS INTEGER) AS n_colors,
         text
  FROM documents
),
dim AS (
  SELECT doc_id, width, height, n_colors,
         rpad(substring(coalesce(text, ''), 1, width * height),
              width * height, 'x') AS idxsrc
  FROM dim0
),
px AS (
  SELECT doc_id, width, height, n_colors,
         string_agg(
           repeat(chr(65 + ord(substring(idxsrc, i, 1)) % n_colors), 3),
           '' ORDER BY i
         ) AS pixels
  FROM dim, unnest(generate_series(1, width * height)) AS t(i)
  GROUP BY doc_id, width, height, n_colors
)
SELECT doc_id, width, height,
       CAST(3 AS INTEGER) AS channels,
       md5(pixels) AS pixel_md5
FROM px
"""


def q_mm10_interlaced_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7 INTERLACED PNG decode — the largest remaining PIL-gated
    PNG class taken real (VERDICT r16 #4; functions/multimodal
    _adam7_passes + the interlaced branches of encode_png/decode_png):
    a true interlace=1 PNG per doc — CRC-verified chunk walk, ONE
    zlib stream holding up to seven pass sub-images, each unfiltered
    INDEPENDENTLY (prior row restarts at zero per pass, spec §8.2)
    through the same five-filter machinery mm08/mm09 certified, then
    SCATTERED to final (x0+c·dx, y0+r·dy) positions. Planted per doc:
    ``(id%9+2) × (id%7+2)`` with ``3+id%2`` channels, pixels the
    doc's ASCII buffer, per-interlaced-scanline filter ``(id+i)%5``
    — dims vary pass membership across the corpus (the smallest docs
    miss pass 2 or 3 entirely), so empty-pass arithmetic is in the
    hash, and a de-interlacer with any wrong pass origin/step/ceiling
    reconstructs a permuted buffer and hash-breaks. The oracle
    restates the decoded pixels arithmetically (text substring+rpad),
    which decode == encode⁻¹ makes both filter- AND
    interlace-independent — the strongest form of the mm08 contract.
    The PIL gate shrank to 16-bit depth + JPEG (both closed since).
    Scale: one narrow
    Arrow pass per side, no shuffle; the blob dies at the decode
    stage (the mm06-mm09 shape)."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_interlaced_png_blob,
        decode_png_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_png_features(attach_interlaced_png_blob(docs))


SQL_MM10 = """
WITH dim AS (
  SELECT doc_id,
         CAST(doc_id % 9 + 2 AS INTEGER) AS width,
         CAST(doc_id % 7 + 2 AS INTEGER) AS height,
         CAST(3 + doc_id % 2 AS INTEGER) AS channels,
         text
  FROM documents
)
SELECT doc_id, width, height, channels,
       md5(rpad(substring(coalesce(text, ''), 1,
                          width * height * channels),
                width * height * channels, 'x')) AS pixel_md5
FROM dim
"""


def q_mm11_deep_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-BIT-depth PNG decode — the LAST PIL-gated PNG class taken
    real (functions/multimodal encode_png/decode_png depth=16; after
    this the gate is JPEG alone): scanlines carry big-endian 2-byte
    samples, so bpp = 2×channels and the five filters predict
    BYTEWISE at that offset (spec §9.2) — a decoder unfiltering at
    the 8-bit offset reconstructs garbage and hash-breaks. Planted
    per doc: ``(id%4+2) × (id%3+1)`` with ``3+id%2`` channels, the
    scanline buffer = the doc's ASCII pixel contract at 2
    bytes/sample (both bytes of every sample are text bytes, keeping
    the md5 restatable as a SQL string hash), per-scanline filter
    ``(id+i)%5``; every ``id%5==0`` doc is ALSO Adam7-interlaced, so
    the depth × interlace composition — pass geometry at bpp 6/8 —
    is certified inside the same hash. The oracle is the mm08
    arithmetic restatement at n = w·h·ch·2, which decode == encode⁻¹
    makes depth-, filter-, and interlace-independent. Scale: the
    mm06-mm10 shape — one narrow Arrow pass per side, no shuffle, the
    blob dies at the decode stage."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_deep_png_blob,
        decode_png_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_png_features(attach_deep_png_blob(docs))


SQL_MM11 = """
WITH dim AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 2 AS INTEGER) AS width,
         CAST(doc_id % 3 + 1 AS INTEGER) AS height,
         CAST(3 + doc_id % 2 AS INTEGER) AS channels,
         text
  FROM documents
)
SELECT doc_id, width, height, channels,
       md5(rpad(substring(coalesce(text, ''), 1,
                          width * height * channels * 2),
                width * height * channels * 2, 'x')) AS pixel_md5
FROM dim
"""


def q_mm12_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, stdlib + numpy only (VERDICT r17 #3
    — the LAST capability gate: after this every supported image
    format decodes through a real stdlib path and decode_image's PIL
    gate is deleted): a true baseline-sequential JFIF per doc — SOI,
    APP0, DQT, SOF0, Annex K DHTs, SOS, Huffman-entropy scan with
    byte stuffing — built by ``encode_jpeg`` through an Arrow
    boundary and parsed back by ``decode_jpeg`` (marker walk, table
    parse, Huffman decode with DC prediction and EOB/ZRL runs,
    dequantize, IDCT, fixed-point YCbCr→RGB, per ITU-T T.81).

    Exactness (JPEG is lossy, so the fixture class is chosen to make
    the loss land on exact zero): planted images are ``8·(id%2+1) ×
    8·(id%3+1)`` with every 8×8 tile CONSTANT (jpeg_tile_value), so
    all 63 AC coefficients quantize to exactly 0 and only the DC
    survives — and the pinned quant tables carry a DC step of 8, so
    DC = 8·(v−128) round-trips quantize→dequantize→IDCT bit-exactly.
    Even ids are grayscale (decode == planted bytes VERBATIM); odd
    ids are 4:4:4 color, where decode == the 16-bit fixed-point
    YCbCr roundtrip of the planted RGB — pure-integer floor-division
    arithmetic the oracle restates per pixel (biased dividends keep
    // identical across engines; values are pinned ASCII-safe so
    chr()-built oracle strings hash the same bytes). The general
    decoder (arbitrary images, full AC Huffman paths, partial MCUs)
    is pinned decode == encode⁻¹ against the encoder's predicted
    reconstruction plus a malformed-marker matrix in
    tests/test_multimodal.py. Scale: the mm06-mm11 shape — one
    narrow Arrow pass per side, no shuffle, the blob dies at the
    decode stage, five narrow columns ride on."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_jpeg_blob,
        decode_jpeg_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_jpeg_features(attach_jpeg_blob(docs))


SQL_MM12 = """
WITH dim AS (
  SELECT doc_id,
         CAST(8 * (doc_id % 2 + 1) AS INTEGER) AS width,
         CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER)
           AS channels
  FROM documents
),
px AS (
  SELECT doc_id, width, height, channels, i,
         (i % width) // 8 AS tx, (i // width) // 8 AS ty
  FROM dim, unnest(generate_series(0, width * height - 1)) t(i)
),
rgb AS (
  SELECT *,
         32 + (doc_id * 7 + tx * 13 + ty * 29) % 95 AS gv,
         16 + (doc_id * 7 + tx * 13 + ty * 29) % 85 AS r,
         16 + (doc_id * 11 + tx * 17 + ty * 23) % 85 AS g,
         16 + (doc_id * 13 + tx * 19 + ty * 31) % 85 AS b
  FROM px
),
ycc AS (
  SELECT *,
    LEAST(255, GREATEST(0,
      (19595*r + 38470*g + 7471*b + 32768 + 16777216) // 65536 - 256))
      AS y,
    LEAST(255, GREATEST(0, 128 +
      ((-11059)*r - 21709*g + 32768*b + 32768 + 16777216) // 65536 - 256))
      AS cb,
    LEAST(255, GREATEST(0, 128 +
      (32768*r - 27439*g - 5329*b + 32768 + 16777216) // 65536 - 256))
      AS cr
  FROM rgb
),
dec AS (
  SELECT *,
    LEAST(255, GREATEST(0,
      y + (91881*(cr-128) + 32768 + 16777216) // 65536 - 256)) AS r2,
    LEAST(255, GREATEST(0,
      y + ((-22554)*(cb-128) - 46802*(cr-128) + 32768 + 16777216)
          // 65536 - 256)) AS g2,
    LEAST(255, GREATEST(0,
      y + (116130*(cb-128) + 32768 + 16777216) // 65536 - 256)) AS b2
  FROM ycc
),
pix AS (
  SELECT doc_id, width, height, channels,
         string_agg(CASE WHEN channels = 1 THEN chr(CAST(gv AS INTEGER))
                         ELSE chr(CAST(r2 AS INTEGER))
                              || chr(CAST(g2 AS INTEGER))
                              || chr(CAST(b2 AS INTEGER)) END,
                    '' ORDER BY i) AS pixels
  FROM dec GROUP BY 1, 2, 3, 4
)
SELECT doc_id, width, height, channels, md5(pixels) AS pixel_md5
FROM pix
"""


def q_mm13_decode_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-format corpus decode through the uniform signature
    dispatch (the round-18 capstone over mm01-mm12: with every
    supported container now owning a REAL stdlib decoder,
    ``decode_image`` routes BY PAYLOAD — the real shape of a scraped
    media corpus, where no partition is format-homogeneous): each doc
    plants one genuine container chosen by ``id % 3`` — uncompressed
    BMP, filtered RGB PNG, baseline 4:4:4 JPEG — all from the SAME
    jpeg_tile_value RGB tile contract, and one
    ``decode_image_features`` pass decodes all three through the
    magic-byte dispatch. Exactness: BMP and PNG are lossless by
    format (decode == planted bytes verbatim — PNG additionally
    exercises per-row filters (id+row)%5 through the dispatch path);
    JPEG is lossless on the tile-constant class by the mm12 DC
    construction, decoding to the fixed-point YCbCr roundtrip. The
    oracle builds BOTH pixel strings per doc and selects by id%3 —
    one hash certifies all three decoders AND the dispatch glue.
    Scale: the mm06-mm12 shape — one narrow Arrow pass, no shuffle,
    per-payload branching costs nothing plan-side."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_mixed_media_blob,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_image_features(attach_mixed_media_blob(docs))


SQL_MM13 = """
WITH dim AS (
  SELECT doc_id,
         CAST(8 * (doc_id % 2 + 1) AS INTEGER) AS width,
         CAST(8 * ((doc_id // 3) % 3 + 1) AS INTEGER) AS height
  FROM documents
),
px AS (
  SELECT doc_id, width, height, i,
         (i % width) // 8 AS tx, (i // width) // 8 AS ty
  FROM dim, unnest(generate_series(0, width * height - 1)) t(i)
),
rgb AS (
  SELECT *,
         16 + (doc_id * 7 + tx * 13 + ty * 29) % 85 AS r,
         16 + (doc_id * 11 + tx * 17 + ty * 23) % 85 AS g,
         16 + (doc_id * 13 + tx * 19 + ty * 31) % 85 AS b
  FROM px
),
ycc AS (
  SELECT *,
    LEAST(255, GREATEST(0,
      (19595*r + 38470*g + 7471*b + 32768 + 16777216) // 65536 - 256))
      AS y,
    LEAST(255, GREATEST(0, 128 +
      ((-11059)*r - 21709*g + 32768*b + 32768 + 16777216) // 65536 - 256))
      AS cb,
    LEAST(255, GREATEST(0, 128 +
      (32768*r - 27439*g - 5329*b + 32768 + 16777216) // 65536 - 256))
      AS cr
  FROM rgb
),
dec AS (
  SELECT *,
    LEAST(255, GREATEST(0,
      y + (91881*(cr-128) + 32768 + 16777216) // 65536 - 256)) AS r2,
    LEAST(255, GREATEST(0,
      y + ((-22554)*(cb-128) - 46802*(cr-128) + 32768 + 16777216)
          // 65536 - 256)) AS g2,
    LEAST(255, GREATEST(0,
      y + (116130*(cb-128) + 32768 + 16777216) // 65536 - 256)) AS b2
  FROM ycc
),
pix AS (
  SELECT doc_id, width, height,
         string_agg(chr(CAST(r AS INTEGER)) || chr(CAST(g AS INTEGER))
                    || chr(CAST(b AS INTEGER)), '' ORDER BY i)
           AS pixels_raw,
         string_agg(chr(CAST(r2 AS INTEGER)) || chr(CAST(g2 AS INTEGER))
                    || chr(CAST(b2 AS INTEGER)), '' ORDER BY i)
           AS pixels_jpg
  FROM dec GROUP BY 1, 2, 3
)
SELECT doc_id, width, height, CAST(3 AS INTEGER) AS channels,
       md5(CASE WHEN doc_id % 3 = 2 THEN pixels_jpg
                ELSE pixels_raw END) AS pixel_md5
FROM pix
"""


P05_PEAK_MAX = 32_000        # clipping gate: max|s| must stay under
P05_ENERGY_MIN = 340_000_000  # silence gate: mean energy per sample


def q_p05_audio_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end AUDIO corpus curation — the multimodal family run
    as a pipeline the way p01–p04 run the text side: ingest (planted
    WAV containers, exact-dup twins at +20M sharing the base's
    byte-identical waveform) → container decode (mm07's machinery) →
    quality gates (clipping: peak < 32000; silence: energy ≥
    n_samples·E_MIN — both exact integer compares, both evidential:
    the planted near-uniform waveform fails the clipping gate for a
    deterministic ~70%-ish of docs and the energy gate for another
    deterministic slice, at any SF) → exact dedup on the JVM-side
    md5 OF THE WAV BYTES (blob content, not metadata — twins collapse
    to the min doc_id with zero Python in the dedup) → the admitted
    doc profile.

    Ground truth is forced by construction: a twin is byte-identical
    to its base, so it gates identically and always loses keep-one —
    the admitted set is exactly the BASE docs passing both gates,
    which the oracle restates arithmetically (the mm07 waveform
    algebra + the two gate predicates). The by-construction claim
    needs distinct base docs to plant DISTINCT WAVs, which the
    waveform's high-bits term guarantees for all doc_id < 2^32
    (pcm_samples docstring has the proof — the pre-r15 formula was
    periodic with period 196608 and would have silently collapsed
    unrelated docs at large SF). Scale shape: gates are
    scan-side integer compares on the decoded profile; the dedup is
    one groupBy on a 16-byte hash (the t05 exact-dup shuffle — the
    heavy binary column contributes only its hash); nothing
    all-pairs, no Python off the two Arrow passes."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_wav_blob,
        wav_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # same twin-id-domain guard as p06 (review r16): a base doc_id
    # at/above the offset would alias a twin id.  The LOW bound
    # matters too (ADVICE r16): a negative base could alias INTO the
    # base domain after +20M, and seeded byte extraction (`seed >>
    # (8*i)`) vs the oracle's `%`/`//` arithmetic diverge below 0 —
    # one agg computes both ends
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if mx is not None and (mn < 0 or mx >= 20_000_000):
        raise ValueError(
            f"p05: doc_id range [{mn}, {mx}] outside the twin id "
            "domain [0, 20M) — regenerated testdata broke the "
            "keep-one-by-construction contract"
        )
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.col("doc_id").alias("seed"),
    )
    corpus = docs.select(
        "doc_id", F.col("doc_id").alias("seed")
    ).unionByName(twins)
    with_wav = attach_wav_blob(corpus, seed_col="seed").withColumn(
        "wav_md5", F.md5("wav")
    )
    feats = wav_features(with_wav)
    winners = with_wav.groupBy("wav_md5").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        feats.join(winners.select("doc_id"), "doc_id", "semi")
        .filter(F.col("peak") < P05_PEAK_MAX)
        .filter(F.col("energy") >= F.col("n_samples") * P05_ENERGY_MIN)
        .select(
            "doc_id", "sample_rate", "n_samples", "duration_us",
            "energy", "peak",
        )
    )


SQL_P05 = f"""
WITH s AS (
  SELECT doc_id,
         unnest(generate_series(0, 47 + (doc_id % 3) * 16)) AS i
  FROM documents
),
v AS (
  SELECT doc_id,
         (doc_id * 7919 + i * 104729 + i * i * (doc_id // 65536)
          + 12345) % 65536 - 32768 AS x
  FROM s
),
prof AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(count(*) * 1000000 // (8000 * (1 + doc_id % 3))
              AS BIGINT) AS duration_us,
         CAST(sum(x * x) AS BIGINT) AS energy,
         CAST(max(abs(x)) AS BIGINT) AS peak
  FROM v GROUP BY doc_id
)
SELECT doc_id, sample_rate, n_samples, duration_us, energy, peak
FROM prof
WHERE peak < {P05_PEAK_MAX}
  AND energy >= n_samples * {P05_ENERGY_MIN}
"""


P06_MEAN_MIN = 110   # darkness gate: mean pixel byte must reach this
P06_RANGE_MIN = 160  # contrast gate: max−min pixel byte must reach this


def q_p06_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IMAGE corpus curation — p05's audio pipeline run on
    the image side, exercising the real PNG decoder inside a curation
    chain rather than in isolation: ingest (planted RGB/RGBA PNGs
    driven by a SEED column, exact-dup twins at +20M sharing the
    base's byte-identical blob) → container decode (mm08's
    machinery) → pixel-stat quality gates (darkness: sum_px ≥
    n_px·110; contrast: max−min ≥ 160 — both exact integer compares,
    both evidential: at any SF a deterministic ~63% of docs fails the
    darkness gate and ~37% the contrast gate) → exact dedup on the
    JVM-side md5 OF THE PNG BYTES (twins collapse to the min doc_id
    with zero Python in the dedup) → the admitted image profile.

    Ground truth is forced by construction exactly as in p05: a twin
    is byte-identical to its base (the blob is seed-driven), so it
    gates identically and always loses keep-one — the admitted set is
    the BASE docs passing both gates, which the oracle restates
    arithmetically via the shared pixel contract
    (multimodal.seeded_png_pixel): bytes 0-5 are the seed's low 48
    bits VERBATIM (distinct seeds < 2^48 plant DISTINCT blobs — a
    formula-only variant collided at seed distance lcm(60,256)=3840,
    inside even sf0.01), the tail mixes the seed's high bits (the p05
    periodicity lesson). The stats ride the DECODED pixels, so the
    hash also re-certifies the whole unfilter arithmetic under
    composition. Scale: two narrow Arrow passes, one 16-byte-key
    dedup shuffle — the mm06/p05 shape."""
    from alternating_least_squares_spark.functions.multimodal import (
        attach_seeded_png_blob,
        png_pixel_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # the twin construction requires the base id domain to sit in
    # [0, 20M) — a base at/above the offset would alias a twin id,
    # and a NEGATIVE base could alias into the base domain after +20M
    # while `seed >> (8*i)` and the oracle's `%`/`//` diverge below 0
    # (ADVICE r16); guard both ends loudly in one agg
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if mx is not None and (mn < 0 or mx >= 20_000_000):
        raise ValueError(
            f"p06: doc_id range [{mn}, {mx}] outside the twin id "
            "domain [0, 20M) — regenerated testdata broke the "
            "keep-one-by-construction contract"
        )
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.col("doc_id").alias("seed"),
    )
    corpus = docs.select(
        "doc_id", F.col("doc_id").alias("seed")
    ).unionByName(twins)
    with_png = attach_seeded_png_blob(corpus).withColumn(
        "png_md5", F.md5("blob")
    )
    stats = png_pixel_stats(with_png)
    winners = with_png.groupBy("png_md5").agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        stats.join(winners.select("doc_id"), "doc_id", "semi")
        .filter(F.col("sum_px") >= F.col("n_px") * P06_MEAN_MIN)
        .filter(F.col("max_px") - F.col("min_px") >= P06_RANGE_MIN)
        .select(
            "doc_id", "width", "height", "channels",
            "n_px", "sum_px", "min_px", "max_px",
        )
    )


SQL_P06 = f"""
WITH dim AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 2 AS INTEGER) AS width,
         CAST(doc_id % 3 + 1 AS INTEGER) AS height,
         CAST(3 + doc_id % 2 AS INTEGER) AS channels
  FROM documents
),
s AS (
  SELECT doc_id, width, height, channels,
         unnest(generate_series(0, width * height * channels - 1)) AS i
  FROM dim
),
v AS (
  SELECT doc_id, width, height, channels,
         CASE WHEN i < 6 THEN (doc_id >> (8 * i)) & 255
              ELSE (doc_id * 131 + i * 65537
                    + i * i * (doc_id // 65536) + 77) % 256
         END AS x
  FROM s
),
prof AS (
  SELECT doc_id, width, height, channels,
         CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(x) AS BIGINT) AS sum_px,
         CAST(min(x) AS BIGINT) AS min_px,
         CAST(max(x) AS BIGINT) AS max_px
  FROM v GROUP BY doc_id, width, height, channels
)
SELECT doc_id, width, height, channels, n_px, sum_px, min_px, max_px
FROM prof
WHERE sum_px >= n_px * {P06_MEAN_MIN}
  AND max_px - min_px >= {P06_RANGE_MIN}
"""


def q_ipf_cost_per_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship iterative pipeline (A17 converge + E2/E3 ETL).
    Iterative fixed-point — not expressible as one SQL statement, so
    this takes the driver's rows-only check; the IPF invariants are
    pytest property tests (tests/test_ipf.py)."""
    return CA.cost_per_visit(spark, sf_dir, threshold=1e-9, max_iterations=20)


def q_j04_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (round 5; completes the
    merge_asof direction vocabulary next to j01's backward pass): each
    click matched with the user's EARLIEST purchase at-or-after it,
    nulled out when it is more than 2 hours away. Oracle: DuckDB's
    native ASOF LEFT JOIN with the ``<=`` comparator plus a CASE
    emulating the tolerance — two independent implementations
    hash-compared. Purchases deduped per (user, µs) in BOTH engines so
    ties can't flap the winner."""
    from alternating_least_squares_spark.operators.asof import asof_join

    tol_us = 2 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", ts="ts_us",
        direction="forward", tolerance=tol_us,
    )


SQL_J04 = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts_us,
       CASE WHEN p.ts_us - c.ts_us <= 7200000000 THEN p.ts_us END
         AS ts_us_asof,
       CASE WHEN p.ts_us - c.ts_us <= 7200000000 THEN p.value END
         AS value_asof
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
"""


def q_e14_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day (the growth-accounting
    counterpart to e11's trailing window). Exact cumulative distinct
    needs no distinct-over-window: reduce each user to their FIRST
    day (one keyed agg), count arrivals per day, then one running sum
    over the DAY-GRAIN frame — the global window is fine at any scale
    because it runs over #days rows, not #events (the reduction
    happened before the unpartitioned window, never after)."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(_floor_div("ts_ns", day_ns)).alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    arrivals = first.groupBy("day").agg(F.count("*").alias("new_users"))
    days = ev.select("day").distinct()
    j = days.join(arrivals, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


SQL_E14 = f"""
WITH e AS (
  SELECT user_id,
         {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day
  FROM events
),
f AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1),
a AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY 1),
d AS (SELECT DISTINCT day FROM e),
j AS (SELECT d.day, COALESCE(a.new_users, 0) AS new_users
      FROM d LEFT JOIN a ON a.day = d.day)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_users
FROM j
"""


def q_e16_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the metrics/
    finance aggregate where a reading HOLDS until the next one, so
    means must weight by holding duration, not by event count): each
    event's value is held for ``lead(ts) − ts`` nanoseconds; the last
    event per user has no holding window and drops (documented, both
    sides). Exactness discipline: value floors to integer
    micro-units, the (v_us · duration_ns) products and their sums run
    in DECIMAL(38,0) — exact integers at any parallelism (a double
    Σ(v·w) is partition-order dependent and would flap the hash;
    BIGINT overflows at v_us·ns ≈ 10²³) — and only the final
    twap = Σ(v·w)/Σ(w) touches floating point, one deterministic
    division rounded to 6. Plan: one window (lead) + one keyed agg,
    BOTH clustered on user_id — Spark's subset rule collapses them
    onto a single exchange (the e-suite discipline)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts_ns",
        F.floor(F.col("value") * F.lit(1e6)).alias("v_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "v_us")
    held = ev.withColumn(
        "_dur", F.lead("ts_ns").over(w) - F.col("ts_ns")
    ).filter(F.col("_dur").isNotNull())
    dec = "decimal(38,0)"
    return (
        held.groupBy("user_id")
        .agg(
            F.sum(
                F.col("v_us").cast(dec) * F.col("_dur").cast(dec)
            ).alias("_wv"),
            F.sum(F.col("_dur").cast(dec)).alias("_w"),
            F.count("*").alias("n_held"),
        )
        .filter(F.col("_w") > 0)  # all-zero holds → no defined TWAP
        .select(
            "user_id",
            "n_held",
            F.round(
                F.col("_wv").cast("double") / F.col("_w").cast("double"),
                6,
            ).alias("twap_us"),
        )
    )


SQL_E16 = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 1e6) AS BIGINT) AS v_us
  FROM events
),
held AS (
  SELECT user_id, v_us,
         lead(ts_ns) OVER (PARTITION BY user_id
                           ORDER BY ts_ns, v_us) - ts_ns AS dur
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_held,
       round(CAST(sum(CAST(v_us AS DECIMAL(38,0)) *
                      CAST(dur AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(sum(CAST(dur AS DECIMAL(38,0))) AS DOUBLE),
             6) AS twap_us
FROM held
WHERE dur IS NOT NULL
GROUP BY 1
HAVING sum(CAST(dur AS DECIMAL(38,0))) > 0
"""


def q_j05_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of (closing the merge_asof direction vocabulary
    after j01 backward / j04 forward): each click matched with the
    user's temporally closest purchase, ties resolved backward. One
    exchange, two sorted window passes (plan-asserted in
    tests/test_asof.py). Oracle: two DuckDB ASOF joins (>= and <=)
    merged by a distance CASE — an independent construction of the
    same pick."""
    from alternating_least_squares_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", ts="ts_us", direction="nearest"
    )


SQL_J05 = """
WITH c AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
bw AS (
  SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS bts, p.value AS bv
  FROM c ASOF LEFT JOIN p
    ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
),
fw AS (
  SELECT c.event_id, p.ts_us AS fts, p.value AS fv
  FROM c ASOF LEFT JOIN p
    ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
)
SELECT bw.event_id, bw.user_id, bw.ts_us,
       CASE WHEN bts IS NOT NULL
                  AND (fts IS NULL OR bw.ts_us - bts <= fts - bw.ts_us)
            THEN bts ELSE fts END AS ts_us_asof,
       CASE WHEN bts IS NOT NULL
                  AND (fts IS NULL OR bw.ts_us - bts <= fts - bw.ts_us)
            THEN bv ELSE fv END AS value_asof
FROM bw JOIN fw USING (event_id)
"""


E19_HOLD_US = 30 * 60 * 1_000_000  # each event holds a 30-min interval


def q_e19_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing — merge-overlapping-intervals, the missing
    third of the interval algebra (j03 JOINS intervals across tables,
    e10 measures gaps between POINT events; nothing unioned a set of
    intervals into its minimal disjoint cover): each event holds a
    30-minute interval, and per user the overlapping holds merge into
    islands — the availability/occupancy primitive (calendar busy
    blocks, machine utilization, session cover). Output: one row per
    merged interval with its event count and the idle gap before it
    (NULL for the user's first island) — the complement (free time)
    is exactly the gap column.

    The classic sweep, all in compiled window functions: running
    max(end) over preceding rows detects island starts (an interval
    starting after everything seen so far ended), a running sum of
    the starts numbers the islands, one aggregation folds each island
    to (min start, max end, count), and one lag computes the idle
    gap. Exact integer microseconds everywhere; ties in start order
    are harmless (equal starts share the fixed hold width, so the
    running max is tie-order independent). Scale: every pass keys on
    user_id — Spark's window-subset rule runs the whole chain on ONE
    exchange, the e03/c16 single-exchange discipline."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # integer DIV, never float division: epoch-ns longs exceed
        # 2^53, so a double round-trip would corrupt the low digits
        F.expr("ts_ns DIV 1000").alias("s_us"),
    )
    ev = ev.withColumn("e_us", F.col("s_us") + E19_HOLD_US)
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "user_id",
        "s_us",
        "e_us",
        F.when(
            F.col("s_us") > F.coalesce(
                F.max("e_us").over(w_prev), F.lit(-(1 << 62))
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    ).withColumn("island", F.sum("_new").over(w_run))
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s_us").alias("start_us"),
        F.max("e_us").alias("end_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w_gap = Window.partitionBy("user_id").orderBy("start_us")
    return islands.select(
        "user_id",
        "start_us",
        "end_us",
        "n_events",
        (F.col("start_us") - F.lag("end_us").over(w_gap)).alias(
            "idle_before_us"
        ),
    )


SQL_E19 = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + {E19_HOLD_US} AS e_us
  FROM events
),
marked AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > coalesce(max(e_us) OVER (
                PARTITION BY user_id ORDER BY s_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                {-(1 << 62)})
              THEN 1 ELSE 0 END AS new_island
  FROM ev
),
numbered AS (
  SELECT user_id, s_us, e_us,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked
),
islands AS (
  SELECT user_id, island,
         MIN(s_us) AS start_us, MAX(e_us) AS end_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, start_us, end_us, n_events,
       start_us - lag(end_us) OVER (
         PARTITION BY user_id ORDER BY start_us) AS idle_before_us
FROM islands
"""


E20_HORIZON_NS = 24 * 3600 * 1_000_000_000  # 24 h attribution window


def q_e20_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch marketing attribution — for every purchase, the
    most recent PRECEDING touch by the same user inside a 24 h
    horizon, clicks outranking views (the standard last-click-else-
    last-view waterfall behind channel revenue rollups): one row per
    purchase with the attribution class, the touch event id, the
    exact gap in ns, and the purchase value in micro-units.

    Shape: the whole waterfall rides ONE user-keyed exchange (the
    w-family window-subset rule) — two ``last(..., ignorenulls)``
    carries over ROWS UNBOUNDED PRECEDING..1 PRECEDING (one per touch
    class, each carrying a (ts_ns, event_id) struct so the tie-break
    travels with the timestamp), then pure row-local horizon/waterfall
    arithmetic. No join: an as-of join against two filtered touch
    streams (the j01 shape) would pay two more shuffles for the same
    answer. Exact-integer discipline: gaps are ns longs, value floors
    to micro-units (NaN → NULL, the w08 nanvl rule), ordering is the
    (ts_ns, event_id) total order so ties cannot flap engines.
    At 100 TB: one hash exchange on user_id, state bounded per row."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts_ns",
        "event_type",
        F.nanvl(F.col("value"), F.lit(None).cast("double")).alias("_v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def last_touch(kind: str):
        return F.last(
            F.when(
                F.col("event_type") == kind,
                F.struct(
                    F.col("ts_ns").alias("ts"),
                    F.col("event_id").alias("id"),
                ),
            ),
            ignorenulls=True,
        ).over(w)

    carried = ev.select(
        "event_id",
        "user_id",
        "ts_ns",
        "event_type",
        "_v",
        last_touch("click").alias("_c"),
        last_touch("view").alias("_w"),
    ).filter(F.col("event_type") == "purchase")
    c_ok = F.col("_c").isNotNull() & (
        F.col("ts_ns") - F.col("_c.ts") <= E20_HORIZON_NS
    )
    w_ok = F.col("_w").isNotNull() & (
        F.col("ts_ns") - F.col("_w.ts") <= E20_HORIZON_NS
    )
    return carried.select(
        "event_id",
        "user_id",
        F.when(c_ok, F.lit("click"))
        .when(w_ok, F.lit("view"))
        .otherwise(F.lit("organic"))
        .alias("attributed"),
        F.when(c_ok, F.col("_c.id"))
        .when(w_ok, F.col("_w.id"))
        .alias("touch_event_id"),
        F.when(c_ok, F.col("ts_ns") - F.col("_c.ts"))
        .when(w_ok, F.col("ts_ns") - F.col("_w.ts"))
        .alias("gap_ns"),
        F.when(
            F.col("_v").isNotNull(),
            F.floor(F.col("_v") * 1_000_000).cast("long"),
        ).alias("value_micros"),
    )


SQL_E20 = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type,
         CASE WHEN isnan(value) THEN NULL ELSE value END AS v
  FROM events
),
carried AS (
  SELECT event_id, user_id, ts_ns, event_type, v,
         last_value(CASE WHEN event_type = 'click' THEN
             struct_pack(ts := ts_ns, id := event_id) END IGNORE NULLS)
           OVER w AS c,
         last_value(CASE WHEN event_type = 'view' THEN
             struct_pack(ts := ts_ns, id := event_id) END IGNORE NULLS)
           OVER w AS w
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       CASE WHEN c.ts IS NOT NULL AND ts_ns - c.ts <= {E20_HORIZON_NS}
            THEN 'click'
            WHEN w.ts IS NOT NULL AND ts_ns - w.ts <= {E20_HORIZON_NS}
            THEN 'view'
            ELSE 'organic' END AS attributed,
       CASE WHEN c.ts IS NOT NULL AND ts_ns - c.ts <= {E20_HORIZON_NS}
            THEN c.id
            WHEN w.ts IS NOT NULL AND ts_ns - w.ts <= {E20_HORIZON_NS}
            THEN w.id END AS touch_event_id,
       CASE WHEN c.ts IS NOT NULL AND ts_ns - c.ts <= {E20_HORIZON_NS}
            THEN ts_ns - c.ts
            WHEN w.ts IS NOT NULL AND ts_ns - w.ts <= {E20_HORIZON_NS}
            THEN ts_ns - w.ts END AS gap_ns,
       CASE WHEN v IS NOT NULL
            THEN CAST(floor(v * 1000000) AS BIGINT) END AS value_micros
FROM carried
WHERE event_type = 'purchase'
"""


E21_WEEK_NS = 7 * 86_400 * 1_000_000_000


def q_e21_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the growth-accounting staple next
    to e11 (trailing WAU) and e14 (cumulative users): users cohorted
    by their FIRST active epoch-week, then for every (cohort_week,
    week_offset) the count of that cohort's users active offset weeks
    later, the cohort size, and retention in integer ppm.

    Shape (two data-bearing exchanges — user-keyed, then the
    key-grain (cohort, offset) count; the third hash partition in the
    plan moves only the ≤weeks² triangle for the cohort-size window —
    and never a self-join): ONE user-keyed
    aggregation collects each user's distinct active weeks
    (collect_set dedupes map-side; its size is bounded by the
    CALENDAR span, not by event volume), the user's cohort is
    array_min of that set (so the offset-0 row exists by
    construction and cohort_size is well-defined), and a generator
    explode emits (cohort, offset) rows — at most users×weeks, the
    already-reduced grain. The second exchange is the (cohort,
    offset) count. Cohort size rides a window over the TRIANGLE
    (≤ weeks² rows, trivially small at any corpus scale), and
    retention_ppm = n_active·10⁶ DIV cohort_size is exact integer
    arithmetic — no float division to flap the hash. The naive
    formulation (activity ⋈ first-activity self-join) pays a third
    full-volume shuffle for the same answer."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(_floor_div("ts_ns", E21_WEEK_NS)).alias("week")
    )
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("week").alias("weeks")
    )
    cohorted = per_user.select(
        F.array_min("weeks").alias("cohort_week"),
        F.explode("weeks").alias("week"),
    )
    tri = cohorted.groupBy(
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("week_offset"),
    ).agg(F.count("*").cast("long").alias("n_active"))
    w = Window.partitionBy("cohort_week")
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(w)
    return tri.select(
        "cohort_week",
        "week_offset",
        "n_active",
        size.alias("cohort_size"),
        F.expr(
            "CAST(n_active * 1000000 AS BIGINT) DIV "
            "CAST(cohort_size AS BIGINT)"
        ).alias("retention_ppm"),
    ).withColumn("cohort_size", F.col("cohort_size").cast("long"))


SQL_E21 = f"""
WITH e AS (
  SELECT DISTINCT user_id,
         {_floor_div_duck('epoch_ns(ts)', 7 * 86_400 * 1_000_000_000)}
           AS week
  FROM events
),
c AS (
  SELECT user_id, MIN(week) OVER (PARTITION BY user_id) AS cohort_week,
         week
  FROM e
),
tri AS (
  SELECT cohort_week, week - cohort_week AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM c GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
       CAST(n_active * 1000000 //
            MAX(CASE WHEN week_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_week) AS BIGINT) AS retention_ppm
FROM tri
"""


def q_e10_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-time profile: count / min / max / mean of
    the gaps between consecutive events — the cadence feature behind
    session modeling and bot detection. One window pass (lag over the
    user partition) + one keyed aggregation. Deterministic: gaps are
    exact ns longs whatever order ties land in (the sorted multiset of
    timestamps is unique), sums are exact long sums, and the mean is
    one double division on identically-rounded casts."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns")
    gaps = (
        ev.select("user_id", "ts_ns")
        .withColumn("gap", F.col("ts_ns") - F.lag("ts_ns").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap").alias("min_gap_ns"),
        F.max("gap").alias("max_gap_ns"),
        (F.sum("gap").cast("double") / F.count("*").cast("double")).alias(
            "avg_gap_ns"
        ),
    )


SQL_E10 = """
WITH g AS (
  SELECT user_id,
         epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
                                                ORDER BY epoch_ns(ts)) AS gap
  FROM events
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap) AS BIGINT) AS min_gap_ns,
       CAST(MAX(gap) AS BIGINT) AS max_gap_ns,
       CAST(CAST(SUM(gap) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_gap_ns
FROM g WHERE gap IS NOT NULL GROUP BY 1
"""


def q_q02_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity gate
    (functions/quality.foreign_key — the expectation q01's single-pass
    runner can't express): orphan counts for every FK edge of the
    schema plus the events→customer edge. Each check is one anti-join
    (NULL child keys never violate, per SQL FK semantics); the report
    unions into the same (constraint, n_violations, passed) shape as
    q01. Oracle: NOT EXISTS scalar counts."""
    from alternating_least_squares_spark.functions import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    checks = [
        Q.foreign_key(li, "l_orderkey", orders, "o_orderkey"),
        Q.foreign_key(li, "l_partkey", part, "p_partkey"),
        Q.foreign_key(li, "l_suppkey", supplier, "s_suppkey"),
        Q.foreign_key(orders, "o_custkey", customer, "c_custkey"),
        Q.foreign_key(ev, "user_id", customer, "c_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def _q02_oracle() -> str:
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]
    parts = []
    for child, ck, parent, pk in edges:
        parts.append(
            f"SELECT 'foreign_key({ck}->{pk})' AS constraint, "
            f"CAST((SELECT COUNT(*) FROM {child} c "
            f"WHERE c.{ck} IS NOT NULL AND NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})) AS BIGINT) "
            f"AS n_violations, "
            f"(SELECT COUNT(*) FROM {child} c WHERE c.{ck} IS NOT NULL "
            f"AND NOT EXISTS (SELECT 1 FROM {parent} p "
            f"WHERE p.{pk} = c.{ck})) = 0 AS passed"
        )
    return "\nUNION ALL\n".join(parts)


SQL_Q02 = _q02_oracle()


def _part_hierarchy(spark: SparkSession, sf_dir: str):
    """Synthetic forest over the part table: ``parent(k) = k DIV 10``
    for k ≥ 10, roots 0–9 (p_partkey is contiguous 0..N−1 at every SF,
    so every parent row exists). Depth grows with log₁₀(SF·20000) —
    deep enough to exercise >1 doubling round."""
    part = load_table(spark, sf_dir, "part")
    nodes = part.select(F.col("p_partkey").alias("id"))
    edges = part.filter(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey DIV 10").alias("parent"),
    )
    return part, nodes, edges


def q_rc01_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive subtree rollup (the WITH RECURSIVE warehouse shape):
    per node, descendant count and Σ p_size over its whole subtree,
    self included. Computed by the exponential-doubling transitive
    closure in ``operators/hierarchy.py`` (⌈log₂ depth⌉ keyed
    shuffles) — Spark 4 does have a native recursive CTE now (one
    round per LEVEL; certified separately by rc05), but the doubling
    closure stays the scale path for deep chains."""
    part, nodes, edges = _part_hierarchy(spark, sf_dir)
    values = part.select(
        F.col("p_partkey").alias("id"), F.col("p_size").alias("val")
    )
    return H.subtree_rollup(nodes, edges, values)


SQL_RC01 = """
WITH RECURSIVE cl AS (
  SELECT p_partkey AS anc, p_partkey AS des FROM part
  UNION ALL
  SELECT cl.anc, p.p_partkey
  FROM cl JOIN part p ON p.p_partkey >= 10 AND (p.p_partkey // 10) = cl.des
)
SELECT cl.anc AS node, CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(SUM(v.p_size) AS BIGINT) AS subtree_val
FROM cl JOIN part v ON v.p_partkey = cl.des
GROUP BY 1
"""


def q_rc02_node_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root/depth resolution over the same forest: each node's root
    ancestor (nodes 0–9) and its distance from it, via the doubling
    closure joined to the no-incoming-edge roots."""
    _, nodes, edges = _part_hierarchy(spark, sf_dir)
    return H.node_depth(nodes, edges).withColumn(
        "depth", F.col("depth").cast("long")
    )


SQL_RC02 = """
WITH RECURSIVE up AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
  UNION ALL
  SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10
)
SELECT node, cur AS root, CAST(depth AS BIGINT) AS depth
FROM up WHERE cur < 10
"""


def q_rc05_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE recursive CTE (SPARK-24497, GA since 4.0 — the
    UnionLoop physical operator) over the same part forest as
    rc01–rc04: walk every node to its root, then profile each tree
    (node count, max depth, Σ p_size). rc01/rc02 deliberately keep the
    exponential-doubling closure from ``operators/hierarchy.py`` —
    ⌈log₂ depth⌉ keyed shuffles, the right shape for DEEP chains —
    while this entry certifies the engine-native path: one union
    round per LEVEL, linear in depth, the simpler plan for shallow
    warehouse forests like this one (depth ≈ log₁₀|part|). Guarded by
    ``spark.sql.cteRecursionLevelLimit`` (default 100 ≫ the ~6 levels
    here). Oracle: the identical WITH RECURSIVE in DuckDB (dialect
    delta: ``DIV`` vs ``//``). tests pin rc05's per-root profile
    against an aggregation of rc02's doubling-closure output, so the
    two recursion strategies certify each other."""
    part = load_table(spark, sf_dir, "part")
    part.select("p_partkey", "p_size").createOrReplaceTempView(
        "_rc05_part"
    )
    return spark.sql("""
WITH RECURSIVE up AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth
  FROM _rc05_part
  UNION ALL
  SELECT node, cur DIV 10, depth + 1 FROM up WHERE cur >= 10
)
SELECT up.cur AS root,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(up.depth) AS BIGINT) AS max_depth,
       CAST(SUM(v.p_size) AS BIGINT) AS tree_size
FROM up JOIN _rc05_part v ON v.p_partkey = up.node
WHERE up.cur < 10
GROUP BY up.cur
""")


SQL_RC05 = """
WITH RECURSIVE up AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
  UNION ALL
  SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10
)
SELECT up.cur AS root,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(up.depth) AS BIGINT) AS max_depth,
       CAST(SUM(v.p_size) AS BIGINT) AS tree_size
FROM up JOIN part v ON v.p_partkey = up.node
WHERE up.cur < 10
GROUP BY up.cur
"""


def q_e12_daily_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group (the max_by shape) with DETERMINISTIC ties:
    per day, the event type with the most events. Bare ``max_by`` tie
    winners are engine/partition-order arbitrary — hash poison — so
    the argmax rides a struct max: ``max(struct(n, event_type))``
    compares count then type lexicographically, one aggregation, no
    window. Oracle: row_number ORDER BY n DESC, type DESC."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy(
        F.expr(_floor_div("ts_ns", day_ns)).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    top = cnt.groupBy("day").agg(
        F.max(F.struct(F.col("n"), F.col("event_type"))).alias("m")
    )
    return top.select(
        "day", F.col("m.n").alias("n"), F.col("m.event_type").alias("top_type")
    )


SQL_E12 = f"""
WITH c AS (
  SELECT {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT day, event_type, n,
         row_number() OVER (PARTITION BY day
                            ORDER BY n DESC, event_type DESC) AS rn
  FROM c
)
SELECT day, CAST(n AS BIGINT) AS n, event_type AS top_type
FROM r WHERE rn = 1
"""


def q_w07_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` operator in batch mode —
    e03 builds sessions with the gaps-and-islands window algebra;
    this entry exercises the engine's built-in merging-session
    aggregate (the one that also powers streaming session state) and
    hash-proves it against the islands SQL. Semantics pinned by the
    oracle: a gap of exactly 30 min STARTS a new session (window end
    is exclusive: last_event + gap). µs-integer session bounds for
    cross-engine parity."""
    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_micros(F.expr("ts_ns DIV 1000")).alias("tts"),
    )
    agg = ev.groupBy(
        "user_id", F.session_window("tts", "30 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return agg.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
    )


SQL_W07 = """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
m AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, CAST(MIN(us) AS BIGINT) AS session_start_us,
       CAST(MAX(us) + 1800000000 AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_x13_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — x10's static cousin and the other
    half of the partitioning story at 100 TB: the pruning predicate is
    not known until runtime because it comes from a FILTERED DIM TABLE
    (a parquet scan Catalyst cannot constant-fold through). Spark
    plans a dynamicpruning subquery on the fact scan: the dim side
    runs first, its day set is broadcast, and only matching partition
    directories of the fact table are listed/read. The plan shape
    (dynamicpruning expression in PartitionFilters) is asserted in
    tests/test_storage.py; this entry hash-proves the result equals
    the plain predicate the oracle runs."""
    from alternating_least_squares_spark.sources import catalog

    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.expr(_floor_div("ts_ns", day_ns)).alias("day"),
    )
    # keyed by sf_dir like the ac* scratch builders (ADVICE r5): a
    # lazily-held DataFrame from one SF must not read files
    # overwritten by a later invocation at another SF
    sf_key = sf_dir.strip("/").replace("/", "_")
    fact_path = _scratch_path("alternating_ls_dpp", sf_key, "fact")
    dim_path = _scratch_path("alternating_ls_dpp", sf_key, "dim")
    catalog.write_parquet(ev, fact_path, partition_by=["day"])
    catalog.write_parquet(ev.select("day").distinct(), dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("day") % 3 == 0)
    return (
        fact.join(dim, "day")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"),
                6,
            ).alias("total_value"),
        )
    )


SQL_X13 = f"""
WITH e AS (
  SELECT event_type, value,
         {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       round(CAST(SUM(CAST(value AS DECIMAL(38, 10))) AS DOUBLE), 6)
         AS total_value
FROM e WHERE day % 3 = 0
GROUP BY 1
"""


def q_mm04_resize_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Resize" plumbing (functions/multimodal.resize_stride): keep
    every 4th payload byte — the deterministic stand-in for image
    downsampling, completing the multimodal checklist (decode stub /
    features mm01 / RESIZE / frame-sample mm02). 1:1 Arrow-batched
    mapInPandas; the oracle rebuilds the strided bytes with
    string_agg(substring) ORDER BY and md5-compares."""
    from alternating_least_squares_spark.functions.multimodal import (
        resize_stride,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_stride(docs, stride=4)


SQL_MM04 = """
WITH px AS (
  SELECT doc_id, length(text) AS n_bytes, i,
         substring(text, CAST(i + 1 AS BIGINT), 1) AS ch
  FROM documents, UNNEST(range(0, length(text), 4)) AS t(i)
  WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS resized_bytes,
       md5(string_agg(ch, '' ORDER BY i)) AS resized_md5
FROM px GROUP BY 1, 2
"""


def q_j06_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct dimension join — the feature-store
    pattern that keeps training data leak-free: each fact (order)
    joined to the dimension state VALID AT its own timestamp, never
    the current state. Composition of two registered operators: the
    c16 SCD2 history ∘ a backward as-of join on interval starts
    (the latest ``valid_from ≤ fact_ts`` IS the containing interval,
    since intervals partition each key's timeline). The oracle joins
    the same history by explicit interval containment — two different
    formulations of PIT, hash-compared."""
    from alternating_least_squares_spark.operators.asof import asof_join

    hist = q_c16_scd2(spark, sf_dir).select(
        F.col("custkey"),
        F.col("valid_from").alias("ts"),
        "priority",
    )
    facts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
    )
    out = asof_join(facts, hist, key="custkey", ts="ts")
    return out.select(
        "o_orderkey",
        F.col("custkey").alias("o_custkey"),
        F.col("priority_asof").alias("priority_at_order"),
    )


SQL_J06 = """
WITH latest AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
seq AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate) AS prev
  FROM latest WHERE rn = 1
),
chg AS (
  SELECT o_custkey, o_orderdate, o_orderpriority FROM seq
  WHERE prev IS NULL OR prev <> o_orderpriority
),
h AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate) AS valid_to
  FROM chg
)
SELECT f.o_orderkey, f.o_custkey, h.priority AS priority_at_order
FROM orders f JOIN h ON h.custkey = f.o_custkey
 AND f.o_orderdate >= h.valid_from
 AND (h.valid_to IS NULL OR f.o_orderdate < h.valid_to)
"""


def q_j07_abandoned_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ANTI-join — the absence detector the j-family's
    presence joins can't express: clicks with NO purchase by the same
    user within the following hour (cart abandonment / churn-signal
    shape). Scale formulation: purchases explode to the ≤2 hour bins
    a click's horizon can span, the bin+user equi-join finds candidate
    follow-ups (never a full interval nested-loop), the exact interval
    predicate filters, and one distinct+broadcast anti-join removes
    answered clicks. The oracle states the same thing declaratively
    as NOT EXISTS over the raw interval."""
    hour_ns = 3_600_000_000_000
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts_ns").alias("cts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ns").alias("pts")
    )
    pbins = purchases.select(
        "user_id",
        "pts",
        F.explode(
            F.array(
                F.expr(_floor_div("pts", hour_ns)),
                F.expr(_floor_div("pts", hour_ns)) - 1,
            )
        ).alias("bin"),
    )
    answered = (
        clicks.withColumn("bin", F.expr(_floor_div("cts", hour_ns)))
        .join(pbins, ["user_id", "bin"])
        .filter(
            (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + hour_ns)
        )
        .select("event_id")
        .distinct()
    )
    # answered is O(clicks) — corpus-sized, so the anti-join shuffles
    # on event_id (no broadcast; contrast d09's batch-bounded rejected)
    return clicks.join(answered, "event_id", "left_anti").select(
        "event_id",
        "user_id",
        F.expr(_floor_div("cts", 1000)).alias("click_ts_us"),
    )


SQL_J07 = """
SELECT c.event_id, c.user_id,
       CAST(epoch_ns(c.ts) // 1000 AS BIGINT) AS click_ts_us
FROM events c
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
      AND epoch_ns(p.ts) > epoch_ns(c.ts)
      AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 3600000000000
  )
"""


def _scd2_history(
    orders: DataFrame, attr: str, out: str
) -> DataFrame:
    """The c16 SCD2 build, parameterized by attribute: latest value
    per (custkey, orderdate), runs coalesced, [valid_from, valid_to)
    with NULL on the open row. Used by j08 to derive two independent
    histories from one change feed."""
    w_day = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    latest = (
        orders.withColumn("_rn", F.row_number().over(w_day))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", attr)
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    changes = latest.withColumn(
        "_prev", F.lag(attr).over(w_seq)
    ).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col(attr).alias(out),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w_seq).alias("valid_to"),
    )


def q_j08_scd2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal SCD2 × SCD2 validity-intersection join
    (operators/relational.scd2_intersect_join) — the warehouse
    conformance question c16 sets up: two independently-maintained
    histories of the same business key (here a customer's priority
    tier and order status, both derived from the orders change feed
    by the c16 build) joined into "which (priority, status)
    COMBINATION was true, and over exactly which window". One
    equi-join on the key with NULL-aware interval intersection
    (valid_to NULL = still open; intersected bounds via
    greatest/least with NULL as +∞); empty intersections dropped.
    Per-key histories are short by construction (slices, not
    events), so the join fan-out is bounded without range binning —
    contrast j03, where no equi-key exists and bins must carry the
    selectivity."""
    from alternating_least_squares_spark.operators.relational import (
        scd2_intersect_join,
    )

    orders = load_table(spark, sf_dir, "orders").repartition("o_custkey")
    pr = _scd2_history(orders, "o_orderpriority", "priority")
    st = _scd2_history(orders, "o_orderstatus", "status")
    return scd2_intersect_join(pr, st, "custkey")


SQL_J08 = """
WITH latest_p AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
seq_p AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate) AS prev
  FROM latest_p WHERE rn = 1
),
hist_p AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate) AS valid_to
  FROM seq_p WHERE prev IS NULL OR prev <> o_orderpriority
),
latest_s AS (
  SELECT o_custkey, o_orderdate, o_orderstatus,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
seq_s AS (
  SELECT o_custkey, o_orderdate, o_orderstatus,
         lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate) AS prev
  FROM latest_s WHERE rn = 1
),
hist_s AS (
  SELECT o_custkey AS custkey, o_orderstatus AS status,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate) AS valid_to
  FROM seq_s WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT p.custkey, p.priority, s.status,
       greatest(p.valid_from, s.valid_from) AS valid_from,
       CASE WHEN p.valid_to IS NULL THEN s.valid_to
            WHEN s.valid_to IS NULL THEN p.valid_to
            ELSE least(p.valid_to, s.valid_to) END AS valid_to
FROM hist_p p JOIN hist_s s USING (custkey)
WHERE (CASE WHEN p.valid_to IS NULL THEN s.valid_to
            WHEN s.valid_to IS NULL THEN p.valid_to
            ELSE least(p.valid_to, s.valid_to) END) IS NULL
   OR greatest(p.valid_from, s.valid_from) <
      (CASE WHEN p.valid_to IS NULL THEN s.valid_to
            WHEN s.valid_to IS NULL THEN p.valid_to
            ELSE least(p.valid_to, s.valid_to) END)
"""


def q_x14_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the batch analog of
    st09's incremental ingest: the MV is maintained by MERGING partial
    aggregates from independent batches (n = Σnᵢ, sum = Σsumᵢ — the
    algebraic decomposition every distributive agg admits) instead of
    recomputing from all history. Two deterministic half-batches
    (event_id parity) are aggregated separately and merged; the oracle
    aggregates the full table directly, so the hash proves
    partial-merge == full recompute. Values ride integer micros so the
    merge is exact in any order. At 100 TB this is the nightly-refresh
    pattern: touch only the new partition's partials."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr(_floor_div("ts_ns", day_ns)).alias("day"),
        F.floor(F.col("value") * F.lit(1e6)).alias("v_us"),
    )

    def partial(batch):
        return batch.groupBy("day", "event_type").agg(
            F.count("*").alias("n"), F.sum("v_us").alias("sum_us")
        )

    p1 = partial(ev.filter(F.col("event_id") % 2 == 0))
    p2 = partial(ev.filter(F.col("event_id") % 2 == 1))
    return (
        p1.unionByName(p2)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_us").alias("sum_us"),
        )
    )


SQL_X14 = f"""
SELECT {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_us
FROM events
GROUP BY 1, 2
"""


def q_gr02_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part→supplier graph — the first
    diagnostic run on any graph before committing to an algorithm
    (hub detection, skew planning for gr01's joins). Two keyed
    aggregations per side; exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    ).distinct()
    out_p = (
        e.groupBy("src").agg(F.count("*").alias("degree"))
        .groupBy("degree").agg(F.count("*").alias("n_nodes"))
        .select(F.lit("out").alias("side"), "degree", "n_nodes")
    )
    in_p = (
        e.groupBy("dst").agg(F.count("*").alias("degree"))
        .groupBy("degree").agg(F.count("*").alias("n_nodes"))
        .select(F.lit("in").alias("side"), "degree", "n_nodes")
    )
    return out_p.unionByName(in_p)


SQL_GR02 = """
WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
o AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1),
i AS (SELECT dst, COUNT(*) AS degree FROM e GROUP BY 1)
SELECT 'out' AS side, CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM o GROUP BY 2
UNION ALL
SELECT 'in', CAST(degree AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM i GROUP BY 2
"""


def q_t20_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level LINE dedup (the RefinedWeb/CCNet boilerplate
    remover, distinct from whole-doc dedup): sentences appearing in
    ≥ 10 DISTINCT documents are dropped from every document, and each
    document is REASSEMBLED from its surviving sentences in original
    order. Two corpus passes: sentence counts (vocab-sized result,
    broadcast back) and the rebuild; reassembly sorts INSIDE the
    aggregation (array_sort over (pos, …) structs — the t14/rc04
    repartition-can't-flip-order lesson) so the output md5 is
    deterministic at any parallelism.

    The synthetic corpus has no cross-doc boilerplate, so a fixed
    disclaimer sentence is planted onto doc_id < 100 (period-joined,
    both engines): those 100 docs MUST lose exactly that sentence —
    n_kept, n_dropped, and the reassembled md5 all hash-check the
    filter AND the order-stable rebuild at every sf."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") < 100,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(". Standard disclaimer applies to document."),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    parts = (
        spread_if_narrow(docs, "doc_id").select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"[.!?]+")).alias(
                "pos", "raw"
            ),
        )
        .withColumn("sent", F.regexp_replace("raw", r"^\s+|\s+$", ""))
        .filter(F.col("sent") != "")
        .select("doc_id", "pos", "sent")
    )
    common = (
        parts.groupBy("sent")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 10)
        .select("sent")
    )
    # keep flag via one broadcast left join (a semi+anti pair would
    # scan/shuffle the sentence stream twice)
    joined = parts.join(
        F.broadcast(common.withColumn("_drop", F.lit(True))), "sent", "left"
    ).select(
        "doc_id", "pos", "sent",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )
    agg = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_sents"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("pos").alias("p"),
                    F.col("keep").alias("k"),
                    F.col("sent").alias("s"),
                )
            )
        ).alias("arr"),
    )
    clean = F.array_join(
        F.transform(
            F.filter("arr", lambda x: x["k"]), lambda x: x["s"]
        ),
        ". ",
    )
    return agg.select(
        "doc_id",
        "n_sents",
        "n_kept",
        (F.col("n_sents") - F.col("n_kept")).alias("n_dropped"),
        F.md5(clean).alias("clean_md5"),
    )


SQL_T20 = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id < 100
              THEN coalesce(text, '')
                   || '. Standard disclaimer applies to document.'
              ELSE text END AS text
  FROM documents
),
s AS (
  SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts
  FROM d WHERE text IS NOT NULL
),
x AS (
  SELECT doc_id, i AS pos,
         regexp_replace(parts[i + 1], '^\\s+|\\s+$', '', 'g') AS sent
  FROM s, UNNEST(range(len(parts))) t(i)
),
xx AS (SELECT * FROM x WHERE sent <> ''),
c AS (
  SELECT sent FROM xx GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10
)
SELECT xx.doc_id,
       count(*) AS n_sents,
       CAST(sum(CASE WHEN c.sent IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN c.sent IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN c.sent IS NULL THEN xx.sent END,
                               '. ' ORDER BY xx.pos), ''))
         AS clean_md5
FROM xx LEFT JOIN c ON c.sent = xx.sent
GROUP BY 1
"""


GR03_MAX_DEGREE = 180  # fires on the top ~1% of co-purchase vertices
# at both tested SFs (degree p99≈171/182, max 206/222 at sf0.01/0.1),
# so the hub-guard drop path is exercised — and hash-checked, because
# the oracle replicates the cap exactly.


def q_gr03_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the part co-purchase graph
    (parts appearing in the same order) — the graph staple behind
    clustering coefficients and community seeds. Distributed shape
    (operators/graph.triangle_counts): oriented distinct edges →
    per-edge common-neighbor intersection over adjacency arrays
    (|E|-row joins + codegen array_intersect; the Σ out·in wedge
    ROWS are never materialized or shuffled — measured 2× over the
    wedge-join form at sf0.1), with ``n_tri(v) = Σ t(v,·) DIV 2``
    exact in integers. ``max_degree`` (VERDICT r6 #6) drops
    celebrity-SKU hubs up front, bounding both the quadratic
    intersect work (|V|·cap²) and every adjacency array (≤ cap
    elements) — the guard a 100× co-purchase graph needs, exercised
    live here (the cap fires on ~1% of vertices at both SFs) and
    replicated in the oracle so the drop semantics are hash-proved.
    Edge building is the order-bounded self-join (≤ order size per
    key, same bound as m04's baskets)."""
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
    )

    return triangle_counts(
        _copurchase_edges(spark, sf_dir), max_degree=GR03_MAX_DEGREE
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct oriented part co-purchase edges (a < b): parts
    appearing in the same order, via the order-bounded self-join
    (≤ order size per key, same bound as m04's baskets). Shared by
    gr03 and gr04."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r18: basket-form pair generation — see _basket_pairs (one
    # exchange fewer than the self-join spelling, identical pair set)
    return _basket_pairs(li).distinct()


SQL_GR03 = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
hub AS (
  SELECT v FROM (
    SELECT v, count(*) AS deg
    FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
    GROUP BY 1
  ) WHERE deg > {GR03_MAX_DEGREE}
),
e AS (
  SELECT a, b FROM e0
  WHERE a NOT IN (SELECT v FROM hub) AND b NOT IN (SELECT v FROM hub)
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
v AS (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM v GROUP BY 1
"""


def q_gr04_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood similarity on the part co-purchase graph
    (operators/graph.edge_neighborhood_scores): embeddedness
    ``common = |N(a)∩N(b)|`` and neighborhood Jaccard per edge — the
    common-neighbors link score behind tie-strength pruning and
    link prediction. Rides gr03's degree-ordered machinery (√(2|E|)
    array bound, size-gated broadcast), attributing each
    once-found triangle to all three of its edges, so common-neighbor
    counts never touch full undirected neighborhoods; the oracle
    recomputes them from the three-way wedge join plus degree
    arithmetic."""
    from alternating_least_squares_spark.operators.graph import (
        edge_neighborhood_scores,
    )

    return edge_neighborhood_scores(
        _copurchase_edges(spark, sf_dir), max_degree=GR03_MAX_DEGREE
    )


SQL_GR04 = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
hub AS (
  SELECT v FROM (
    SELECT v, count(*) AS deg
    FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
    GROUP BY 1
  ) WHERE deg > {GR03_MAX_DEGREE}
),
e AS (
  SELECT a, b FROM e0
  WHERE a NOT IN (SELECT v FROM hub) AND b NOT IN (SELECT v FROM hub)
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
cnt AS (
  SELECT a, b, count(*) AS c FROM (
    SELECT a, b FROM tri
    UNION ALL SELECT a, c FROM tri
    UNION ALL SELECT b, c FROM tri
  ) GROUP BY 1, 2
),
deg AS (
  SELECT v, count(*) AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1
)
SELECT e.a, e.b, CAST(coalesce(cnt.c, 0) AS BIGINT) AS common,
       round(coalesce(cnt.c, 0) / (da.d + db.d - coalesce(cnt.c, 0)), 6)
         AS jaccard
FROM e
LEFT JOIN cnt ON cnt.a = e.a AND cnt.b = e.b
JOIN deg da ON da.v = e.a
JOIN deg db ON db.v = e.b
"""


def q_gr07_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the part co-purchase graph
    (operators/graph.clustering_coefficients) — cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) for every vertex with post-cap degree ≥ 2,
    0.0 when triangle-free. Completes the gr03/gr04 triangle
    statistics (per-vertex counts, per-edge embeddedness, per-vertex
    density) on the same degree-ordered machinery and the same
    max_degree hub semantics; one extra left join over gr03's plan.
    The oracle recomputes triangles from the three-way wedge join
    and the coefficient from post-cap degree arithmetic."""
    from alternating_least_squares_spark.operators.graph import (
        clustering_coefficients,
    )

    return clustering_coefficients(
        _copurchase_edges(spark, sf_dir), max_degree=GR03_MAX_DEGREE
    ).select(
        F.col("vertex").alias("part"),
        "degree",
        "n_triangles",
        "clustering_coeff",
    )


SQL_GR07 = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
hub AS (
  SELECT v FROM (
    SELECT v, count(*) AS deg
    FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
    GROUP BY 1
  ) WHERE deg > {GR03_MAX_DEGREE}
),
e AS (
  SELECT a, b FROM e0
  WHERE a NOT IN (SELECT v FROM hub) AND b NOT IN (SELECT v FROM hub)
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
cnt AS (
  SELECT part, count(*) AS n FROM (
    SELECT a AS part FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
),
deg AS (
  SELECT v, count(*) AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1
)
SELECT deg.v AS part,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles,
       round(2.0 * coalesce(cnt.n, 0) / (deg.d * (deg.d - 1)), 6)
         AS clustering_coeff
FROM deg LEFT JOIN cnt ON cnt.part = deg.v
WHERE deg.d >= 2
"""


GR05_K = 3
GR05_ROUNDS = 12
GR05_MIN_SUPPORT = 2


def _basket_pairs(
    df: DataFrame, key: str = "l_orderkey", item: str = "l_partkey"
) -> DataFrame:
    """Per-key item pairs ``(a, b)`` with a < b, in BASKET form: one
    ``groupBy(key).collect_set`` + two narrow generators, replacing
    the self-equi-join spelling (guide §2.4 — the join costs an extra
    exchange of the full item stream plus two sort-merge sorts; the
    basket form's only exchange is the key groupBy, and collect_set
    dedups within key so no pre-``distinct`` pass is needed either).
    Pair multiset is identical: per key, all unordered pairs of the
    key's distinct items, once each. Fan-out per basket row is
    bounded by basket size exactly as the self-join was (TPC-H
    baskets ≤ 7; cap baskets before pairing at real scale — the m04
    note). Shared by _support_edges / _copurchase_edges / m04."""
    baskets = df.groupBy(key).agg(F.collect_set(item).alias("_ps"))
    return baskets.select(F.explode("_ps").alias("a"), "_ps").select(
        "a",
        F.explode(F.filter("_ps", lambda p: p > F.col("a"))).alias("b"),
    )


def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARED gr05/gr06/gr08 graph fixture: part co-purchase edges
    thresholded at GR05_MIN_SUPPORT distinct orders (the m04 support
    idea as a sparsifier — the raw co-purchase graph is near-regular;
    the support graph has the skewed degrees real data shows). One
    definition so a threshold or join-strategy change cannot silently
    diverge one gr entry from its oracle; the gr08 pinning test
    imports this same function. r18: basket-form pair generation
    (:func:`_basket_pairs`) — one exchange fewer and no sort-merge
    sorts, identical pair counts (hash-verified on every gr oracle)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return (
        _basket_pairs(li)
        .groupBy("a", "b")
        .agg(F.count("*").alias("_support"))
        .filter(F.col("_support") >= GR05_MIN_SUPPORT)
        .select("a", "b")
    )


def q_gr05_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the SUPPORT-THRESHOLDED part co-purchase graph
    (operators/graph.kcore, fixed sweep): edges are part pairs
    co-purchased in ≥ 2 distinct orders (the m04 support idea as a
    graph sparsifier — the raw co-purchase graph is near-regular with
    min degree ≈ 90, so its k-core transition is all-or-nothing,
    while the support graph has the skewed degrees real co-purchase
    data shows and peels in earnest: 10 changing rounds to the
    3-core fixpoint at sf0.01). Exactly GR05_ROUNDS peel rounds on
    both sides — the gr01/ipf fixed-sweep discipline, well-defined
    whether or not the fixpoint has been reached, and ≥ the measured
    peel depth at both test SFs so the result here IS the 3-core;
    tests/test_graph.py pins this budget's result equal to a
    structural |V|+1 budget on this data, and brute-force parity on
    random graphs."""
    from alternating_least_squares_spark.operators.graph import kcore

    edges = _support_edges(spark, sf_dir)
    return kcore(edges, k=GR05_K, rounds=GR05_ROUNDS).select(
        F.col("vertex").alias("part"), "core_degree"
    )


def _gr05_oracle(k: int, rounds: int, min_support: int) -> str:
    """Unrolled peel: one (keep_i, e_i) CTE pair per round — the
    gr01 unrolled-CTE pattern for iterative operators. Every round
    CTE is ``AS MATERIALIZED``: DuckDB inlines plain CTEs, and each
    round references its predecessor three times, so un-materialized
    unrolling expands the scan tree ~4^rounds-fold (measured: 12
    rounds exhausts the fd limit on the parquet alone)."""
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e0 AS MATERIALIZED (",
        "  SELECT x.l_partkey AS a, y.l_partkey AS b",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        f"  GROUP BY 1, 2 HAVING count(*) >= {min_support}",
        ")",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", k{r} AS MATERIALIZED (
  SELECT v FROM (
    SELECT v, count(*) AS deg
    FROM (SELECT a AS v FROM e{p} UNION ALL SELECT b FROM e{p})
    GROUP BY 1
  ) WHERE deg >= {k}
), e{r} AS MATERIALIZED (
  SELECT a, b FROM e{p}
  WHERE a IN (SELECT v FROM k{r}) AND b IN (SELECT v FROM k{r})
)"""
        )
    parts.append(
        f"""SELECT v AS part, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT a AS v FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY 1"""
    )
    return "\n".join(parts)


SQL_GR05 = _gr05_oracle(GR05_K, GR05_ROUNDS, GR05_MIN_SUPPORT)


GR10_K = 10  # support >= 8: at sf0.01 the peel runs 7 real rounds and
# keeps 4639 of 114402 edges; at sf0.001 the capped graph's minimum
# support is 13, so nothing peels (trivially converged, still hashed)
GR10_ROUNDS = 8  # >= the measured fixpoint depth at both test SFs


def q_gr10_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss of the hub-capped part co-purchase graph
    (operators/graph.ktruss, fixed sweep) — the community-core
    refinement of gr05's k-core: every surviving edge lies in
    ≥ GR10_K−2 triangles WITHIN the surviving subgraph, so each
    co-purchase tie is reinforced by ≥ 8 mutual co-purchases (Cohen
    2008). Support peeling reuses gr03's degree-ordered triangle
    machinery per round exactly as gr05's peel reuses degree counts:
    each round is one edge_support pass (√(2|E|)-bounded adjacency
    arrays, size-gated broadcast) over a shrinking edge set, with
    rotating per-round checkpoints. Exactly GR10_ROUNDS rounds on
    both sides — the gr01/ipf fixed-sweep discipline, ≥ the measured
    peel depth at both test SFs (7 at sf0.01, where the peel drops
    96% of edges; 0 at sf0.001, whose capped graph has min support
    13), so the hash-checked result IS the 10-truss there;
    tests/test_graph.py pins brute-force parity on random graphs.
    Returns (a, b, support) with support scored inside the truss."""
    from alternating_least_squares_spark.operators.graph import ktruss

    return ktruss(
        _copurchase_edges(spark, sf_dir),
        k=GR10_K,
        rounds=GR10_ROUNDS,
        max_degree=GR03_MAX_DEGREE,
    )


def _gr10_oracle(k: int, rounds: int, cap: int) -> str:
    """Unrolled support peel: one (sym_i, e_i) CTE pair per round —
    the gr05 unrolled-CTE pattern with the support join in place of
    the degree count. AS MATERIALIZED for the same reason as gr05
    (each round references its predecessor 3×; inlined unrolling
    explodes the scan tree exponentially). Support of edge (a, b) =
    |N(a) ∩ N(b)| via the two-hop left join over the symmetrized
    adjacency — count(s2.b) ignores the NULLs of triangle-free
    edges, so support-0 edges survive the k=3 degenerate case."""
    min_sup = k - 2
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e00 AS MATERIALIZED (",
        "  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        "),",
        "hub AS MATERIALIZED (",
        "  SELECT v FROM (",
        "    SELECT v, count(*) AS deg",
        "    FROM (SELECT a AS v FROM e00 UNION ALL SELECT b FROM e00)",
        "    GROUP BY 1",
        f"  ) WHERE deg > {cap}",
        "),",
        "e0 AS MATERIALIZED (",
        "  SELECT a, b FROM e00",
        "  WHERE a NOT IN (SELECT v FROM hub)",
        "    AND b NOT IN (SELECT v FROM hub)",
        ")",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", y{r} AS MATERIALIZED (
  SELECT a, b FROM e{p} UNION ALL SELECT b, a FROM e{p}
), e{r} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT e.a, e.b, count(s2.b) AS sup
    FROM e{p} e
    LEFT JOIN y{r} s1 ON s1.a = e.a
    LEFT JOIN y{r} s2 ON s2.a = e.b AND s2.b = s1.b
    GROUP BY e.a, e.b
  ) WHERE sup >= {min_sup}
)"""
        )
    parts.append(
        f""", yf AS MATERIALIZED (
  SELECT a, b FROM e{rounds} UNION ALL SELECT b, a FROM e{rounds}
)
SELECT e.a, e.b, CAST(count(s2.b) AS BIGINT) AS support
FROM e{rounds} e
LEFT JOIN yf s1 ON s1.a = e.a
LEFT JOIN yf s2 ON s2.a = e.b AND s2.b = s1.b
GROUP BY e.a, e.b"""
    )
    return "\n".join(parts)


SQL_GR10 = _gr10_oracle(GR10_K, GR10_ROUNDS, GR03_MAX_DEGREE)


GR06_ROUNDS = 8
GR06_SEED_MOD = 97


def q_gr06_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the support-thresholded
    co-purchase graph (operators/graph.bfs_distances, fixed sweep):
    every vertex's hop count to the nearest seed (part % 97 == 0) —
    the distance-to-POI / influence-radius feature. Exactly
    GR06_ROUNDS=8 levels on both sides, ≥ the measured 7-level seed
    eccentricity at sf0.01, so the hash-checked result is the true
    distance table there; fragmentary graphs (sf0.1's support graph
    is mostly small components) simply reach fewer vertices — absent,
    never NULL-padded — and the fixed sweep keeps both sides agreeing
    at ANY regeneration. tests/test_graph.py pins brute-force parity
    on random graphs."""
    from alternating_least_squares_spark.operators.graph import (
        bfs_distances,
    )

    edges = _support_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("a").alias("vertex"))
        .unionAll(edges.select(F.col("b").alias("vertex")))
        .distinct()
        .filter(F.col("vertex") % GR06_SEED_MOD == 0)
    )
    return bfs_distances(edges, seeds, rounds=GR06_ROUNDS).select(
        F.col("vertex").alias("part"), "hops"
    )


def _gr06_oracle(rounds: int, seed_mod: int, min_support: int) -> str:
    """Unrolled level expansion — one (f_i, d_i) MATERIALIZED CTE
    pair per level (the gr05 materialization lesson applies: d_i
    references d_{i-1} twice, so plain CTEs inline exponentially)."""
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e0 AS MATERIALIZED (",
        "  SELECT x.l_partkey AS a, y.l_partkey AS b",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        f"  GROUP BY 1, 2 HAVING count(*) >= {min_support}",
        "),",
        "e AS MATERIALIZED (SELECT a, b FROM e0 "
        "UNION ALL SELECT b, a FROM e0),",
        "f0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM e "
        f"WHERE a % {seed_mod} = 0),",
        "d0 AS MATERIALIZED (SELECT v, 0 AS hops FROM f0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", f{r} AS MATERIALIZED (
  SELECT DISTINCT e.b AS v FROM e JOIN f{p} ON e.a = f{p}.v
  WHERE e.b NOT IN (SELECT v FROM d{p})
), d{r} AS MATERIALIZED (
  SELECT v, hops FROM d{p}
  UNION ALL SELECT v, {r} AS hops FROM f{r}
)"""
        )
    parts.append(
        f"SELECT v AS part, CAST(hops AS BIGINT) AS hops FROM d{rounds}"
    )
    return "\n".join(parts)


SQL_GR06 = _gr06_oracle(GR06_ROUNDS, GR06_SEED_MOD, GR05_MIN_SUPPORT)


GR11_ROUNDS = 10
GR11_SEED_MOD = 97


def _support_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gr11 weighted twin of :func:`_support_edges`: same
    co-purchase edges, same GR05_MIN_SUPPORT threshold, plus an
    INVERSE-SUPPORT integer weight ``greatest(1, 5 − support)``
    (support 2 → 3, 3 → 2, ≥4 → 1) — strongly co-purchased pairs are
    cheap to traverse, so the weighted shortest path genuinely
    diverges from the hop count (a 2-hop chain of support-4 edges
    costs 2, beating a direct support-2 edge at 3)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r18: basket-form pair generation — see _basket_pairs
    return (
        _basket_pairs(li)
        .groupBy("a", "b")
        .agg(F.count("*").alias("_support"))
        .filter(F.col("_support") >= GR05_MIN_SUPPORT)
        .select(
            "a",
            "b",
            F.greatest(F.lit(1), F.lit(5) - F.col("_support"))
            .cast("long")
            .alias("weight"),
        )
    )


def q_gr11_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths on the inverse-support
    co-purchase graph (operators/graph.sssp, Bellman-Ford fixed
    sweep — VERDICT r15 #6, completing the classic graph primitive
    set: reachability gr06, components gr08, communities gr09, cores
    gr05, trusses gr10): minimum total edge cost from every vertex to
    the nearest seed (part % 97 == 0), where an edge costs
    greatest(1, 5 − support) — the "few strong hops beat one weak
    hop" semantics hop-count BFS cannot express. Exactly
    GR11_ROUNDS=10 relaxation rounds on both sides, ≥ the measured
    shortest-path-forest hop depth at both test SFs (8 at sf0.01, 4
    at sf0.001 — weighted depth can exceed the BFS eccentricity, so
    the margin is wider than gr06's), making the hash-checked result
    the true distance table there; tests/test_graph.py pins this
    budget's result equal to a structural |V|+1 budget on this data,
    and brute-force Dijkstra parity on random graphs."""
    from alternating_least_squares_spark.operators.graph import sssp

    edges = _support_weighted_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("a").alias("vertex"))
        .unionAll(edges.select(F.col("b").alias("vertex")))
        .distinct()
        .filter(F.col("vertex") % GR11_SEED_MOD == 0)
    )
    return sssp(edges, seeds, rounds=GR11_ROUNDS).select(
        F.col("vertex").alias("part"), F.col("dist").alias("dist_w")
    )


def _gr11_oracle(rounds: int, seed_mod: int, min_support: int) -> str:
    """Unrolled Bellman-Ford: one MATERIALIZED CTE per relaxation
    round (each d_i references d_{i-1} twice — the gr05/gr06
    materialization lesson), each round the min-plus step
    d_i = MIN(d_{i-1} ∪ relax(d_{i-1}))."""
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e0 AS MATERIALIZED (",
        "  SELECT x.l_partkey AS a, y.l_partkey AS b,",
        "         GREATEST(1, 5 - count(*)) AS w",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        f"  GROUP BY 1, 2 HAVING count(*) >= {min_support}",
        "),",
        "e AS MATERIALIZED (SELECT a AS u, b AS v, w FROM e0 "
        "UNION ALL SELECT b, a, w FROM e0),",
        "d0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, "
        f"CAST(0 AS BIGINT) AS dist FROM e WHERE u % {seed_mod} = 0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", d{r} AS MATERIALIZED (
  SELECT vertex, MIN(dist) AS dist FROM (
    SELECT vertex, dist FROM d{p}
    UNION ALL
    SELECT e.v AS vertex, d{p}.dist + e.w AS dist
    FROM d{p} JOIN e ON e.u = d{p}.vertex
  ) GROUP BY vertex
)"""
        )
    parts.append(
        f"SELECT vertex AS part, CAST(dist AS BIGINT) AS dist_w "
        f"FROM d{rounds}"
    )
    return "\n".join(parts)


SQL_GR11 = _gr11_oracle(GR11_ROUNDS, GR11_SEED_MOD, GR05_MIN_SUPPORT)


GR08_ROUNDS = 10


def q_gr08_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the support-thresholded co-purchase
    graph (operators/graph.components_fixed, fixed sweep) — the one
    canonical graph algorithm the gr family lacked (PageRank,
    triangles, k-core, BFS exist; components only existed inside the
    dedup pipeline, d04): every part labeled with the minimum part id
    reachable from it, the product-catalog clustering / graph-ETL
    partitioning primitive. Exactly GR08_ROUNDS=10 hash-min rounds on
    both sides — ≥ the measured component diameters at both test SFs
    (sf0.1's support graph is mostly small fragments; sf0.01's is one
    big component of diameter ≤ 8), with fixed-sweep == the live
    convergence loop pinned by pytest. The support graph is under
    ``graph.MAX_DRIVER_EDGES`` at every test SF, so the rounds run in
    NumPy on the driver after one Arrow collect; above the gate each
    round is one vertex-keyed join + one groupBy-min on a rotated
    localCheckpoint."""
    from alternating_least_squares_spark.operators.graph import (
        components_fixed,
    )

    edges = _support_edges(spark, sf_dir)
    return components_fixed(edges, rounds=GR08_ROUNDS).select(
        F.col("vertex").alias("part"), "component"
    )


def _gr08_oracle(rounds: int, min_support: int) -> str:
    """Unrolled hash-min — one label CTE per round (the gr05
    materialization lesson: l{r} references l{r-1} twice, so plain
    CTEs inline exponentially)."""
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e0 AS MATERIALIZED (",
        "  SELECT x.l_partkey AS a, y.l_partkey AS b",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        f"  GROUP BY 1, 2 HAVING count(*) >= {min_support}",
        "),",
        "e AS MATERIALIZED (SELECT a, b FROM e0 "
        "UNION ALL SELECT b, a FROM e0),",
        "l0 AS MATERIALIZED "
        "(SELECT DISTINCT a AS v, a AS c FROM e)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", l{r} AS MATERIALIZED (
  SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l{p}
    UNION ALL
    SELECT e.b AS v, l{p}.c FROM e JOIN l{p} ON e.a = l{p}.v
  ) GROUP BY 1
)"""
        )
    parts.append(
        f"SELECT v AS part, CAST(c AS BIGINT) AS component "
        f"FROM l{rounds}"
    )
    return "\n".join(parts)


SQL_GR08 = _gr08_oracle(GR08_ROUNDS, GR05_MIN_SUPPORT)


GR09_ROUNDS = 8


def q_gr09_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection on the support-thresholded co-purchase
    graph (operators/graph.label_propagation, fixed sweep) — the
    canonical near-linear community primitive after components
    (gr08): each part adopts the most frequent label among its
    neighbors plus itself, ties to the minimum label, so the update
    is fully deterministic (classic LPA's random tie-break can never
    hash-match across engines). Unlike hash-min components, dense
    clusters RETAIN distinct labels across bridge edges — the
    product-grouping / spam-cluster shape components can't express
    (sf0.01: 355 communities vs gr08's handful of components on the
    same graph). A budget of GR09_ROUNDS=8 synchronous rounds on both
    sides — ≥ the measured convergence depth at both test SFs (4 at
    sf0.001, 6 at sf0.01), so the hash-checked result here IS the
    fixpoint; pytest pins this budget's result equal to a much larger
    one. The Spark side stops after the first round that changes no
    label (every later round is the identity), so it runs the
    convergence depth plus one round; the unrolled oracle runs all
    eight. Same Pregel-as-DataFrames shape as gr01/gr05/gr08: per
    round one vertex-keyed join, one (vertex, label) count, one
    vertex-keyed deterministic argmax (min of a (-count, label)
    struct — partial-agg friendly, no window sort), per-round
    localCheckpoint."""
    from alternating_least_squares_spark.operators.graph import (
        label_propagation,
    )

    edges = _support_edges(spark, sf_dir)
    return label_propagation(edges, rounds=GR09_ROUNDS).select(
        F.col("vertex").alias("part"), "community"
    )


def _gr09_oracle(rounds: int, min_support: int) -> str:
    """Unrolled synchronous LPA — one label CTE per round (the gr05
    materialization lesson: l{r} references l{r-1} twice, so plain
    CTEs inline exponentially). The argmax is row_number ordered by
    (cnt DESC, label ASC) — identical to the Spark side's
    min((-cnt, label)) struct ordering."""
    parts = [
        "WITH li AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),",
        "e0 AS MATERIALIZED (",
        "  SELECT x.l_partkey AS a, y.l_partkey AS b",
        "  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey",
        "  WHERE x.l_partkey < y.l_partkey",
        f"  GROUP BY 1, 2 HAVING count(*) >= {min_support}",
        "),",
        "e AS MATERIALIZED (SELECT a, b FROM e0 "
        "UNION ALL SELECT b, a FROM e0),",
        "l0 AS MATERIALIZED "
        "(SELECT DISTINCT a AS v, a AS l FROM e)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", l{r} AS MATERIALIZED (
  SELECT v, l FROM (
    SELECT v, l, row_number() OVER (
      PARTITION BY v ORDER BY cnt DESC, l ASC
    ) AS rn
    FROM (
      SELECT v, l, count(*) AS cnt FROM (
        SELECT v, l FROM l{p}
        UNION ALL
        SELECT e.b AS v, l{p}.l FROM e JOIN l{p} ON e.a = l{p}.v
      ) GROUP BY 1, 2
    )
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"SELECT v AS part, CAST(l AS BIGINT) AS community "
        f"FROM l{rounds}"
    )
    return "\n".join(parts)


SQL_GR09 = _gr09_oracle(GR09_ROUNDS, GR05_MIN_SUPPORT)


def q_e11_trailing_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the WAU analytics shape).
    Scale formulation: dedupe to (user, day) FIRST, then EXPLODE each
    pair to the ≤7 trailing days it covers and count distinct users
    per covered day — linear with bounded fan-out 7, where the naive
    `BETWEEN` self-join plans quadratic (the oracle does exactly that,
    which is the point of the contrast). Only days that actually occur
    in the data are reported (no fabricated trailing days)."""
    day_ns = 86_400 * 1_000_000_000
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.expr(_floor_div("ts_ns", day_ns)).alias("day")
        )
        .distinct()
    )
    days = ud.select("day").distinct()
    cover = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    ).join(days, "day")  # report only observed days
    return cover.groupBy("day").agg(
        F.count_distinct("user_id").alias("wau")
    )


SQL_E11 = f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         {_floor_div_duck('epoch_ns(ts)', 86_400_000_000_000)} AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud)
SELECT d.day, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
FROM days d JOIN ud ON d.day BETWEEN ud.day AND ud.day + 6
GROUP BY 1
"""


def q_e13_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary) —
    the classic CRM warehouse rollup. One orders aggregation; fixed
    thresholds instead of ntile (quantile-bucket ties are
    partition-order-dependent — hash poison; fixed cutoffs are the
    reproducible production choice anyway). Monetary uses the
    decimal-cast-sum-then-round pattern for order-independence;
    recency is whole days against a fixed anchor (midnight-aligned
    timestamps, so datediff is exact on both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-12-31").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).cast("long").alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                "double"
            ),
            6,
        ).alias("monetary"),
    )
    seg = (
        F.when(
            (F.col("recency_days") <= 365) & (F.col("frequency") >= 10),
            F.lit("champion"),
        )
        .when(F.col("recency_days") <= 365, F.lit("recent"))
        .when(F.col("frequency") >= 10, F.lit("loyal"))
        .otherwise(F.lit("dormant"))
    )
    return per_cust.withColumn("segment", seg)


SQL_E13 = """
SELECT o_custkey,
       CAST(datediff('day', CAST(max(o_orderdate) AS DATE),
                     DATE '2001-12-31') AS BIGINT) AS recency_days,
       CAST(COUNT(*) AS BIGINT) AS frequency,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 6)
         AS monetary,
       CASE WHEN datediff('day', CAST(max(o_orderdate) AS DATE),
                          DATE '2001-12-31') <= 365 AND COUNT(*) >= 10
            THEN 'champion'
            WHEN datediff('day', CAST(max(o_orderdate) AS DATE),
                          DATE '2001-12-31') <= 365
            THEN 'recent'
            WHEN COUNT(*) >= 10 THEN 'loyal'
            ELSE 'dormant' END AS segment
FROM orders GROUP BY 1
"""


def q_g07_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean — the aggregate SQL has no builtin for:
    revenue-weighted average discount per return flag, as
    Σ(w·x)/Σ(w) with decimal-cast sums (exact, order-independent)
    and one double division at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    wx = (F.col("l_discount") * F.col("l_extendedprice")).cast(
        "decimal(38,10)"
    )
    w = F.col("l_extendedprice").cast("decimal(38,10)")
    return li.groupBy("l_returnflag").agg(
        F.round(
            (F.sum(wx).cast("double") / F.sum(w).cast("double")), 9
        ).alias("weighted_avg_discount")
    )


SQL_G07 = """
SELECT l_returnflag,
       round(CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,10)))
                  AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE),
             9) AS weighted_avg_discount
FROM lineitem GROUP BY 1
"""


def q_g08_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept of quantity vs
    extended price per return flag, computed EXACTLY in distributed
    fashion: builtin ``corr``/``covar`` accumulate doubles whose last
    ulps depend on partition order (un-hash-comparable and
    irreproducible across cluster sizes), so instead the five moment
    sums Σx, Σy, Σx², Σy², Σxy are taken over integer CENTI-UNITS in
    decimal(38,0) — exact and order-independent at any parallelism —
    and the classic closed forms divide once in double at the end.
    Headroom: with x ≤ 5e3 and y ≤ 1.1e7 centi-units, n·Σy² stays
    under 10³⁸ up to ~10¹² rows per group. Oracle runs the same
    integer sums in HUGEINT (int128) — the final doubles agree
    bit-for-bit because int→double conversion and the IEEE ops after
    it are engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100, 0).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / dx
    return agg.select(
        "l_returnflag",
        "n",
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("corr_qty_price"),
        F.round(slope, 6).alias("slope_cents_per_cent"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
            / 100,
            6,
        ).alias("intercept_price"),
    )


SQL_G08 = """
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         SUM(CAST(round(l_quantity * 100) AS HUGEINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
         SUM(CAST(round(l_quantity * 100) AS HUGEINT)
             * CAST(round(l_quantity * 100) AS HUGEINT)) AS sxx,
         SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
         SUM(CAST(round(l_quantity * 100) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS corr_qty_price,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6)
         AS slope_cents_per_cent,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n / 100, 6)
         AS intercept_price
FROM m
"""


def q_ac09_replicate_via_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY — replicate a table by change feed, the downstream
    half of ac08: clone the source at v0, compute the v0→v2 feed
    (snapshot.diff_versions), apply inserts+updates as one MERGE and
    deletes as one key-set DELETE (snapshot.delete_keys — the key set
    stays distributed, never collected), then read the replica. A hash
    match against the source's surviving-row SQL proves feed-based
    replication reconstructs the table row-exactly — the pattern that
    syncs a 100 TB table across regions without full copies."""
    import shutil

    from alternating_least_squares_spark.sources import snapshot as SN

    src = _snapshot_table_for(spark, sf_dir, "ac09src")
    dst = _scratch_path(
        "alternating_ls_snapshot_ac09dst",
        sf_dir.strip("/").replace("/", "_"),
    )
    shutil.rmtree(dst, ignore_errors=True)
    SN.create_table(
        SN.read_snapshot(spark, src, version=0), dst, key="o_orderkey"
    )
    feed = SN.diff_versions(spark, src, 0, 2).localCheckpoint(eager=True)
    upserts = feed.filter(F.col("change_type") != "delete").select(
        "o_orderkey",
        F.col("o_custkey_new").alias("o_custkey"),
        F.col("price_new").alias("price"),
    )
    SN.merge_upsert(upserts, dst)
    SN.delete_keys(
        dst, feed.filter(F.col("change_type") == "delete").select("o_orderkey")
    )
    return SN.read_snapshot(spark, dst)


# replica content == the source's surviving rows (same SQL as ac01)
SQL_AC09 = """
SELECT o_orderkey, o_custkey,
       round(CASE WHEN o_orderkey % 8 <= 1 THEN round(o_totalprice, 6) * 2
                  ELSE o_totalprice END, 6) AS price
FROM orders
WHERE (o_orderkey % 4 != 0 OR o_orderkey % 8 <= 1)
  AND o_orderkey % 8 != 2
"""


def q_b07_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the ingestion path real multimodal
    pipelines use for image/audio blobs (one file per asset, content
    as an opaque binary column + path/length metadata). Eight payloads
    are materialized as individual files (bounded driver loop — 8
    rows by contract, not data-sized), read back through the
    binaryFile reader, and reduced to (doc_id, n_bytes, md5) parsed
    from the file NAME — proving path metadata, length, and content
    all survive the round trip. Oracle recomputes from the source
    table."""
    import os

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 8)
        .select("doc_id", "text")
    )
    base = _scratch_path("alternating_ls_binaryfile", "blobs")
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):
        os.remove(os.path.join(base, old))
    for r in docs.collect():  # bounded: 8 rows by the filter above
        with open(os.path.join(base, f"{r['doc_id']}.bin"), "wb") as f:
            f.write((r["text"] or "").encode("utf-8"))
    blobs = spark.read.format("binaryFile").load(base)
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("md5"),
    )


SQL_B07 = """
SELECT doc_id,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
       md5(coalesce(text, '')) AS md5
FROM documents WHERE doc_id < 8
"""


def q_gr01_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) over the part→supplier edge list,
    2 iterations, fully INTEGER arithmetic (micro-unit ranks, DIV
    damping) so the iterative loop hash-matches an unrolled DuckDB
    oracle bit-for-bit — the second canonical iterative graph workload
    next to d04's connected components."""
    from alternating_least_squares_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return pagerank(edges, iterations=2, damping_pct=85)


def _gr01_oracle(iterations: int = 2, damping_pct: int = 85) -> str:
    base = (100 - damping_pct) * 1_000_000 // 100
    ctes = [
        "e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst "
        "FROM lineitem)",
        "n AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1)",
        "p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n)",
    ]
    prev = "p0"
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, "
            f"CAST(SUM({prev}.pr // d.deg) AS BIGINT) AS s "
            f"FROM e JOIN {prev} ON {prev}.id = e.src "
            f"JOIN d ON d.src = e.src GROUP BY 1)"
        )
        ctes.append(
            f"p{i} AS (SELECT n.id, CAST({base} + "
            f"({damping_pct} * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS pr "
            f"FROM n LEFT JOIN c{i} ON c{i}.id = n.id)"
        )
        prev = f"p{i}"
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, pr AS pr_us FROM {prev}"
    )


SQL_GR01 = _gr01_oracle()


def q_d07_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the nightly-ingest shape d01-d06 don't
    cover: a NEW batch is admitted against an EXISTING corpus without
    re-deduping the corpus (at 100 TB the corpus side is touched only
    as a fingerprint anti-join, never rescanned for pairs). Admission =
    content hash unseen in the corpus AND first (lowest doc_id) within
    the batch. One anti-join + one keyed window; the batch/corpus split
    is deterministic (doc_id % 3). Oracle: NOT EXISTS + row_number."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    corpus_fp = (
        docs.filter(F.col("doc_id") % 3 != 0).select(h.alias("fp")).distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", h.alias("fp")
    )
    fresh = batch.join(corpus_fp, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


SQL_D07 = """
WITH b AS (
  SELECT doc_id, md5(coalesce(text, '')) AS fp
  FROM documents WHERE doc_id % 3 = 0
),
c AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS fp
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT doc_id, fp FROM (
  SELECT b.doc_id, b.fp,
         row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
  FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp)
) WHERE rn = 1
"""


def q_d10_indexed_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d09's admission decision computed against the PERSISTED corpus
    band index (dedup.write_band_index / admit_with_band_index): the
    corpus signatures are materialized ONCE as two bucketed tables
    (inverted band index + per-doc payload, each bucketed on its join
    key) and the small batch explicitly broadcasts — the executed plan
    moves zero corpus bytes (no Exchange above either bucketed scan;
    asserted in tests/test_dedup.py). Same planted construction and
    the SAME oracle text as d09, so the two implementations are
    independently hash-proved equal to the same ground truth.

    The index build is SKIPPED when both tables already exist in this
    session for this sf (the corpus is immutable per sf_dir): that is
    the production economics the layout exists for — build once,
    amortize across every admission run — so repeat invocations (and
    bench medians) measure the probe, with run 1 carrying the build
    (visible in the bench's raw_runs)."""
    from alternating_least_squares_spark.functions.dedup import (
        admit_with_band_index,
        write_band_index,
    )

    sf_key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    name = f"d10_idx_{sf_key}"
    if not (
        spark.catalog.tableExists(f"{name}_bands")
        and spark.catalog.tableExists(f"{name}_payload")
    ):
        write_band_index(
            docs, name, _scratch_path("alternating_ls_d10", sf_key)
        )
    dstr = F.col("doc_id").cast("string")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), " ", "  "
        ).alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(
            F.lit("zq"), dstr, F.lit("a zq"), dstr, F.lit("b zq"),
            dstr, F.lit("c zq"), dstr, F.lit("d"),
        ).alias("text"),
    )
    admitted = admit_with_band_index(
        spark, name, variants.unionByName(fresh), threshold=0.5
    )
    return admitted.select("doc_id")


def q_sm01_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (functions/semdedup: MLlib-KMeans clusters + intra-cluster exact
    cosine pruning — the only pair join is an equi-join on cluster,
    never all-pairs). Oracle-EXACT via the d09 playbook (VERDICT r6
    #5/r7 #3): the input vectors are sign-quantized (every component
    → ±1.0), so any two DISTINCT vectors differ in ≥1 of the 64
    components and have cosine ≤ (64−2)/64 = 0.96875 — strictly below
    the 0.99 threshold — while identical sign patterns give cosine
    exactly 64/(8·8) = 1.0. Identical vectors share a cluster under
    any argmin assignment (identical distance arrays, deterministic
    tie-break), so every keep/drop decision is forced regardless of
    what KMeans does: keep iff vec_id is the group minimum of its
    sign-pattern key. That IS one SQL statement (GROUP-BY-min over the
    pattern string), which is the oracle below. The planted
    exact-copies (vec_id%20==0, id +1M) exercise the drop path at
    every sf; probabilistic behavior on real-valued near-dups stays
    pinned by tests/test_semdedup.py's planted-cluster fixtures.

    Precondition (ADVICE r18, made explicit): the invariance argument
    is STRUCTURAL, not fixture-dependent — the sign quantization
    happens inside this query, so for ANY regenerated fixture two
    distinct ±1 patterns of dimension d have cosine ≤ (d−2)/d, and
    the argument needs (d−2)/d < 0.99, i.e. d < 200. The embeddings
    table is 64-dimensional (0.96875 < 0.99 with margin); a fixture
    change that widened embeddings to ≥ 200 dims would break the
    bound and must revert sm01 to the distributed fit."""
    from alternating_least_squares_spark.functions.pq import (
        train_coarse_centroids,
    )
    from alternating_least_squares_spark.functions.semdedup import (
        semantic_dedup,
    )

    sgn = F.transform(
        F.col("embedding"),
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", sgn.alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    full = emb.unionByName(copies)
    # r18: driver-side bounded-sample Lloyd for the dedup vocabulary
    # (the s03 rationale, one step past r8's random-init fix): the
    # keep/drop decision is assignment-invariant by the construction
    # above, so the vocabulary needs no distributed fit at all — the
    # semdedup module docstring's "training on a driver-bounded
    # sample" made literal. Hash-identical result (oracle-verified);
    # saves the MLlib fit's driver-blocking jobs (~-0.9 s at sf0.1).
    cents = train_coarse_centroids(
        full, "embedding", n_centroids=8, id_col="vec_id"
    )
    kept = semantic_dedup(
        full, n_centroids=8, threshold=0.99, centroids=cents
    )
    return kept.select("vec_id")


SQL_SM01 = """
WITH inp AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
),
k AS (
  SELECT vec_id,
         list_aggr(
           list_transform(embedding,
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
           'string_agg', '') AS key
  FROM inp
)
SELECT vec_id FROM (
  SELECT vec_id, min(vec_id) OVER (PARTITION BY key) AS m FROM k
) WHERE vec_id = m
"""


def q_d09_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission (d07's LSH extension, VERDICT r5
    #3 — the real nightly-ingest shape for an LLM corpus): a new batch
    is admitted against the existing corpus via
    dedup.incremental_near_dup_admission — batch band hashes probe the
    corpus band index (ONE batch→corpus equi-join; the corpus is never
    re-paired with itself), exact Jaccard ≥ 0.5 verifies candidates.

    The full LSH pipeline isn't one SQL statement, so the batch is
    CONSTRUCTED to make the admission decision oracle-exact: (a)
    whitespace-doubled variants of doc_id%10==0 docs have the
    IDENTICAL token sequence → shingle-set Jaccard exactly 1.0 →
    identical MinHash signature → candidate + rejection guaranteed;
    (b) fresh docs built from unique per-doc tokens share ZERO
    shingles with anything → Jaccard 0 → admitted no matter what the
    bands do. Every batch doc's Jaccard-vs-corpus is exactly 1 or 0 —
    never in the probabilistic recall zone — so "rejected iff an exact
    token-sequence match exists in the corpus" is ground truth, and
    that IS expressible in SQL (NOT EXISTS on the whitespace-collapsed
    token key). Probabilistic-recall behavior on true near-dups is
    pinned by tests/test_dedup.py's planted-pair fixtures instead."""
    from alternating_least_squares_spark.functions.dedup import (
        incremental_near_dup_admission,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dstr = F.col("doc_id").cast("string")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), " ", "  "
        ).alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(
            F.lit("zq"), dstr, F.lit("a zq"), dstr, F.lit("b zq"),
            dstr, F.lit("c zq"), dstr, F.lit("d"),
        ).alias("text"),
    )
    admitted = incremental_near_dup_admission(
        docs, variants.unionByName(fresh), threshold=0.5
    )
    return admitted.select("doc_id")


SQL_D09 = f"""
WITH ck AS (
  SELECT array_to_string({_toks_sql()}, ' ') AS key FROM documents
),
b AS (
  SELECT doc_id + 20000000 AS doc_id,
         array_to_string(
           {_toks_sql("regexp_replace(coalesce(text, ''), ' ', '  ', 'g')")},
           ' ') AS key
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 30000000,
         'zq' || doc_id || 'a zq' || doc_id || 'b zq' || doc_id || 'c zq'
              || doc_id || 'd'
  FROM documents WHERE doc_id % 10 = 5
)
SELECT b.doc_id FROM b
WHERE NOT EXISTS (SELECT 1 FROM ck WHERE ck.key = b.key)
"""


def q_rc03_bom_effective_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM explosion (the multiplicative recursive shape): per node,
    the total effective units across its subtree when each child-edge
    carries an integral per-unit quantity — path quantities are
    PRODUCTS of edge weights, carried exactly through the doubling
    closure (weight_col). Oracle: recursive CTE multiplying down the
    same synthetic quantities."""
    _, nodes, edges = _part_hierarchy(spark, sf_dir)
    edges = edges.withColumn("qty", F.col("child") % 5 + 1)
    cl = H.ancestor_closure(nodes, edges, weight_col="qty")
    return cl.groupBy(F.col(H.ANC).alias("node")).agg(
        F.sum(H.QTY).alias("effective_units"),
        F.count("*").alias("n_desc"),
    )


SQL_RC03 = """
WITH RECURSIVE cl AS (
  SELECT p_partkey AS anc, p_partkey AS des, CAST(1 AS BIGINT) AS qty
  FROM part
  UNION ALL
  SELECT cl.anc, p.p_partkey, cl.qty * ((p.p_partkey % 5) + 1)
  FROM cl JOIN part p ON p.p_partkey >= 10 AND (p.p_partkey // 10) = cl.des
)
SELECT anc AS node, CAST(SUM(qty) AS BIGINT) AS effective_units,
       CAST(COUNT(*) AS BIGINT) AS n_desc
FROM cl GROUP BY 1
"""


def q_ac08_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed between snapshot versions (Delta table_changes
    analog; sources/snapshot.diff_versions): diff v0 (create) against
    v2 (post-MERGE-and-DELETE) of the ac01 table — %8==0 keys were
    inserted by the merge, %8==1 updated (price doubled), %8==2
    deleted. The oracle reconstructs the exact feed from orders, so a
    hash match proves insert/update/delete classification AND the
    NULL-safe row comparison."""
    from alternating_least_squares_spark.sources import snapshot as SN

    path = _snapshot_table_for(spark, sf_dir, "ac08")
    return SN.diff_versions(spark, path, 0, 2)


SQL_AC08 = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 8 = 0 THEN 'insert'
            WHEN o_orderkey % 8 = 2 THEN 'delete'
            ELSE 'update' END AS change_type,
       CASE WHEN o_orderkey % 8 = 2 THEN NULL
            ELSE o_custkey END AS o_custkey_new,
       CASE WHEN o_orderkey % 8 = 2 THEN NULL
            ELSE round(round(o_totalprice, 6) * 2, 6) END AS price_new
FROM orders
WHERE o_orderkey % 8 IN (0, 1, 2)
"""


def q_m04_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket item-item co-occurrence with LIFT — the
    oracle-checkable face of recommendation (m01-m03 are model-based,
    rows-only by nature; co-occurrence statistics are exact). Pairs
    come from basket-form generation keyed on the order (r18,
    :func:`_basket_pairs` — formerly a self-equi-join; same pair
    counts, one exchange fewer) — fan-out is bounded by basket size
    (TPC-H baskets ≤ 7; cap baskets before pairing at real scale),
    never corpus×corpus. ``n_ab >= 3`` bounds the output
    to statistically meaningful pairs. lift = P(a,b)/(P(a)·P(b)) via
    one baked scalar (order count) and exact integer counts."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)  # pairs + margins + total reuse it
    )
    n_orders = li.select("l_orderkey").distinct().count()
    margins = li.groupBy(F.col("l_partkey")).agg(F.count("*").alias("n"))
    # r18: basket-form pair generation from the checkpoint — see
    # _basket_pairs (replaces the self-equi-join: one exchange fewer,
    # no sort-merge sorts, identical pair counts)
    pairs = (
        _basket_pairs(li)
        .groupBy(
            F.col("a").alias("part_a"), F.col("b").alias("part_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    na = margins.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = margins.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.lit(float(n_orders))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("lift"),
        )
    )


SQL_M04 = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT l_partkey, COUNT(*) AS n FROM b GROUP BY 1),
t AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM b),
p AS (
  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT p.part_a, p.part_b, p.n_ab,
       round(CAST(p.n_ab AS DOUBLE) * t.n_orders
             / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 9) AS lift
FROM p, t
JOIN n na ON na.l_partkey = p.part_a
JOIN n nb ON nb.l_partkey = p.part_b
"""


def q_t15_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation — the preprocessing step between raw text
    and t10's token chunks: split on terminal punctuation runs,
    whitespace-trim with an explicit regex (engine trim() builtins
    disagree on what counts as whitespace), drop empties, renumber.
    One generator explode, no shuffle until the (implicit) none —
    pure row expansion at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    parts = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"[.!?]+")).alias("pos", "raw"),
    ).withColumn(
        "sent", F.regexp_replace(F.col("raw"), r"^\s+|\s+$", "")
    ).filter(F.col("sent") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return parts.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("sent_idx"),
        F.length("sent").cast("long").alias("n_chars"),
        F.md5(F.col("sent")).alias("sent_md5"),
    )


SQL_T15 = """
WITH s AS (
  SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts
  FROM documents WHERE text IS NOT NULL
),
x AS (
  SELECT doc_id, i AS pos,
         regexp_replace(parts[i + 1], '^\\s+|\\s+$', '', 'g') AS sent
  FROM s, UNNEST(range(len(parts))) t(i)
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
            AS BIGINT) AS sent_idx,
       CAST(length(sent) AS BIGINT) AS n_chars,
       md5(sent) AS sent_md5
FROM x WHERE sent != ''
"""


def q_t17_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit distance between adjacent-id documents —
    the third similarity axis next to set-based (Jaccard/containment)
    and vector-based (cosine): catches single-character edits that
    shift every shingle. Levenshtein is O(n·m), so production use is
    always post-candidate-generation verification on BOUNDED prefixes
    (40 chars here — the same contract as the LSH verify stage);
    both engines implement the classic DP, so the integers match
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    head = F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40)
    a = docs.select(F.col("doc_id").alias("id_a"), head.alias("h_a"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        head.alias("h_b"),
    )
    return a.join(b, "id_a").select(
        "id_a",
        "id_b",
        F.levenshtein("h_a", "h_b").cast("long").alias("edit_distance"),
    )


SQL_T17 = """
WITH h AS (
  SELECT doc_id, substring(coalesce(text, ''), 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_distance
FROM h a JOIN h b ON b.doc_id = a.doc_id + 1
"""


def q_t18_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring: a corpus-trained
    add-one-smoothed UNIGRAM LM scores each document by average token
    log-probability (the perplexity filter of LLM curation — docs of
    rare/garbled tokens score low, boilerplate scores high).

    Fully distributed: one explode → keyed count builds the LM (term
    → count); scoring is a broadcast join of the token stream against
    the LM and one keyed aggregation per doc. Corpus-scan economics
    at 100 TB: exactly TWO corpus reads (LM pass, scoring pass) — the
    scalars N and V are one aggregate over the CHECKPOINTED vocab-
    sized counts, not another corpus pass, and never a global window.

    Float discipline for oracle parity: per-term log-probs are
    FLOORED to integer MICRO-NATS (floor, not round — both engines
    floor toward −∞, while their double round-half rules could
    disagree on negative values), so the per-doc sum is an exact
    BIGINT — order-independent at any parallelism — and the single
    division at the end is deterministic."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    # the small-file documents scan arrives as one split: re-widen
    # before the explode so the tokenize pass uses the whole cluster
    docs = spread_if_narrow(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    terms = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    lm = (
        terms.groupBy("term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_total, vocab = lm.agg(
        F.sum("c").cast("long"), F.count("*")
    ).first()
    lm = lm.select(
        "term",
        F.floor(
            F.log(
                (F.col("c") + F.lit(1)).cast("double")
                / F.lit(float(n_total + vocab))
            )
            * 1_000_000
        ).alias("lp_us"),
    )
    return (
        terms.join(F.broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp_us").alias("sum_lp_us"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_lp_us",
            F.round(
                F.col("sum_lp_us").cast("double")
                / F.col("n_tokens")
                / 1_000_000,
                6,
            ).alias("avg_logprob"),
        )
    )


SQL_T18 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     terms AS (SELECT doc_id, unnest(toks) AS term FROM tk),
     lm AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
     scale AS (SELECT sum(c) + count(*) AS nv FROM lm),
     lp AS (
       SELECT term,
              CAST(floor(ln(CAST(c + 1 AS DOUBLE) / nv) * 1000000)
                   AS BIGINT) AS lp_us
       FROM lm CROSS JOIN scale
     )
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(lp_us) AS BIGINT) AS sum_lp_us,
       round(CAST(sum(lp_us) AS DOUBLE) / count(*) / 1000000, 6)
         AS avg_logprob
FROM terms JOIN lp USING (term)
GROUP BY 1
"""


def q_q03_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-quantile quality gate WITHOUT a global sort — drop the
    bottom decile of the corpus by LM score, the thresholding step
    that turns t18's scores into a curation decision. The naive
    formulation (ntile/percent_rank over all docs) is a single-reducer
    total order AND partition-order-irreproducible on ties; the scale
    formulation here is exact BY SPEC: quantize the integer micro-nat
    avg score to milli-nat BUCKETS (floor division — domain bounded by
    the score RANGE, not the corpus size), build the bucket histogram
    (one tiny shuffle), take the cumulative count over the ≤10⁴-row
    histogram, and keep docs whose bucket ≥ the smallest bucket whose
    cumulative count reaches k = ceil(n/10) (integer (n+9) DIV 10 —
    no float 0.1·n). Deterministic at any parallelism, identical on
    any engine, and the only driver-side values are two scalars (n,
    threshold — the t18 N/V precedent). At 100 TB the histogram is
    KBs regardless of corpus size."""
    t18 = q_t18_unigram_logprob(spark, sf_dir)
    b = t18.select(
        "doc_id",
        F.expr(
            _floor_div(_floor_div("sum_lp_us", "n_tokens"), 1000)
        ).alias("bucket"),
    ).localCheckpoint(eager=True)  # three consumers: histogram,
    # n_docs, and the final gate — without this the whole t18 LM
    # pipeline would re-run per consumer
    hist = b.groupBy("bucket").agg(F.count("*").alias("c"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    n_docs = b.count()
    k = (n_docs + 9) // 10
    thr = (
        cum.filter(F.col("cum") >= k).agg(F.min("bucket")).first()[0]
    )
    return b.filter(F.col("bucket") >= thr)


SQL_Q03 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     terms AS (SELECT doc_id, unnest(toks) AS term FROM tk),
     lm AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
     scale AS (SELECT sum(c) + count(*) AS nv FROM lm),
     lp AS (
       SELECT term,
              CAST(floor(ln(CAST(c + 1 AS DOUBLE) / nv) * 1000000)
                   AS BIGINT) AS lp_us
       FROM lm CROSS JOIN scale
     ),
     doc AS (
       SELECT doc_id, sum(lp_us) AS s, count(*) AS n
       FROM terms JOIN lp USING (term) GROUP BY 1
     ),
     b AS (
       SELECT doc_id,
              {_floor_div_duck(_floor_div_duck('s', 'n'), 1000)} AS bucket
       FROM doc
     ),
     h AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1),
     cum AS (
       SELECT bucket, sum(c) OVER (ORDER BY bucket) AS cum FROM h
     ),
     thr AS (
       SELECT min(bucket) AS t FROM cum
       WHERE cum >= ((SELECT count(*) FROM b) + 9) // 10
     )
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket
FROM b WHERE bucket >= (SELECT t FROM thr)
"""


def _quality_bucket() -> Column:
    """Quality decile bucket ∈ [0, 9] — quality_score rounds to 6
    internally, so the bucket edge arithmetic is identical on both
    engines. Shared by q04 (drift monitor) and p04 (drift gate)."""
    return F.least(
        F.floor(TX.quality_score(F.col("text")) * 10), F.lit(9)
    ).cast("long")


def _psi_terms(pop: DataFrame, ref: DataFrame):
    """Shared PSI machinery for q04/p04: ``pop`` is (source, bucket)
    rows, ``ref`` is (bucket) rows. Builds the dense source×bucket
    grid (generator explode, no cross join), Laplace add-one smoothed
    shares, and the log ratio FLOORED to integer micro-nats (the t18
    discipline). Returns ``(grid_df, p_src, p_ref)`` where grid_df
    has (source, bucket, c_src, c_ref, n_s, lp_us) and the two share
    Columns let each caller state its own term shape — q04 emits
    round(·,6) per-bucket terms, p04 floors to nano-units before an
    exact BIGINT cross-bucket sum. Everything after the caller's scan
    is bounded by |sources|·10 rows; the reference total rides one
    bounded count() (t18's scalar discipline)."""
    per_sb = pop.groupBy("source", "bucket").agg(
        F.count("*").alias("c_sb")
    )
    per_s = pop.groupBy("source").agg(F.count("*").alias("n_s"))
    per_b = ref.groupBy("bucket").agg(F.count("*").alias("c_b"))
    # NOTE (r18): an attempt to fold this count into a collected
    # per-bucket histogram (one "scan" instead of "two") REGRESSED
    # q04 ~2x and was reverted: count() PRUNES ref's quality-score
    # expression (it needs no columns), so the "second scan" was
    # already near-free, while the collected histogram forced a full
    # quality pass to run SERIALLY at build time that previously rode
    # the main job in parallel. Measure pruning before counting scans.
    n = ref.count()
    grid = per_s.select(
        "source",
        "n_s",
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(10)])
        ).alias("bucket"),
    )
    joined = (
        grid.join(per_sb, ["source", "bucket"], "left")
        .join(F.broadcast(per_b), "bucket", "left")
        .select(
            "source",
            "bucket",
            F.coalesce("c_sb", F.lit(0)).cast("long").alias("c_src"),
            F.coalesce("c_b", F.lit(0)).cast("long").alias("c_ref"),
            "n_s",
        )
    )
    p_src = (F.col("c_src") + 1).cast("double") / (
        F.col("n_s") + 10
    ).cast("double")
    p_ref = (F.col("c_ref") + 1).cast("double") / F.lit(float(n + 10))
    out = joined.withColumn(
        "lp_us", F.floor(F.log(p_src / p_ref) * 1_000_000).cast("long")
    )
    return out, p_src, p_ref


def _psi_qb_sql() -> str:
    """DuckDB twin of the (doc_id, source, fp, bucket) projection both
    PSI entries start from — CTEs ``d`` through ``qb``."""
    return f"""d AS (SELECT doc_id, source, text, md5(text) AS fp
     FROM documents WHERE text IS NOT NULL),
tk AS (SELECT doc_id, source, fp, text, {_toks_sql()} AS toks FROM d),
b0 AS (
  SELECT doc_id, source, fp,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           AS n_punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS DOUBLE) / len(toks) END AS avg_len
  FROM tk
),
qb AS (
  SELECT doc_id, source, fp,
         least(CAST(floor(round(greatest(0.0,
           least(n_tok / 64.0, 1.0) * 0.5
           + (CASE WHEN avg_len <= 0 THEN 0.0
                   ELSE least(avg_len / 5.0, 1.0) END) * 0.5
           - (n_punct / greatest(n_chars, 1.0)) * 2.0
         ), 6) * 10) AS BIGINT), 9) AS bucket
  FROM b0
)"""


def _psi_grid_sql(pop: str, ref: str, prefix: str = "") -> str:
    """DuckDB twin of :func:`_psi_terms`: CTEs ``per_sb`` through
    ``p`` over a population CTE (source, bucket) and a reference CTE
    (bucket); ``p`` exposes (source, bucket, c_src, c_ref, pa, pc).
    ``prefix`` namespaces the CTEs so one statement can instantiate
    the machinery more than once (st12 gates two waves)."""
    x = prefix
    return f"""{x}per_sb AS (SELECT source, bucket, count(*) AS c_sb
           FROM {pop} GROUP BY 1, 2),
{x}per_s AS (SELECT source, count(*) AS n_s FROM {pop} GROUP BY 1),
{x}per_b AS (SELECT bucket, count(*) AS c_b FROM {ref} GROUP BY 1),
{x}tot AS (SELECT count(*) AS n FROM {ref}),
{x}grid AS (
  SELECT s.source, s.n_s, r.range AS bucket
  FROM {x}per_s s CROSS JOIN range(10) r
),
{x}p AS (
  SELECT g.source, g.bucket,
         CAST(coalesce(sb.c_sb, 0) AS BIGINT) AS c_src,
         CAST(coalesce(pb.c_b, 0) AS BIGINT) AS c_ref,
         CAST(coalesce(sb.c_sb, 0) + 1 AS DOUBLE)
           / CAST(g.n_s + 10 AS DOUBLE) AS pa,
         CAST(coalesce(pb.c_b, 0) + 1 AS DOUBLE)
           / CAST((SELECT n FROM {x}tot) + 10 AS DOUBLE) AS pc
  FROM {x}grid g
  LEFT JOIN {x}per_sb sb ON sb.source = g.source AND sb.bucket = g.bucket
  LEFT JOIN {x}per_b pb ON pb.bucket = g.bucket
)"""


Q05_GATE_PPM = 10_000  # 1% absolute null-rate shift flags the column


def q_q05_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural (completeness) drift monitor — the schema-side
    companion to q04's value-distribution PSI: per (source, column),
    the incoming wave's null rate vs the reference corpus's, in exact
    floored parts-per-million, flagged when the absolute shift
    exceeds Q05_GATE_PPM. This is the check that catches an upstream
    extractor silently dropping a field (lang suddenly 40% NULL for
    one crawl) — value-distribution monitors never see rows that
    stopped arriving with the column at all, so q04 and q05 gate
    different failure classes.

    Wave = the doc_id % 3 == 0 slice (the p04/st12 batch convention);
    reference = the rest. Drift is defined for sources present on
    BOTH sides — brand-new and vanished sources are admission-domain
    events (st10/p04), not drift. Counting COUNT(col) vs COUNT(*)
    makes each side ONE map-side-combinable aggregate over the scan;
    the per-column rows are unpivoted from that 1-row-per-source
    aggregate with a stack over literals (the x11 pattern), and the
    join is |sources|-bounded. Nothing after the scan exceeds
    |sources|·|columns| rows at any data scale."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["text", "lang", "n_chars"]

    def side(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            (F.count(F.lit(1)) - F.count(c)).alias(f"_nulls_{c}")
            for c in cols
        ]
        wide = df.groupBy("source").agg(*aggs)
        stack = ", ".join(f"'{c}', _nulls_{c}" for c in cols)
        return wide.select(
            "source",
            F.expr(
                f"stack({len(cols)}, {stack}) AS (col_name, _nulls)"
            ),
            "_n",
        )

    ppm = F.floor(
        (F.col("_nulls") * 1_000_000).cast("double") / F.col("_n")
    ).cast("long")
    wave = side(docs.filter(F.col("doc_id") % 3 == 0)).select(
        "source", "col_name", ppm.alias("wave_ppm")
    )
    ref = side(docs.filter(F.col("doc_id") % 3 != 0)).select(
        "source", "col_name", ppm.alias("ref_ppm")
    )
    delta = F.col("wave_ppm") - F.col("ref_ppm")
    return wave.join(ref, ["source", "col_name"]).select(
        "source",
        "col_name",
        "wave_ppm",
        "ref_ppm",
        delta.alias("delta_ppm"),
        (F.abs(delta) > Q05_GATE_PPM).cast("long").alias("drifted"),
    )


def _q05_sql() -> str:
    cols = ["text", "lang", "n_chars"]

    def side_sql(name: str, pred: str) -> str:
        counts = ", ".join(
            f"COUNT(*) - COUNT({c}) AS nulls_{c}" for c in cols
        )
        unpivot = "\n  UNION ALL ".join(
            f"SELECT source, '{c}' AS col_name, nulls_{c} AS nulls, n "
            f"FROM {name}_w"
            for c in cols
        )
        return (
            f"{name}_w AS (\n"
            f"  SELECT source, COUNT(*) AS n, {counts}\n"
            f"  FROM documents WHERE {pred} GROUP BY 1\n"
            f"),\n{name}_u AS (\n  {unpivot}\n)"
        )

    ppm = "CAST(floor(CAST(nulls * 1000000 AS DOUBLE) / n) AS BIGINT)"
    return f"""
WITH {side_sql("wv", "doc_id % 3 = 0")},
{side_sql("rf", "doc_id % 3 <> 0")},
j AS (
  SELECT w.source, w.col_name,
         {ppm.replace("nulls", "w.nulls").replace("/ n", "/ w.n")}
           AS wave_ppm,
         {ppm.replace("nulls", "r.nulls").replace("/ n", "/ r.n")}
           AS ref_ppm
  FROM wv_u w JOIN rf_u r
    ON w.source = r.source AND w.col_name = r.col_name
)
SELECT source, col_name, wave_ppm, ref_ppm,
       wave_ppm - ref_ppm AS delta_ppm,
       CAST(abs(wave_ppm - ref_ppm) > {Q05_GATE_PPM} AS BIGINT)
         AS drifted
FROM j
"""


SQL_Q05 = _q05_sql()


def q_q04_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor — the distribution-
    shift check a training-data pipeline runs per ingest source /
    snapshot (did src7's quality profile drift from the corpus?):
    quality scores bucketed into 10 fixed-width bins, each source's
    smoothed bin share compared to the whole corpus's, PSI term
    ``(p_src − p_corpus)·ln(p_src/p_corpus)`` emitted PER BUCKET
    (the analyst sums them; emitting terms keeps the result free of
    any cross-bucket float-sum ordering). Laplace add-one smoothing
    keeps empty bins defined, and the dense source×bucket grid comes
    from a generator explode — no cross join.

    Float discipline (the t18 micro-nat pattern): shares are single
    IEEE divisions of exact integers (bit-identical cross-engine),
    the log ratio is FLOORED to integer micro-nats, and the final
    per-row product is round(·,6) — nothing order-dependent anywhere.

    Scale shape: everything after the one corpus scan is aggregated
    data bounded by |sources|·10 rows — source-keyed equi-joins plus
    one ≤10-row broadcast; the corpus total rides the same bounded
    aggregate (t18's scalar-first() discipline), never a second scan."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    qb = docs.select("source", _quality_bucket().alias("bucket"))
    out, p_src, p_corp = _psi_terms(qb, qb)
    return out.select(
        "source",
        "bucket",
        "c_src",
        F.col("c_ref").alias("c_corpus"),
        "lp_us",
        F.round(
            (p_src - p_corp) * F.col("lp_us") / F.lit(1_000_000.0), 6
        ).alias("psi_term"),
    )


SQL_Q04 = f"""
WITH {_psi_qb_sql()},
{_psi_grid_sql("qb", "qb")}
SELECT source, bucket, c_src, c_ref AS c_corpus,
       CAST(floor(ln(pa / pc) * 1000000) AS BIGINT) AS lp_us,
       round((pa - pc)
             * CAST(floor(ln(pa / pc) * 1000000) AS BIGINT)
             / 1000000.0, 6) AS psi_term
FROM p
"""


# the q06 audit surface: every base table's primary key (lineitem's is
# composite — the one place a single-column unique check lies)
Q06_KEYS = [
    ("customer", ["c_custkey"]),
    ("documents", ["doc_id"]),
    ("events", ["event_id"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("orders", ["o_orderkey"]),
]


def q_q06_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table primary-key census — the dbt-style `unique` audit
    run over the WHOLE catalog in one report (q01 gates one table's
    constraints; q02 checks FKs point somewhere; q06 checks every
    table's own identity, composite keys included): per table the row
    count, distinct key count, duplicated-key count, surplus rows,
    and the worst key's multiplicity. NULL key components count as a
    key value (a table of duplicate NULL keys must fail — the q01
    struct-count rule).

    Shape: per table ONE map-side-combinable groupBy(key).count()
    followed by an aggregation over the KEY-GRAIN rows (never a
    count-distinct-over-window, never a self-join); the per-table
    reports are ≤1-row each and union into the audit. At 100 TB each
    table's check is one shuffle at its natural key — the same
    exchange an ingest's dedupe would pay anyway, and the
    multiplicity histogram falls out of it for free."""
    reports = []
    for tbl, keys in Q06_KEYS:
        per_key = (
            load_table(spark, sf_dir, tbl)
            .groupBy(*keys)
            .agg(F.count("*").alias("cnt"))
        )
        # coalesce the sum/max aggregates: an EMPTY table must report
        # a PASSING zero row, not NULLs that neither pass nor fail
        # (an empty table is often itself the incident — it must not
        # vanish from a passed==False filter; review r14)
        zero = F.lit(0).cast("long")
        reports.append(
            per_key.agg(
                F.lit(tbl).alias("tbl"),
                F.coalesce(F.sum("cnt"), zero).cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_keys"),
                F.count_if(F.col("cnt") > 1).cast("long").alias("n_dup_keys"),
                F.coalesce(F.sum("cnt") - F.count("*"), zero)
                .cast("long")
                .alias("surplus_rows"),
                F.coalesce(F.max("cnt"), zero)
                .cast("long")
                .alias("max_multiplicity"),
            ).select(
                "tbl", "n_rows", "n_keys", "n_dup_keys", "surplus_rows",
                "max_multiplicity",
                (F.col("surplus_rows") == 0).alias("passed"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _q06_oracle() -> str:
    parts = []
    for tbl, keys in Q06_KEYS:
        kl = ", ".join(keys)
        parts.append(f"""
SELECT '{tbl}' AS tbl,
       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COUNT(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_dup_keys,
       CAST(COALESCE(SUM(cnt) - COUNT(*), 0) AS BIGINT) AS surplus_rows,
       CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_multiplicity,
       COALESCE(SUM(cnt) - COUNT(*), 0) = 0 AS passed
FROM (SELECT {kl}, COUNT(*) AS cnt FROM {tbl} GROUP BY {kl})""")
    return "\nUNION ALL\n".join(parts)


SQL_Q06 = _q06_oracle()


# p04's alarm threshold in nano-PSI units. Small batch slices carry a
# high smoothed-PSI baseline (Laplace +1 over ~10 docs/bucket dominates
# at sf0.01, where per-source values measured 0.71–1.33), so the gate
# sits at the observed median — sources above it are "this snapshot
# shifted" alarms. At larger SFs slices are bigger, baselines drop,
# and the same fixed gate admits everything that hasn't truly drifted.
P04_DRIFT_GATE_NANO = 850_000_000


def q_p04_drift_gated_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-gated incremental admission — the composite ingest gate a
    production corpus actually runs: a new batch (doc_id % 3 == 0, the
    d07 split) is admitted only if (a) its content hash is unseen in
    the corpus and first within the batch (d07's exact-dedup gate) AND
    (b) its SOURCE's quality distribution has not drifted from the
    corpus — per-source PSI of the batch slice vs the corpus slice
    (the q04 machinery re-pointed at the batch/corpus populations),
    summed to one alarm number per source in EXACT integer nano-units
    (each per-bucket term is floored to nanos before the sum, so the
    cross-bucket total is an order-independent BIGINT and the
    threshold compare can never flap cross-engine). Sources over
    ``P04_DRIFT_GATE_NANO`` are rejected wholesale — admitting
    individually-clean documents from a shifted snapshot is how
    quality regressions enter training sets. Domain: text IS NOT NULL
    (quality needs text; d07 keeps covering the NULL-text admission
    path). Scale shape: one corpus scan for buckets+fingerprints, the
    fingerprint side is an anti-join (never re-paired), drift math is
    bounded by |sources|·10 rows, and the verdict table broadcasts
    back onto the fresh batch."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "source",
        _quality_bucket().alias("bucket"),
        F.md5(F.col("text")).alias("fp"),
    )
    batch = base.filter(F.col("doc_id") % 3 == 0)
    corpus = base.filter(F.col("doc_id") % 3 != 0)
    g, pa, pc = _psi_terms(
        batch.select("source", "bucket"), corpus.select("bucket")
    )
    term = F.floor((pa - pc) * F.col("lp_us") * 1_000).cast("long")
    drift = (
        g.select("source", term.alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("drift_nano"))
    )
    ok = drift.filter(F.col("drift_nano") <= P04_DRIFT_GATE_NANO)
    corpus_fp = corpus.select("fp").distinct()
    fresh = batch.join(corpus_fp, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    first_in_batch = (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return first_in_batch.join(F.broadcast(ok), "source").select(
        "doc_id", "source", "drift_nano"
    )


SQL_P04 = f"""
WITH {_psi_qb_sql()},
batch AS (SELECT * FROM qb WHERE doc_id % 3 = 0),
corp AS (SELECT * FROM qb WHERE doc_id % 3 <> 0),
{_psi_grid_sql("batch", "corp")},
drift AS (
  SELECT source,
         CAST(SUM(CAST(floor((pa - pc)
                * CAST(floor(ln(pa / pc) * 1000000) AS BIGINT)
                * 1000) AS BIGINT)) AS BIGINT) AS drift_nano
  FROM p GROUP BY 1
),
ok AS (SELECT * FROM drift WHERE drift_nano <= {P04_DRIFT_GATE_NANO}),
fresh AS (
  SELECT b.doc_id, b.source, b.fp FROM batch b ANTI JOIN corp c
    ON b.fp = c.fp
),
first_in_batch AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fresh
)
SELECT f.doc_id, f.source, o.drift_nano
FROM first_in_batch f JOIN ok o ON o.source = f.source
WHERE f.rn = 1
"""


def q_st12_stream_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift-gated admission — p04's PSI alarm run PER
    ARRIVING WAVE: document batches land as files, each
    ``availableNow`` run gates its wave's per-source quality
    distribution against the STATIC trusted-corpus reference (a drift
    reference is a pinned snapshot, not a moving target — unlike
    st10's growing near-dup corpus, which is exactly why both
    admission streams exist), and only un-drifted sources' docs are
    appended. Waves carry (doc_id, source, wave, bucket); the gate is
    the shared ``_psi_terms`` machinery inside ``foreachBatch``, with
    each per-bucket term floored to integer nano-units before the
    exact BIGINT cross-bucket sum (the p04 discipline), so the
    per-wave verdicts are bit-stable and replay == batch: the sink's
    union of per-wave decisions is exactly what the unrolled two-wave
    oracle states. Scale: per wave one bounded-aggregate drift table
    (|sources|·10 rows) broadcast back onto the wave; the reference
    bucket histogram is computed once and checkpointed."""
    import os
    import shutil

    from alternating_least_squares_spark.streaming import run_available_now

    base = _scratch_path(
        "alternating_ls_st12", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id", "source", _quality_bucket().alias("bucket")
    )
    batch = keyed.filter(F.col("doc_id") % 3 == 0)
    ref = (
        keyed.filter(F.col("doc_id") % 3 != 0)
        .select("bucket")
        .localCheckpoint(eager=True)
    )
    schema = "doc_id long, source string, bucket long, wave long"
    # Seed the sink with a zero-row file carrying the output schema:
    # P04_DRIFT_GATE_NANO's meaning shifts with scale factor, so a
    # wave where the gate rejects EVERY source is plausible at
    # untested SFs — foreachBatch would then append no data files and
    # the final read would die with an unrelated-looking missing-path
    # error instead of returning the honest zero-row answer.
    spark.createDataFrame(
        [], "doc_id long, source string, wave long, drift_nano long"
    ).write.mode("overwrite").parquet(sink)

    def gate(bdf: DataFrame, _bid: int) -> None:
        g, pa, pc = _psi_terms(bdf.select("source", "bucket"), ref)
        term = F.floor((pa - pc) * F.col("lp_us") * 1_000).cast("long")
        drift = (
            g.select("source", term.alias("t"))
            .groupBy("source")
            .agg(F.sum("t").cast("long").alias("drift_nano"))
        )
        ok = drift.filter(F.col("drift_nano") <= P04_DRIFT_GATE_NANO)
        bdf.join(F.broadcast(ok), "source").select(
            "doc_id", "source", "wave", "drift_nano"
        ).write.mode("append").parquet(sink)

    # land wave N, then run — the st10 cadence; each availableNow run
    # sees only its wave's files (checkpoint ledger), one micro-batch
    for wave in (0, 1):
        batch.filter(F.col("doc_id") % 2 == wave).withColumn(
            "wave", F.lit(wave).cast("long")
        ).write.mode("append").parquet(src)
        run_available_now(
            spark.readStream.schema(schema).parquet(src), ckpt, gate
        )

    return spark.read.parquet(sink).select(
        "doc_id", "source", "wave", "drift_nano"
    )


def _st12_drift_sql(prefix: str) -> str:
    return f"""{prefix}drift AS (
  SELECT source,
         CAST(SUM(CAST(floor((pa - pc)
                * CAST(floor(ln(pa / pc) * 1000000) AS BIGINT)
                * 1000) AS BIGINT)) AS BIGINT) AS drift_nano
  FROM {prefix}p GROUP BY 1
)"""


def _st12_wave_sql(wave: int, prefix: str) -> str:
    return f"""SELECT bt.doc_id, bt.source,
       CAST({wave} AS BIGINT) AS wave, d.drift_nano
FROM batch bt JOIN {prefix}drift d ON d.source = bt.source
WHERE bt.doc_id % 2 = {wave}
  AND d.drift_nano <= {P04_DRIFT_GATE_NANO}"""


SQL_ST12 = f"""
WITH {_psi_qb_sql()},
batch AS (SELECT * FROM qb WHERE doc_id % 3 = 0),
corp AS (SELECT bucket FROM qb WHERE doc_id % 3 <> 0),
w0 AS (SELECT source, bucket FROM batch WHERE doc_id % 2 = 0),
w1 AS (SELECT source, bucket FROM batch WHERE doc_id % 2 = 1),
{_psi_grid_sql("w0", "corp", prefix="a_")},
{_psi_grid_sql("w1", "corp", prefix="b_")},
{_st12_drift_sql("a_")},
{_st12_drift_sql("b_")}
{_st12_wave_sql(0, "a_")}
UNION ALL
{_st12_wave_sql(1, "b_")}
"""


# per-source token budget for the x22/st13 composer entries; defined
# here because SQL_ST13 (module-time f-string) is the first use
X22_BUDGET_TOKENS = 2_000


def _budget_admit(keyed: DataFrame, spent: DataFrame | None = None) -> DataFrame:
    """The x22/st13 budget-cut admission rule, SINGLE-SOURCED (st13's
    contract is literally "x22 per wave", so the hash salt, ordering,
    and boundary rule must not be spelled twice): rows (doc_id,
    source, n_tok, ...) are ordered per source by
    md5('budget:'||doc_id) with a doc_id tie-break, and a row is
    admitted iff already-spent + tokens-before-it < X22_BUDGET_TOKENS.
    ``spent`` is an optional broadcast (source, _spent) ledger —
    st13's cross-wave state; x22 passes None (zero spend). Admitted
    rows keep a ``_cum`` column (exact BIGINT tokens-before within
    this admission pass)."""
    w = (
        Window.partitionBy("source")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = keyed.withColumn(
        "_h",
        F.md5(F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))),
    ).withColumn(
        "_cum",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long"),
    )
    if spent is not None:
        ordered = ordered.join(F.broadcast(spent), "source", "left")
        base = F.coalesce(F.col("_spent"), F.lit(0))
    else:
        base = F.lit(0)
    return ordered.filter(base + F.col("_cum") < X22_BUDGET_TOKENS)


def q_st13_stream_budget_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming token-budget admission — x22's composer run PER
    ARRIVING WAVE with the budget ledger persisted in the SINK (the
    st08 keep-state-in-the-table discipline): each ``availableNow``
    run reads how many tokens every source has already spent, admits
    its wave's docs in the x22 hash order until the per-source budget
    is exhausted, and appends (doc_id, source, n_tok, wave). Across
    waves, ARRIVAL order trumps hash order — that is the honest
    semantics of spending a budget over time, and exactly what the
    unrolled two-wave oracle states (wave 1's cut starts from wave
    0's spend, not from a global re-sort). Replay == batch: exact
    BIGINT token sums, md5 ordering, no floats anywhere. Scale: per
    wave one bounded window sort over the wave (the x22 exchange) and
    one |admitted-so-far| sink scan aggregated to |sources| rows and
    broadcast."""
    import os
    import shutil

    from alternating_least_squares_spark.streaming import run_available_now

    base = _scratch_path(
        "alternating_ls_st13", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    spark.createDataFrame(
        [], "doc_id long, source string, n_tok long, wave long"
    ).write.mode("overwrite").parquet(sink)
    schema = "doc_id long, source string, n_tok long, wave long"

    def gate(bdf: DataFrame, _bid: int) -> None:
        sess = bdf.sparkSession
        spent = (
            sess.read.parquet(sink)
            .groupBy("source")
            .agg(F.sum("n_tok").cast("long").alias("_spent"))
        )
        (
            _budget_admit(bdf, spent)
            .select("doc_id", "source", "n_tok", "wave")
            .write.mode("append")
            .parquet(sink)
        )

    # the st12 land-wave-then-run cadence: one micro-batch per wave
    for wave in (0, 1):
        keyed.filter(F.col("doc_id") % 2 == wave).withColumn(
            "wave", F.lit(wave).cast("long")
        ).write.mode("append").parquet(src)
        run_available_now(
            spark.readStream.schema(schema).parquet(src), ckpt, gate
        )

    return spark.read.parquet(sink).select(
        "doc_id", "source", "n_tok", "wave"
    )


SQL_ST13 = f"""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len({_toks_sql()}) AS BIGINT) AS n_tok,
         md5('budget:' || doc_id) AS h
  FROM documents WHERE text IS NOT NULL
),
w0 AS (
  SELECT doc_id, source, n_tok,
         CAST(coalesce(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cum_before
  FROM tk WHERE doc_id % 2 = 0
),
a0 AS (
  SELECT doc_id, source, n_tok, CAST(0 AS BIGINT) AS wave
  FROM w0 WHERE cum_before < {X22_BUDGET_TOKENS}
),
spent AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS s FROM a0 GROUP BY 1
),
w1 AS (
  SELECT t.doc_id, t.source, t.n_tok,
         CAST(coalesce(SUM(t.n_tok) OVER (
           PARTITION BY t.source ORDER BY t.h, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cum_before,
         coalesce(sp.s, 0) AS s
  FROM tk t LEFT JOIN spent sp ON t.source = sp.source
  WHERE t.doc_id % 2 = 1
),
a1 AS (
  SELECT doc_id, source, n_tok, CAST(1 AS BIGINT) AS wave
  FROM w1 WHERE s + cum_before < {X22_BUDGET_TOKENS}
)
SELECT * FROM a0 UNION ALL SELECT * FROM a1
"""


def q_st14_stream_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming weighted sample — x23's bottom-k draw maintained
    over arriving waves with the k-row ledger persisted in the SINK
    (the st08/st13 keep-state-in-the-table discipline). Per
    ``availableNow`` wave: compute the wave's ticket keys (the SAME
    ``_x23_keyed`` arithmetic the batch entry runs), union with the
    persisted ledger, dedupe on doc_id (an at-least-once redelivery
    must not let one doc occupy two of the k slots), keep the k
    smallest — and because bottom-k is a MERGEABLE sketch
    (bottom-k(bottom-k(A) ∪ B) = bottom-k(A ∪ B), associative,
    commutative, idempotent), the final ledger equals the batch x23
    over the whole corpus NO MATTER how the stream was waved. That is
    exactly what the oracle states: this entry shares SQL_X23
    verbatim (the t25/ac12 shared-oracle pattern), so the driver hash
    certifies replay == batch.

    Scale: state is k rows forever (never corpus-sized); per wave one
    scan of the wave + a k-row ledger read; the k-row collect in the
    merge is bounded BY CONSTRUCTION (k=100), the same bounded-scalar
    exception as the IPF loss collect. At 10⁹ docs/wave the wave-side
    top-k is TakeOrderedAndProject — k·partitions rows move, the
    corpus never does."""
    import os
    import shutil

    from alternating_least_squares_spark.streaming import run_available_now

    base = _scratch_path(
        "alternating_ls_st14", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    spark.createDataFrame([], _ST14_LEDGER_SCHEMA).write.mode(
        "overwrite"
    ).parquet(sink)

    def gate(bdf: DataFrame, _bid: int) -> None:
        _st14_apply_wave(bdf.sparkSession, sink, bdf)

    for wave in (0, 1):
        docs.filter(F.col("doc_id") % 2 == wave).write.mode(
            "append"
        ).parquet(src)
        run_available_now(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            ckpt,
            gate,
        )

    return (
        spark.read.parquet(sink)
        .orderBy("sample_key", "doc_id")
        .select("doc_id", "w", "sample_key")
    )


_ST14_LEDGER_SCHEMA = "doc_id long, w long, sample_key string"


def _st14_read_ledger(sess: SparkSession, sink: str) -> DataFrame:
    """Read the ledger, recovering from a crash mid-swap. The commit
    protocol (see ``_st14_apply_wave``) only renames a fully-written
    ``.tmp`` (Spark's ``_SUCCESS`` marker proves job commit), so on
    a missing ``sink`` exactly one of the two neighbors holds a
    complete ledger: ``.tmp`` with ``_SUCCESS`` is the NEWER state
    (crash between the two renames), else ``.old`` is the previous
    state (crash can't lose it — it is only deleted after ``sink``
    exists again)."""
    import os

    if not os.path.exists(sink):
        tmp, old = sink + ".tmp", sink + ".old"
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, sink)
        elif os.path.exists(old):
            os.rename(old, sink)
    return sess.read.parquet(sink)


def _st14_apply_wave(
    sess: SparkSession, sink: str, bdf: DataFrame
) -> None:
    """Merge one wave into the bottom-k ledger at ``sink``: wave-side
    top-k (TakeOrderedAndProject), union with the persisted ledger,
    dedupe on doc_id (redelivery idempotence — one doc must never
    hold two of the k slots), keep the k smallest. The collect is
    bounded at <= 2k rows by construction.

    Ledger durability (ADVICE r14): a plain ``mode('overwrite')``
    deletes the sink before rewriting, so a crash mid-write would
    permanently lose every previously-committed wave (checkpointed
    batches are never redelivered). Instead the new ledger is
    written to ``sink.tmp`` and swapped in with atomic directory
    renames — ``sink``→``sink.old``, ``sink.tmp``→``sink`` — the
    st08 transactional discipline at the filesystem level. Every
    crash point leaves a complete ledger recoverable by
    ``_st14_read_ledger``. Rename atomicity holds on POSIX and
    HDFS; an object store without atomic rename (S3) would route
    this through the snapshot table's manifest commit instead."""
    import os
    import shutil

    wave_topk = (
        _x23_keyed(bdf).orderBy("sample_key", "doc_id").limit(X23_K)
    )
    merged = (
        _st14_read_ledger(sess, sink)
        .unionByName(wave_topk)
        .dropDuplicates(["doc_id"])
        .orderBy("sample_key", "doc_id")
        .limit(X23_K)
        .collect()
    )
    tmp, old = sink + ".tmp", sink + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    sess.createDataFrame(
        merged, _ST14_LEDGER_SCHEMA
    ).write.mode("overwrite").parquet(tmp)
    os.rename(sink, old)
    os.rename(tmp, sink)
    shutil.rmtree(old, ignore_errors=True)


ST15_N_LATE = 25  # planted late copies the watermark must drop


def _st15_real_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The on-time universe: the real events table with exactly the
    w05 column contract (ts as micros timestamp), so the streaming
    aggregate shares SQL_W05 verbatim."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )


def _st15_late_rows(ev: DataFrame, mn) -> DataFrame:
    """The planted LATE wave: copies of the ST15_N_LATE lowest-id
    events re-stamped to the corpus's EARLIEST timestamp — their
    1-hour window closed the moment run 1's watermark advanced, so
    run 2 must drop every one of them. Offset ids keep them
    distinguishable in the batch twin."""
    return ev.orderBy("event_id").limit(ST15_N_LATE).select(
        (F.col("event_id") + F.lit(1_000_000_000)).alias("event_id"),
        F.lit(mn).alias("ts"),
        "event_type",
        "value",
    )


def q_st15_watermark_late_drop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark LATE-DATA semantics, demonstrated rather than merely
    configured (VERDICT r14 #5 — the one §2.D streaming axis st01 to
    st14 exercise only implicitly: every prior st entry proves
    replay == batch under waves where nothing is late; none proves a
    watermark actually DROPPING an event). Append-mode 1-hour
    tumbling aggregate (w05's exact arithmetic) over a watermarked
    file stream, run as two availableNow waves against one
    checkpoint:

    - wave 1: ALL real events, one micro-batch (watermark starts at
      0, so nothing real is ever dropped — the wave split is chosen,
      not incidental). At batch end the checkpoint commits watermark
      = max(ts) − 1 h, finalizing and EMITTING every window older
      than that.
    - wave 2: ST15_N_LATE planted copies of real events re-stamped
      to the corpus's EARLIEST timestamp (their window is long
      finalized → the stateful operator's late-row filter discards
      them) plus one far-future sentinel (max(ts) + 3 h) whose only
      job is to push the watermark past every real window so the
      tail windows emit too. The sentinel's own window is never
      finalized (the watermark never passes it), so it cannot leak
      into the sink.

    The sink therefore holds EXACTLY the on-time aggregate — which
    is why this entry shares SQL_W05 verbatim (the st07 shared-
    oracle pattern): a hash match proves the planted late rows
    contributed NOTHING. The batch-minus-stream delta (= exactly the
    late rows' contribution to the earliest window) is pinned by a
    pytest. A < 3 h corpus time-span would make the proof vacuous —
    that degenerate regeneration fails loudly here instead.

    Scale: watermark state is O(open windows), not O(events); the
    late-drop filter runs scan-side before any shuffle, so late
    stragglers at 100 TB cost a scan predicate, never state growth —
    which is the entire point of watermarking."""
    import datetime
    import os
    import shutil

    base = _scratch_path(
        "alternating_ls_st15", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )

    ev = _st15_real_events(spark, sf_dir)
    b = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    mn, mx = b["mn"], b["mx"]
    if mx - mn < datetime.timedelta(hours=3):
        raise ValueError(
            f"events span {mx - mn} < 3 h: the late-drop proof would "
            "be vacuous (regenerated testdata changed shape — rechoose "
            "the planted timestamps)"
        )
    late = _st15_late_rows(ev, mn)
    sentinel = spark.createDataFrame(
        [(-1, mx + datetime.timedelta(hours=3), "_sentinel", 0.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )

    def run() -> int:
        q = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, "
                "value double"
            )
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(
                        F.col("value").cast("decimal(38,10)")
                    ).cast("double"),
                    6,
                ).alias("total_value"),
            )
            .select(
                F.unix_micros("w.start").alias("win_start_us"),
                F.unix_micros("w.end").alias("win_end_us"),
                "event_type",
                "n_events",
                "total_value",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )

    # The proof has two premises with different enforcement (review
    # r15): (a) no-data micro-batches must be ON — a session conf,
    # FORCED and restored here (the x18/x20/x24 discipline); tail
    # windows finalized by a wave's LAST data batch only emit in the
    # trailing no-data batch, so disabled it would silently lose
    # them. (b) wave 1 must land in ONE micro-batch — a property of
    # the SOURCE (a maxFilesPerTrigger-style reader option would
    # split it and let batch 1 advance the watermark over batch 2's
    # real events); not a session conf, so it cannot be forced, only
    # ASSERTED from query progress after the run, loud on violation.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(nodata_key)
    try:
        spark.conf.set(nodata_key, "true")
        ev.write.mode("append").parquet(src)  # wave 1: all on-time
        n1 = run()
        if n1 != 1:
            raise ValueError(
                f"wave 1 ran as {n1} data micro-batches, not 1: the "
                "nothing-real-is-dropped premise no longer holds "
                "(a maxFilesPerTrigger-style source option is set?)"
            )
        late.unionByName(sentinel).write.mode("append").parquet(src)
        run()  # wave 2: the late rows are DROPPED, the sentinel flushes
    finally:
        spark.conf.set(nodata_key, saved)
    return spark.read.parquet(sink)


SQL_ST15 = SQL_W05


def q_st16_outer_join_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join with DEFERRED null
    emission (VERDICT r15 #3 — the one stream-stream semantics
    st01–st15 still lacked): st06 proves the inner case and st15
    proves a watermark DROPPING a late row; this proves the other
    half of watermark semantics — an unmatched outer row is emitted
    with NULL match columns only once the watermark passes its join
    window, because only then is "no purchase can still arrive"
    provable. Same click→purchase attribution topology as st06
    (streaming/events.py attribution_join_stream, how="left_outer"),
    run as two availableNow waves against one checkpoint:

    - wave 1: ALL real events in one micro-batch. Matches emit
      immediately; the trailing no-data batch commits watermark =
      max(ts) − 1 h and evicts-and-NULL-emits only the unmatched
      clicks whose match window [click_ts, click_ts + 1 h] is fully
      below it (click_ts ≤ max(ts) − 2 h). Unmatched clicks in the
      last 2 h stay in state — emitted by NEITHER matching nor
      timeout yet, which is the deferral under test.
    - wave 2: two far-future sentinels (max(ts) + 3 h; a click under
      user −1 and a purchase under user −2, so they can match
      nothing, not even each other) whose only job is to advance BOTH
      sides' watermarks to max(ts) + 2 h, past every real click's
      window — flushing the deferred tail as NULL rows. The click
      sentinel's own window is never passed (the watermark stalls 2 h
      short of it), so it stays in state and cannot leak; the
      purchase sentinel is on the non-preserved side and unmatched
      purchases never emit in a left join.

    The sink therefore holds EXACTLY the batch left join of the real
    events — the declarative oracle below; a hash match proves both
    that every deferred NULL row eventually emitted and that nothing
    emitted twice (a double emission would duplicate a click_id and
    break the hash). The wave split itself (deferred rows absent
    after wave 1, present after wave 2) is pinned by a pytest.

    Scale: join state is O(events per horizon) per the attribution
    topology, eviction is watermark-driven, and the NULL-emission
    path is the same state scan the inner join already pays — at
    100 TB the outer variant costs nothing extra beyond keeping
    unmatched rows until their window closes, which is the minimum
    any correct implementation must pay."""
    import datetime
    import os
    import shutil

    from alternating_least_squares_spark.streaming import (
        attribution_join_stream,
    )

    base = _scratch_path(
        "alternating_ls_st16", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    src, sink, ckpt = (
        os.path.join(base, d) for d in ("src", "sink", "_ckpt")
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    mn, mx = b["mn"], b["mx"]
    if mx - mn < datetime.timedelta(hours=3):
        raise ValueError(
            f"events span {mx - mn} < 3 h: the deferred-emission proof "
            "would be vacuous (regenerated testdata changed shape)"
        )

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def run() -> int:
        clicks = (
            spark.readStream.schema(schema).parquet(src)
            .filter(F.col("event_type") == "click")
        )
        purchases = (
            spark.readStream.schema(schema).parquet(src)
            .filter(F.col("event_type") == "purchase")
        )
        q = (
            attribution_join_stream(
                clicks, purchases, horizon="1 hour", how="left_outer"
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )

    # Same two premises as st15 (review r15): no-data micro-batches
    # FORCED on (outer emission for windows finalized by a wave's
    # last data batch happens in the trailing no-data batch), and
    # wave 1 must land in ONE micro-batch (a split would advance the
    # watermark over the second batch's real rows) — asserted from
    # query progress, loud on violation.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(nodata_key)
    try:
        spark.conf.set(nodata_key, "true")
        ev.write.mode("append").parquet(src)  # wave 1: all on-time
        n1 = run()
        if n1 != 1:
            raise ValueError(
                f"wave 1 ran as {n1} data micro-batches, not 1: the "
                "nothing-real-is-dropped premise no longer holds"
            )
        sentinels = spark.createDataFrame(
            [
                (-1, mx + datetime.timedelta(hours=3), -1, "click", 0.0),
                (-2, mx + datetime.timedelta(hours=3), -2, "purchase", 0.0),
            ],
            schema,
        )
        sentinels.write.mode("append").parquet(src)
        run()  # wave 2: the deferred outer tail flushes as NULL rows
    finally:
        spark.conf.set(nodata_key, saved)
    return spark.read.parquet(sink)


SQL_ST16 = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id AS user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def q_st17_streaming_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming GDPR erasure feed
    (streaming/events.stream_erase_keys_from_snapshot) — the two
    newest subsystems composed: erasure-request files stream in
    (three waves, maxFilesPerTrigger=1 forcing three micro-batches)
    and foreachBatch applies each batch's key set to the snapshot
    table as ONE merge-on-read ``delete_keys_dv`` commit stamped with
    ``erasure_batch_id`` (the st08 txn-ledger discipline, so
    at-least-once redelivery never double-commits — redelivery is
    pinned in tests/test_streaming.py). Asserted in-query: exactly 3
    batches ran, the table gained exactly 3 delete_dv versions with
    strictly increasing ledger stamps, and every one carried the
    creation file list BYTE-IDENTICAL with a non-empty sidecar —
    merge-on-read under a streaming driver, loud if a rewrite or a
    batch merge sneaks in. The oracle is the one-shot declarative
    erasure over the same key predicate, so the hash proves replayed
    feed == batch erasure. At 100 TB: requests stream continuously;
    each batch costs one distributed semi-join position capture + one
    tiny sidecar write; compaction folds the DVs on its own cadence."""
    import os
    import shutil

    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_erase_keys_from_snapshot,
    )

    base = _scratch_path(
        "alternating_ls_st17", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    table, req, ckpt = (
        os.path.join(base, d) for d in ("table", "requests", "_ckpt")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        table,
        key="o_orderkey",
    )
    files0 = [f["path"] for f in SN._read_manifest(table, 0)["files"]]
    keys = orders.filter(F.col("o_custkey") % 13 == 5).select("o_orderkey")
    # three request waves, one file each (repartition(1)) so
    # maxFilesPerTrigger=1 yields exactly three erasure micro-batches
    for w in range(3):
        keys.filter(F.col("o_orderkey") % 3 == w).repartition(1).write.mode(
            "append"
        ).parquet(req)
    n = stream_erase_keys_from_snapshot(
        spark,
        req,
        ckpt,
        table,
        T.StructType([T.StructField("o_orderkey", T.LongType())]),
    )
    versions = SN._list_versions(table)
    if n != 3 or versions != [0, 1, 2, 3]:
        raise ValueError(
            f"st17: expected 3 erasure batches/commits, got n={n}, "
            f"versions={versions} (batch merge or ledger skip?)"
        )
    stamps = []
    for v in (1, 2, 3):
        m = SN._read_manifest(table, v)
        if [f["path"] for f in m["files"]] != files0:
            raise ValueError(
                f"st17: erasure v{v} changed the data file list — "
                "the merge-on-read contract is broken"
            )
        if len(m.get("dvs", [])) != v or m["dvs"][-1]["rows"] == 0:
            raise ValueError(
                f"st17: erasure v{v} wrote no position sidecar "
                "(vacuous — regenerated testdata matched nothing?)"
            )
        stamps.append(m["erasure_batch_id"])
    if stamps != sorted(set(stamps)) or len(stamps) != 3:
        raise ValueError(f"st17: non-monotonic erasure ledger {stamps}")
    return SN.read_snapshot(spark, table)


SQL_ST17 = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 6) AS price
FROM orders
WHERE NOT (o_custkey % 13 = 5)
"""


def q_st18_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming replication feed
    (streaming/events.stream_cdc_apply_to_snapshot) — CDC APPLY, the
    lakehouse streaming composition ac08+ac09 left open: the source
    table's change feeds (``diff_versions`` per commit, materialized
    as one file per wave with PINNED names and mtimes so the file
    source replays them in commit order) stream into a replica cloned
    at v0; each micro-batch applies inserts+updates as ONE
    ``merge_upsert`` and deletes as ONE merge-on-read
    ``delete_keys_dv`` carrying the checkpoint-scoped ``(cdc_feed,
    cdc_batch_id)`` ledger stamp (the st17/st08 discipline — the
    stamp rides the batch's FINAL commit, issued even when the batch
    has no deletes, so a partially-applied batch is never marked
    done). Asserted in-query: exactly 3 change batches applied; the
    replica history is exactly [create, merge, delete_dv, delete_dv,
    merge, delete_dv] (wave 1 = inserts+updates → merge + stamped
    no-op delete; wave 2 = pure deletes → one stamped DV delete;
    wave 3 = pure updates → merge + stamped no-op delete); ledger
    stamps strictly increase [0, 1, 2] on the delete commits and
    merges stay unstamped. The oracle restates the source's
    surviving-row state at head, so the hash proves replayed feed ==
    source — replication without a full copy. At 100 TB: each batch
    costs one file-pruned MERGE over touched keys + one position
    sidecar, both O(batch), never O(table)."""
    import glob
    import os
    import shutil

    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_cdc_apply_to_snapshot,
    )

    src = _snapshot_table_for(spark, sf_dir, "st18src")
    # a third source commit so one wave is pure updates: %8==3 keys
    # (all live: 3 % 4 != 0 and never deleted) at price*3
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("price")
    )
    SN.merge_upsert(
        orders.filter(F.col("o_orderkey") % 8 == 3).select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("price") * 3, 6).alias("price"),
        ),
        src,
    )
    base = _scratch_path(
        "alternating_ls_st18", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    replica, req, ckpt = (
        os.path.join(base, d) for d in ("replica", "changes", "_ckpt")
    )
    SN.create_table(
        SN.read_snapshot(spark, src, version=0), replica, key="o_orderkey"
    )
    os.makedirs(req, exist_ok=True)
    for i, (a, b) in enumerate([(0, 1), (1, 2), (2, 3)]):
        wave = SN.diff_versions(spark, src, a, b).select(
            "o_orderkey",
            "change_type",
            F.col("o_custkey_new").alias("o_custkey"),
            F.col("price_new").alias("price"),
        )
        tmp = os.path.join(base, f"_w{i}")
        wave.repartition(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(req, f"wave{i}.parquet")
        shutil.copyfile(part, dst)
        # apply order IS the contract: pin name and mtime together
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    n = stream_cdc_apply_to_snapshot(
        spark,
        req,
        ckpt,
        replica,
        T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("change_type", T.StringType()),
                T.StructField("o_custkey", T.LongType()),
                T.StructField("price", T.DoubleType()),
            ]
        ),
    )
    versions = SN._list_versions(replica)
    if n != 3 or versions != [0, 1, 2, 3, 4, 5]:
        raise ValueError(
            f"st18: expected 3 applied batches over versions [0..5], "
            f"got n={n}, versions={versions} (wave merge or reorder?)"
        )
    ops = []
    stamps = []
    for v in versions[1:]:
        m = SN._read_manifest(replica, v)
        ops.append(m["operation"])
        if m["operation"] == "delete_dv":
            if m.get("cdc_feed") is None:
                raise ValueError(f"st18: unstamped delete commit v{v}")
            stamps.append(m["cdc_batch_id"])
        elif "cdc_batch_id" in m:
            raise ValueError(f"st18: stamp on non-final commit v{v}")
    if ops != ["merge", "delete_dv", "delete_dv", "merge", "delete_dv"]:
        raise ValueError(f"st18: unexpected op history {ops}")
    if stamps != [0, 1, 2]:
        raise ValueError(f"st18: non-monotonic cdc ledger {stamps}")
    return SN.read_snapshot(spark, replica)


# replayed feed replica == the source's surviving rows at head:
# v1 doubles %8<=1 (inserting %8==0), v2 deletes %8==2, v3 triples %8==3
SQL_ST18 = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 8 = 3
            THEN round(round(o_totalprice, 6) * 3, 6)
            WHEN o_orderkey % 8 <= 1
            THEN round(round(o_totalprice, 6) * 2, 6)
            ELSE round(o_totalprice, 6) END AS price
FROM orders
WHERE (o_orderkey % 4 != 0 OR o_orderkey % 8 <= 1)
  AND o_orderkey % 8 != 2
"""


def q_st19_streaming_fold_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erasure feed with the compaction policy wired in (the
    st17 + ac16 composition; streaming/events.stream_erase_with_auto_fold):
    erasure-request waves stream into the snapshot table as stamped
    merge-on-read deletes, and after each applied batch the DV debt
    gauge — read from manifests alone — triggers ``cluster_optimize``
    ONLY when debt_ppm exceeds the threshold. The threshold is pinned
    to the FIRST wave's exact post-delete debt, so wave 1 must NOT
    fold (debt == threshold declines) and a later wave must — both
    sides of the policy are evidential, asserted against an exact
    in-entry SIMULATION of (file_rows, dv_positions, versions) that
    replays the same integer arithmetic the gauge uses. Folding is
    CONTENT-neutral (it rewrites the DV-applied live rows), so the
    oracle — the one-shot declarative erasure, st17's — hash-proves
    replayed-feed-with-folds == batch erasure. At 100 TB this is the
    steady state: requests stream all day, each batch costs one
    semi-join position capture + one sidecar, and the table folds
    itself exactly as often as reads start bleeding — never
    per-batch, never on a blind schedule."""
    import os
    import shutil

    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_erase_with_auto_fold,
    )

    base = _scratch_path(
        "alternating_ls_st19", sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(base, ignore_errors=True)
    table, req, ckpt = (
        os.path.join(base, d) for d in ("table", "requests", "_ckpt")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
    )
    SN.create_table(
        orders.repartitionByRange(AC13_FILES, "o_orderkey"),
        table,
        key="o_orderkey",
    )
    n0 = orders.count()
    keys = orders.filter(F.col("o_custkey") % 13 == 5).select("o_orderkey")
    wave_counts = []
    for w in range(3):
        kw = keys.filter(F.col("o_orderkey") % 3 == w)
        wave_counts.append(kw.count())
        kw.repartition(1).write.mode("append").parquet(req)
    threshold = wave_counts[0] * 1_000_000 // n0
    # exact shadow simulation of the gauge/fold arithmetic
    file_rows, dv, ver = n0, 0, 0
    sim_folds, sim_ops = [], []
    for i, wc in enumerate(wave_counts):
        dv += wc
        ver += 1
        sim_ops.append("delete_dv")
        if dv * 1_000_000 // file_rows > threshold:
            file_rows -= dv
            dv = 0
            ver += 1
            sim_ops.append("cluster_optimize")
            sim_folds.append((i, ver))
    if not sim_folds or len(sim_folds) == 3 or min(wave_counts) == 0:
        raise ValueError(
            f"st19: planted premise broke — waves {wave_counts} with "
            f"threshold {threshold} must fold at least once and "
            "decline at least once"
        )
    n, folds = stream_erase_with_auto_fold(
        spark,
        req,
        ckpt,
        table,
        T.StructType([T.StructField("o_orderkey", T.LongType())]),
        threshold,
        AC13_FILES,
    )
    versions = SN._list_versions(table)
    ops = [SN._read_manifest(table, v)["operation"] for v in versions[1:]]
    if n != 3 or folds != sim_folds or ops != sim_ops:
        raise ValueError(
            f"st19: stream disagreed with the gauge simulation — "
            f"n={n}, folds={folds} (sim {sim_folds}), ops={ops} "
            f"(sim {sim_ops})"
        )
    g = SN.dv_debt_gauge(table)
    if g["dv_positions"] != dv or g["file_rows"] != file_rows:
        raise ValueError(f"st19: final gauge {g} != sim ({file_rows}, {dv})")
    return SN.read_snapshot(spark, table)


SQL_ST19 = SQL_ST17  # folds are content-neutral: same erasure survivors


def q_t19_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM scoring — t18's context-aware upgrade
    (the KenLM-shaped filter of CCNet-style curation): docs scored by
    average ln p(w₂|w₁) with add-one smoothing,
    p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V). Word salad with plausible
    unigrams scores low here because its TRANSITIONS are rare — the
    failure mode a unigram LM can't see.

    Same distributed shape as t18 (explode → keyed counts → broadcast
    LM join → per-doc agg). Corpus-scan economics at 100 TB: the
    corpus is read exactly TWICE (the bigram-count pass and the
    scoring pass) — the context counts c(w₁·), the vocabulary V
    (= distinct tokens appearing in any bigram, the consistent
    smoothing base both engines share), and the broadcast LM are all
    DERIVED from the checkpointed vocab-sized bigram counts, never
    from another corpus pass. Docs with < 2 tokens have no bigrams
    and drop out on both engines (shingles' short-doc sentinel is
    filtered, not scored). Same integer micro-nat floor discipline:
    per-doc sums are exact BIGINTs.

    The documents scan ships as ONE split at bench scale, which
    serialized the HOF-interpreted shingle explode onto one core —
    25 s of a 26 s query; spread_if_narrow re-widens narrow inputs
    before both passes, and the ≥2-token filter uses token_count (the
    array-free twin) so tokenization isn't paid twice per row."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    docs = spread_if_narrow(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    ).filter(TX.token_count(F.col("text")) >= 2)
    bg = docs.select(
        "doc_id", F.explode(TX.shingles(F.col("text"), 2)).alias("bg")
    )
    # vocab-sized; feeds c1, V, and the LM join without re-reading docs
    c2 = (
        bg.groupBy("bg")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=True)
    )
    w1 = F.substring_index("bg", " ", 1)
    w2 = F.substring_index("bg", " ", -1)
    c1 = c2.groupBy(w1.alias("w1")).agg(F.sum("c2").alias("c1"))
    vocab = (
        c2.select(w1.alias("t"))
        .unionByName(c2.select(w2.alias("t")))
        .agg(F.count_distinct("t"))
        .first()[0]
    )
    lm = (
        c2.withColumn("w1", w1)
        .join(F.broadcast(c1), "w1")
        .select(
            "bg",
            F.floor(
                F.log(
                    (F.col("c2") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.lit(int(vocab))).cast("double")
                )
                * 1_000_000
            ).alias("lp_us"),
        )
    )
    return (
        bg.join(F.broadcast(lm), "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_us").alias("sum_lp_us"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_us",
            F.round(
                F.col("sum_lp_us").cast("double")
                / F.col("n_bigrams")
                / 1_000_000,
                6,
            ).alias("avg_logprob"),
        )
    )


SQL_T19 = f"""
WITH tk AS (SELECT doc_id, {_toks_sql()} AS toks FROM documents),
     bg AS (
       SELECT doc_id,
              unnest(list_transform(range(len(toks) - 1),
                     i -> toks[i+1] || ' ' || toks[i+2])) AS bg
       FROM tk WHERE len(toks) >= 2
     ),
     c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
     c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
            CAST(sum(c2) AS BIGINT) AS c1
            FROM c2 GROUP BY 1),
     v AS (
       SELECT count(DISTINCT t) AS vocab
       FROM (SELECT split_part(bg, ' ', 1) AS t FROM c2
             UNION SELECT split_part(bg, ' ', 2) FROM c2)
     ),
     lm AS (
       SELECT c2.bg,
              CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE)
                            / (c1.c1 + v.vocab)) * 1000000)
                   AS BIGINT) AS lp_us
       FROM c2
       JOIN c1 ON c1.w1 = split_part(c2.bg, ' ', 1)
       CROSS JOIN v
     )
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(lp_us) AS BIGINT) AS sum_lp_us,
       round(CAST(sum(lp_us) AS DOUBLE) / count(*) / 1000000, 6)
         AS avg_logprob
FROM bg JOIN lm USING (bg)
GROUP BY 1
"""


def q_t16_normalized_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-THEN-dedup — the knob between t05's byte-exact
    groups and d-suite near-dup: casefold, strip non-alphanumerics,
    collapse whitespace (functions/dedup.normalize_text, shared with
    the pytest fixture), then group by the normalized hash. Catches
    "same text, different casing/punctuation" duplicates that are
    byte-distinct but LSH-overkill.

    The testdata has no such duplicates at any sf, so the raw query
    would pass its oracle on 0 rows — vacuously (ADVICE r5). To make
    the row evidential at every sf, the input unions in a
    deterministic casing/punctuation VARIANT of each ``doc_id < 50``
    document (uppercased, '!!' appended, id offset by 10M): every
    variant must land in its original's group, so the result has ≥50
    rows whose keeper/count the hash actually checks. The oracle
    builds the identical union."""
    from alternating_least_squares_spark.functions.dedup import (
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.upper(F.coalesce(F.col("text"), F.lit(""))), F.lit("!!")
        ).alias("text"),
    )
    hashed = docs.unionByName(variants).select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("norm_md5")
    )
    return (
        hashed.groupBy("norm_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


SQL_T16 = """
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, upper(coalesce(text, '')) || '!!'
  FROM documents WHERE doc_id < 50
),
n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(coalesce(text, '')),
                              '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'))) AS norm_md5
  FROM d
)
SELECT norm_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper
FROM n GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_rc04_materialized_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized path per node ("root/…/node", the ltree /
    dirname-style encoding that powers prefix-filter subtree queries):
    the doubling closure's (anc, dist) pairs per node, sorted INSIDE
    the aggregation (array_sort over structs — repartitioning can't
    flip the order, the t14 lesson) and joined with '/'. Oracle:
    string_agg ORDER BY depth DESC over the recursive walk."""
    _, nodes, edges = _part_hierarchy(spark, sf_dir)
    cl = H.ancestor_closure(nodes, edges)
    return (
        cl.groupBy(F.col(H.DESC).alias("node"))
        .agg(
            F.array_join(
                F.transform(
                    F.reverse(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col(H.DIST).alias("d"),
                                    F.col(H.ANC).alias("a"),
                                )
                            )
                        )
                    ),
                    lambda x: x["a"].cast("string"),
                ),
                "/",
            ).alias("path"),
            F.max(H.DIST).cast("long").alias("depth"),
        )
    )


SQL_RC04 = """
WITH RECURSIVE up AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth FROM part
  UNION ALL
  SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10
)
SELECT node,
       string_agg(CAST(cur AS VARCHAR), '/' ORDER BY depth DESC) AS path,
       CAST(max(depth) AS BIGINT) AS depth
FROM up GROUP BY 1
"""


def q_ipf_cost_per_visit_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship chain (E2 seed + rescaled marginals + IPF + E3
    finale) as a FIXED-2-sweep deterministic variant so the end-to-end
    pipeline — not just the loop core (a17/a21) — gets a hash-checked
    oracle row. Integer micro-unit quantization throughout; see
    ``plans/cost_allocation.py:cost_per_visit_fixed`` for the
    determinism contract."""
    return CA.cost_per_visit_fixed(spark, sf_dir, sweeps=2)


def _ipf_fixed_oracle(sweeps: int = 2) -> str:
    hour = f"(({_floor_div_duck('epoch_ns(ts)', NS_PER_HOUR)} % 24) + 24) % 24"
    ctes = [
        "base AS (SELECT l_partkey AS r, l_orderkey % 24 AS c, "
        "COUNT(*) AS visits, "
        "CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) "
        "* 1000000.0) AS BIGINT)) AS BIGINT) AS rev_us "
        "FROM lineitem GROUP BY 1, 2)",
        "x AS (SELECT r, CAST(SUM(rev_us) AS BIGINT) AS m_us "
        "FROM base GROUP BY 1 HAVING CAST(SUM(rev_us) AS BIGINT) != 0)",
        "xt AS (SELECT CAST(SUM(m_us) AS BIGINT) AS t FROM x)",
        f"yr AS (SELECT {hour} AS c, "
        "CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) "
        "AS raw_us FROM events GROUP BY 1 "
        "HAVING CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) "
        "AS BIGINT) != 0)",
        "yt AS (SELECT CAST(SUM(raw_us) AS BIGINT) AS t FROM yr)",
        "y AS (SELECT yr.c, CAST(floor(CAST(yr.raw_us AS DOUBLE) * "
        "(CAST(xt.t AS DOUBLE) / CAST(yt.t AS DOUBLE))) AS BIGINT) AS m_us "
        "FROM yr, xt, yt)",
        "m0 AS (SELECT x.r, y.c, "
        "COALESCE(b.visits, 0) * 1000000 + 1 AS v_us "
        "FROM x CROSS JOIN y "
        "LEFT JOIN base b ON b.r = x.r AND b.c = y.c)",
    ]
    passes, last = _rake_fixed_ctes(
        "m0", ("r", "c"), [("r", "x"), ("c", "y")], sweeps
    )
    return (
        "WITH " + ",\n".join(ctes + passes) + f"""
SELECT m.r AS part, m.c AS hour, m.v_us AS cost_us,
       CAST(COALESCE(b.visits, 0) AS BIGINT) AS visits,
       CASE WHEN COALESCE(b.visits, 0) = 0 THEN 0
            ELSE CAST(floor(CAST(m.v_us AS DOUBLE) /
                            CAST(b.visits AS DOUBLE)) AS BIGINT)
       END AS cost_per_visit_us
FROM {last} m LEFT JOIN base b ON b.r = m.r AND b.c = m.c
"""
    )


SQL_IPF_FIXED = _ipf_fixed_oracle()


# Eleven tokens, so the planted span yields windows of its own even on
# NULL-text documents; the SQL twin repeats the literal verbatim.
_T21_SPAN = (
    "shared canonical span alpha bravo charlie delta echo foxtrot golf hotel"
)


def _t21_stream(
    spark: SparkSession, sf_dir: str, pin_tokens: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared t21/t23 stream builder: planted documents → token
    stream → hashed 8-gram windows (checkpointed — both entries read
    them twice) → repeated-window key set. ``pin_tokens`` checkpoints
    the token stream too, for t23's reconstruction pass (t21 never
    re-reads it, so it skips that materialization)."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    k = 8
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 1,
            F.concat(
                F.lit(_T21_SPAN + " "), F.coalesce(F.col("text"), F.lit(""))
            ),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")), F.lit(" " + _T21_SPAN)
            ),
        )
        .otherwise(F.col("text"))
        .alias("ptext"),
    )
    toks = TX.tokens(F.col("ptext"))
    tokrows = spread_if_narrow(docs, "doc_id").select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    if pin_tokens:
        tokrows = tokrows.localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", j).over(w) for j in range(1, k)
    ]
    gram = F.concat_ws(" ", *leads)
    win = (
        tokrows.select(
            "doc_id", "pos", gram.alias("gram"), leads[-1].alias("_last")
        )
        # lead(k-1) NULL ⇔ the window would run past the doc's end
        .filter(F.col("_last").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.lit(1), "gram").alias("h1"),
            F.xxhash64(F.lit(2), "gram").alias("h2"),
        )
        .localCheckpoint(eager=True)  # two consumers in both entries
    )
    rep = (
        win.groupBy("h1", "h2")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h1", "h2", F.lit(True).alias("_r"))
    )
    return tokrows, win, rep


def q_t21_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated k-token span detection — the
    SUBSTRING-level rung of the dedup ladder (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    whole-doc dedup (t05/d03) and line dedup (t20) miss long spans
    duplicated MID-document, the signal substring dedup trains on.
    Per document: every 8-token window, how many of those windows
    recur in ≥ 2 distinct documents, and the earliest repeated
    position — exactly the per-doc statistics a span-removal pass
    keys on.

    Distributed shape (the t20 two-pass economics, with two measured
    rewrites): the token stream is exploded once and grams assembled
    by lead() windows over (doc_id, pos) — COMPILED expressions
    reusing the doc_id partitioning (no new exchange, one local
    sort), measured 4x faster than the transform-over-index-sequence
    generator, whose lambda runs interpreted (the t19 HOF lesson
    rediscovered per-window). The window stream is localCheckpoint'd
    once for its two consumers (repeated-set groupBy + membership
    join) so the explode is never computed twice. Gram text never
    reaches the output, so only equality classes matter: grams ride
    as a 128-bit hash PAIR (two salted xxhash64s, 16 bytes/window in
    the shuffle instead of ~60-byte text) — at 128 bits the birthday
    bound stays ≪ 2⁻⁶⁰ even at 10¹² distinct grams, where 64 bits
    alone would already have expected collisions (n²/2⁶⁵ > 1). The
    membership join is broadcast here (repeated grams are rare in
    the synthetic corpus); on a real web corpus the repeated set is
    large — drop the hint and let AQE choose the shuffled join.

    The synthetic corpus shares no natural 8-gram across documents,
    so a fixed span is planted at DIFFERENT positions (prefix on
    doc_id%7==1, suffix on %7==2) — position-independence is the
    property that distinguishes span detection from line/doc dedup,
    and min_rep_pos hash-checks it at every sf."""
    _, win, rep = _t21_stream(spark, sf_dir)
    return (
        win.join(F.broadcast(rep), ["h1", "h2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("_r"), 1).otherwise(0))
            .cast("long")
            .alias("n_rep"),
            F.min(F.when(F.col("_r"), F.col("pos")))
            .cast("long")
            .alias("min_rep_pos"),
        )
    )


SQL_T21 = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1
              THEN '{_T21_SPAN} ' || coalesce(text, '')
              WHEN doc_id % 7 = 2
              THEN coalesce(text, '') || ' {_T21_SPAN}'
              ELSE text END AS ptext
  FROM documents
),
tk AS (SELECT doc_id, {_toks_sql("ptext")} AS toks FROM d),
w AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+8], ' ') AS gram
  FROM tk, UNNEST(range(len(toks) - 7)) t(i)
),
r AS (SELECT gram FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
SELECT w.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN r.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_rep,
       CAST(min(CASE WHEN r.gram IS NOT NULL THEN pos END) AS BIGINT)
         AS min_rep_pos
FROM w LEFT JOIN r USING (gram)
GROUP BY 1
"""


def q_t23_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL action on top of t21's detection — what substring
    dedup actually does to the corpus (Lee et al. 2022): every token
    covered by ANY cross-document repeated 8-token window is dropped,
    and each document is REASSEMBLED from its surviving tokens in
    original order (t20's array_sort-inside-agg discipline, so the
    output md5 is stable at any parallelism). On the planted corpus
    the scrub must remove EXACTLY the planted boilerplate span —
    boundary windows mixing doc text with the span are unique per
    doc, so coverage stops at the span edge and clean_md5 proves
    byte-exact surgical removal at every sf.

    Distributed shape: shares t21's checkpointed window stream; the
    covered-position set explodes ONLY repeated windows (8× a tiny
    set, not the corpus), distincts on (doc_id, pos), and removal is
    one keyed left join against the checkpointed token stream — no
    pass ever rescans text."""
    tokrows, win, rep = _t21_stream(spark, sf_dir, pin_tokens=True)
    covered = (
        win.join(F.broadcast(rep), ["h1", "h2"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(7))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    joined = tokrows.join(covered, ["doc_id", "pos"], "left").select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(~F.col("_c"), F.lit(True)).alias("keep"),
    )
    agg = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("pos").alias("p"),
                    F.col("keep").alias("k"),
                    F.col("tok").alias("s"),
                )
            )
        ).alias("arr"),
    )
    clean = F.array_join(
        F.transform(F.filter("arr", lambda x: x["k"]), lambda x: x["s"]),
        " ",
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.md5(clean).alias("clean_md5"),
    )


SQL_T23 = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1
              THEN '{_T21_SPAN} ' || coalesce(text, '')
              WHEN doc_id % 7 = 2
              THEN coalesce(text, '') || ' {_T21_SPAN}'
              ELSE text END AS ptext
  FROM documents
),
tk AS (SELECT doc_id, {_toks_sql("ptext")} AS toks FROM d),
w AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+8], ' ') AS gram
  FROM tk, UNNEST(range(len(toks) - 7)) t(i)
),
r AS (SELECT gram FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, w.pos + j AS pos
  FROM w JOIN r USING (gram), UNNEST(range(8)) t2(j)
),
toks2 AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM tk, UNNEST(range(len(toks))) t(i)
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN c.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       md5(coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.pos), ''))
         AS clean_md5
FROM toks2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
GROUP BY 1
"""


T26_K = 50     # window length — Lee et al. 2021's 50-token threshold
T26_CAP = 100  # hot-gram cap: a window in more distinct docs is
               # boilerplate/stopword-like; pair fan-out past the cap
               # is quadratic noise, excluded identically in the oracle


def _t26_stream(
    spark: SparkSession, sf_dir: str, pin_tokens: bool = False
) -> tuple:
    """Shared t26/t27 stream over the PLANTED corpus: returns
    ``(tokrows, spans)`` — the (doc_id, pos, tok) token stream and the
    maximal-shared-span evidence table. ``pin_tokens`` checkpoints the
    token stream when a caller (t27) re-reads it for reassembly, so
    tokenization is paid once (the t21/t23 discipline). Semantics and
    shape documented on :func:`q_t26_substring_dedup`."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    k = T26_K
    fam = (F.col("doc_id") % 13).cast("string")
    para = F.concat_ws(
        " ", *[F.concat(F.lit("t26x"), fam, F.lit(f"w{i}")) for i in range(60)]
    )
    snip = F.concat_ws(
        " ", *[F.concat(F.lit("t26s"), fam, F.lit(f"w{i}")) for i in range(30)]
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" "), para),
        )
        .when(
            F.col("doc_id") % 7 == 4,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" "), snip),
        )
        .otherwise(F.col("text"))
        .alias("ptext"),
    )
    tokrows = spread_if_narrow(docs, "doc_id").select(
        "doc_id", F.posexplode(TX.tokens(F.col("ptext"))).alias("pos", "tok")
    )
    if pin_tokens:
        tokrows = tokrows.localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    gram = F.concat_ws(" ", *leads)
    win = (
        tokrows.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            gram.alias("gram"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.lit(1), "gram").alias("h1"),
            F.xxhash64(F.lit(2), "gram").alias("h2"),
        )
        .localCheckpoint(eager=True)  # feeds the count AND both join sides
    )
    rep = (
        win.groupBy("h1", "h2")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= T26_CAP))
        .select("h1", "h2")
    )
    # repeated windows are rare here → broadcast; on a web corpus drop
    # the hint and let AQE pick (the t21 note)
    wr = win.join(F.broadcast(rep), ["h1", "h2"], "semi")
    a = wr.select("h1", "h2", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"))
    b = wr.select("h1", "h2", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"))
    pairs = (
        a.join(b, ["h1", "h2"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w2 = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    brk = F.when(F.col("pa") - F.lag("pa").over(w2) == 1, F.lit(0)).otherwise(
        F.lit(1)
    )
    isl = pairs.withColumn("grp", F.sum(brk).over(w2))
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.max("pa") - F.min("pa") + k).alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )
    return tokrows, spans


def q_t26_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-DOCUMENT exact substring dedup at the Lee et al. 2021
    50-token grain (VERDICT r16 #5) — the pairwise completion of the
    substring family: t21 detects corpus-repeated windows per doc and
    t23 scrubs them, but neither says WHICH documents share WHAT. t26
    emits one row per maximal shared span: (doc_a, doc_b, a_start,
    b_start, span_tokens) for every pair of documents sharing a run
    of ≥ 50 consecutive identical tokens — the evidence table an
    attribution/near-licensing audit and the t27 targeted-removal
    pass key on.

    Shape: tokens → 50-token windows via COMPILED lead() exprs over
    (doc_id, pos) (the t21 measured choice), each window collapsing
    to the t21 128-bit hash pair BEFORE any shuffle (16 bytes/window,
    birthday-safe at 10¹² grams); repeated-window keys from one
    groupBy, capped at T26_CAP distinct docs (the d08 hot-bucket
    discipline — a boilerplate window in 10⁵ docs would otherwise
    fan out 10¹⁰ pairs); the pair join is an EQUI-join on the hash
    pair (never all-pairs); consecutive shared windows then merge to
    maximal spans by the classic diagonal trick — (pa − pb) is
    constant along a shared run, so gap-and-island per (pair,
    diagonal) with IDENTICAL order keys in both engines (the w12
    lesson) turns 11 window hits into one 60-token span row.

    Planted signal (the synthetic corpus shares no natural 8-gram, a
    fortiori no 50-gram, except exact-dup texts — which both engines
    treat identically): docs with id%7==3 append a 60-token paragraph
    UNIQUE TO id%13 (token i = 't26x{fam}w{i}'), so same-family
    planted docs share exactly the 11 fully-inside windows → one
    span of 60; docs with id%7==4 append a 30-token snippet — BELOW
    threshold, asserted absent in pytest. At 100 TB: one token
    explode, one keyed count, one capped equi-join, two window
    passes — no quadratic stage anywhere."""
    return _t26_stream(spark, sf_dir)[1]


# shared t26/t27 CTE chain (documents -> planted corpus -> token
# windows -> repeated-window pairs -> maximal-span islands)
_T26_CTES = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 3
              THEN coalesce(text, '') || ' ' || array_to_string(
                list_transform(range(60),
                               i -> 't26x' || (doc_id % 13) || 'w' || i),
                ' ')
              WHEN doc_id % 7 = 4
              THEN coalesce(text, '') || ' ' || array_to_string(
                list_transform(range(30),
                               i -> 't26s' || (doc_id % 13) || 'w' || i),
                ' ')
              ELSE text END AS ptext
  FROM documents
),
tk AS (SELECT doc_id, {_toks_sql("ptext")} AS toks FROM d),
w AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+{T26_K}], ' ') AS gram
  FROM tk, UNNEST(range(len(toks) - {T26_K - 1})) t(i)
),
r AS (
  SELECT gram FROM w
  GROUP BY 1 HAVING count(DISTINCT doc_id) BETWEEN 2 AND {T26_CAP}
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM w a JOIN w b USING (gram)
  WHERE a.doc_id < b.doc_id AND gram IN (SELECT gram FROM r)
),
g AS (
  SELECT doc_a, doc_b, pa, pb, diag,
         CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_a, doc_b, diag
                                      ORDER BY pa) = 1
              THEN 0 ELSE 1 END AS brk
  FROM p
),
isl AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         sum(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
  FROM g
)
"""

SQL_T26 = _T26_CTES + f"""
SELECT doc_a, doc_b,
       CAST(min(pa) AS BIGINT) AS a_start,
       CAST(min(pb) AS BIGINT) AS b_start,
       CAST(max(pa) - min(pa) + {T26_K} AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_a, doc_b, diag, grp
"""


def q_t27_span_scrub_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted span scrub over t26's evidence table (VERDICT r17 #6
    — the removal half of t26, completing the substring family the
    way t23 completes t21): for every maximal shared span, the
    HIGHER doc_id of the pair (doc_b — doc_a < doc_b always, so the
    LOWEST doc of each sharing family keeps its canonical copy — the
    d06/t23 keep-one convention) has the span's token positions
    [b_start, b_start + span_tokens) removed, token-exact; every
    other doc, and every uncovered token of a scrubbed doc, survives
    byte-identically. Documents are REASSEMBLED from surviving
    tokens in original order (t23's array_sort-inside-agg discipline
    — the output md5 is stable at any parallelism), emitting
    (doc_id, n_tokens, n_kept, clean_md5) per tokenizable doc.

    Overlapping spans against DIFFERENT partners union cleanly (the
    covered-position set distincts on (doc_id, pos)); sub-threshold
    residue stays by construction — a post-scrub t26 re-run finds
    nothing ≥ 50 tokens (pinned in pytest). Distributed shape: the
    t26 stream plus ONE position explode over the span table (tiny —
    O(spans × span length), never the corpus), one distinct, one
    keyed left join against the checkpointed token stream; no pass
    rescans text. At 100 TB this is the remediation job an audit
    feeds: evidence rows in, surgically-scrubbed corpus out."""
    tokrows, spans = _t26_stream(spark, sf_dir, pin_tokens=True)
    covered = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    joined = tokrows.join(covered, ["doc_id", "pos"], "left").select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(~F.col("_c"), F.lit(True)).alias("keep"),
    )
    agg = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("pos").alias("p"),
                    F.col("keep").alias("k"),
                    F.col("tok").alias("s"),
                )
            )
        ).alias("arr"),
    )
    clean = F.array_join(
        F.transform(F.filter("arr", lambda x: x["k"]), lambda x: x["s"]),
        " ",
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.md5(clean).alias("clean_md5"),
    )


SQL_T27 = _T26_CTES + f"""
, sp AS (
  SELECT doc_b, min(pb) AS b_start,
         max(pb) - min(pb) + {T26_K} AS span_tokens
  FROM isl
  GROUP BY doc_a, doc_b, diag, grp
),
cov AS (
  SELECT DISTINCT doc_b AS doc_id, b_start + j AS pos
  FROM sp, UNNEST(range(span_tokens)) t2(j)
),
toks2 AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM tk, UNNEST(range(len(toks))) t(i)
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN c.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       md5(coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.pos), ''))
         AS clean_md5
FROM toks2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
GROUP BY 1
"""


W09_WINDOW = 8  # trailing observations per OLS fit


def q_w09_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing OLS slope per event — trend detection over the last
    W09_WINDOW observations of each user's value series (the
    per-entity drift/anomaly feature w01's running totals and w08's
    EWMA level don't give: EWMA smooths the LEVEL, this measures the
    DIRECTION). Emitted as the exact integer pair (slope_num,
    slope_den) of the closed-form fit — slope = num/den where
    num = n·Σxy − Σx·Σy and den = n·Σx² − (Σx)² — because the divide
    is the only inexact step, so the hash certifies everything the
    engine computes (the q04 emit-the-terms discipline).

    The x coordinate is the user's global observation index
    (row_number), NOT the within-window position: OLS slope is
    translation-invariant in x, and a global index makes every window
    statistic a plain windowed SUM of four precomputed columns
    (y, x, x², x·y) — no per-frame position arithmetic exists in any
    engine. y is the value floored to integer micro-units, NaN
    observations dropped first (the w08 null-domain discipline).
    Overflow headroom: x ≤ per-user row count (~10³ at test SFs), so
    n·Σxy stays ≤ ~10¹⁶ ≪ 2⁶³; a deployment with 10⁹-event users
    promotes the four sums to DECIMAL(38,0), the e16 recipe. One
    user-keyed exchange serves the row_number and every window sum
    (the subset rule)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("_y"),
        )
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    keyed = ev.select(
        "user_id",
        "event_id",
        "_y",
        F.row_number().over(w_ord).cast("long").alias("_x"),
    )
    w_tr = (
        Window.partitionBy("user_id")
        .orderBy("_x")
        .rowsBetween(-(W09_WINDOW - 1), 0)
    )
    n = F.count(F.lit(1)).over(w_tr).cast("long")
    sx = F.sum("_x").over(w_tr)
    sy = F.sum("_y").over(w_tr)
    sxx = F.sum(F.col("_x") * F.col("_x")).over(w_tr)
    sxy = F.sum(F.col("_x") * F.col("_y")).over(w_tr)
    out = keyed.select(
        "user_id",
        "event_id",
        n.alias("n_obs"),
        (n * sxy - sx * sy).alias("slope_num"),
        (n * sxx - sx * sx).alias("slope_den"),
    )
    return out.filter(F.col("n_obs") >= 2)


SQL_W09 = f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts), event_id) AS x
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
s AS (
  SELECT user_id, event_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * x) OVER w AS sxx, SUM(x * y) OVER w AS sxy
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY x
               ROWS BETWEEN {W09_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, n_obs,
       CAST(n_obs * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_obs * sxx - sx * sx AS BIGINT) AS slope_den
FROM s WHERE n_obs >= 2
"""


W10_WINDOW = 8  # trailing observations per median


def q_w10_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exact median per event — the rolling ROBUST center of
    each user's last W10_WINDOW observations (w08's EWMA level is
    mean-family and one outlier drags it; the median is the
    spike-resistant baseline behind robust anomaly thresholds).
    Emitted as the exact integer micro-unit pair (med_lo, med_hi) —
    the two middle order statistics of the frame, equal when the
    count is odd — because the (lo+hi)/2 average is the only inexact
    step, so the hash certifies every ordered-selection the engine
    performs (the q04/w09 emit-the-terms discipline).

    Shape: ONE user-keyed exchange serves the count and the frame
    array (single window spec, the w09 subset rule); the frame is
    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW, so collect_list holds
    ≤ 8 elements per row — bounded memory at any user cardinality,
    and array_sort over 8 elements stays inside codegen. NaN
    observations dropped first; ordering is the (ts_ns, event_id)
    total order (the e08 discipline) so ties cannot flap engines.
    At 100 TB this is the same single hash-exchange-on-user_id every
    w-family op rides — no second shuffle, no per-frame re-sort
    beyond the 8-element array."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("_y"),
        )
    )
    w_tr = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-(W10_WINDOW - 1), 0)
    )
    arr = F.array_sort(F.collect_list("_y").over(w_tr))
    n = F.size(arr).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        n.alias("n_obs"),
        F.get(arr, ((n - F.lit(1)) / F.lit(2)).cast("int")).alias("med_lo"),
        F.get(arr, (n / F.lit(2)).cast("int")).alias("med_hi"),
    )


SQL_W10 = f"""
WITH ev AS (
  SELECT user_id, event_id,
         epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 1000000) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
s AS (
  SELECT user_id, event_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
         list_sort(list(y) OVER w) AS arr
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN {W10_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, n_obs,
       CAST(arr[CAST((n_obs - 1) // 2 AS INT) + 1] AS BIGINT) AS med_lo,
       CAST(arr[CAST(n_obs // 2 AS INT) + 1] AS BIGINT) AS med_hi
FROM s
"""


def q_w11_rolling_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exact median-absolute-deviation per event — the
    rolling ROBUST spread of each user's last W10_WINDOW
    observations, completing w10's robust center into the
    (median, MAD) pair behind robust anomaly gates (flag when
    |y − med| > c·MAD; one spike can drag neither side, unlike the
    mean/stddev pair). Exact-integer discipline throughout: the
    frame's median average (med_lo+med_hi)/2 is the only inexact
    step, so deviations are emitted DOUBLED —
    d_i = |2·y_i − (med_lo + med_hi)| is an exact long in doubled
    micro-units — and the MAD itself as the two middle order
    statistics (mad_lo, mad_hi) of the sorted deviations (the
    q04/w09/w10 emit-the-terms discipline: the hash certifies every
    ordered selection, and the consumer divides by 4 once at the
    edge if it wants the real-unit scalar).

    Shape: the SAME single user-keyed exchange as w10 — one window
    spec feeds the ≤ 8-element frame array; median selection, the
    transform to absolute doubled deviations, and the second
    array_sort all run on that bounded array inside codegen (an
    8-element HOF is nothing like d13's 64-bit-per-token case — the
    array is frame-bounded, not corpus-bounded). NaN observations
    dropped first; (ts_ns, event_id) total order so ties cannot flap
    engines. At 100 TB: one hash exchange on user_id, same as every
    w-family op."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("_y"),
        )
    )
    w_tr = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-(W10_WINDOW - 1), 0)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        F.array_sort(F.collect_list("_y").over(w_tr)).alias("_arr"),
    )
    n = F.size("_arr").cast("long")
    med2 = F.get(
        F.col("_arr"), ((n - F.lit(1)) / F.lit(2)).cast("int")
    ) + F.get(F.col("_arr"), (n / F.lit(2)).cast("int"))
    devs = framed.select(
        "user_id",
        "event_id",
        n.alias("n_obs"),
        F.array_sort(
            F.transform("_arr", lambda x: F.abs(x * F.lit(2) - med2))
        ).alias("_darr"),
    )
    nn = F.col("n_obs")
    return devs.select(
        "user_id",
        "event_id",
        "n_obs",
        F.get(F.col("_darr"), ((nn - F.lit(1)) / F.lit(2)).cast("int"))
        .alias("mad_lo"),
        F.get(F.col("_darr"), (nn / F.lit(2)).cast("int")).alias("mad_hi"),
    )


SQL_W11 = f"""
WITH ev AS (
  SELECT user_id, event_id,
         epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 1000000) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
s AS (
  SELECT user_id, event_id,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
         list_sort(list(y) OVER w) AS arr
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN {W10_WINDOW - 1} PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT user_id, event_id, n_obs, arr,
         arr[CAST((n_obs - 1) // 2 AS INT) + 1]
           + arr[CAST(n_obs // 2 AS INT) + 1] AS med2
  FROM s
),
d AS (
  SELECT user_id, event_id, n_obs,
         list_sort(list_transform(arr, x -> abs(2 * x - med2))) AS darr
  FROM m
)
SELECT user_id, event_id, n_obs,
       CAST(darr[CAST((n_obs - 1) // 2 AS INT) + 1] AS BIGINT) AS mad_lo,
       CAST(darr[CAST(n_obs // 2 AS INT) + 1] AS BIGINT) AS mad_hi
FROM d
"""


W13_C = 3  # robust-z cutoff: flag when |y - med| > 3 * MAD


def q_w13_robust_anomaly_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust anomaly gate — the composition w10/w11 exist for
    (VERDICT r14 #3, closing SURVEY §2.E W-row's "robust (median,
    MAD) anomaly-gate pair" the way ac11 closed ac03's purpose):
    flag each event whose deviation from its user's trailing robust
    center exceeds ``W13_C`` trailing robust spreads,
    |y − med| > c·MAD, with NO division anywhere — the compare is
    cross-multiplied into exact longs the way s07 cross-multiplies
    its cosine threshold. With med = (med_lo+med_hi)/2 and
    MAD = (mad_lo+mad_hi)/4 (w11's doubled-deviation order
    statistics), the gate is equivalent to
    ``2·dev2 > c·(mad_lo + mad_hi)`` where
    ``dev2 = |2y − (med_lo+med_hi)|`` is the current event's doubled
    deviation — every term an exact BIGINT in (doubled) micro-units,
    so the flag cannot flap on float rounding and the hash certifies
    the gate itself, not just its ingredients (the q04/w09/w10/w11
    emit-the-terms discipline: dev2, mad_lo, mad_hi ride along).

    Shape: the SAME single user-keyed exchange as w10/w11 — one
    window spec feeds the ≤ W10_WINDOW-element frame array; median
    selection, the deviation transform, the second array_sort, and
    the gate compare all run on that bounded array inside codegen.
    A 1-element frame has MAD 0 and dev2 0 → not flagged (0 > 0
    false on both engines). At 100 TB: one hash exchange on
    user_id, the same plan every w-family op rides — the gate adds
    zero shuffles to the (median, MAD) pair it composes."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "user_id",
            "event_id",
            "ts_ns",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("_y"),
        )
    )
    w_tr = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-(W10_WINDOW - 1), 0)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        "_y",
        F.array_sort(F.collect_list("_y").over(w_tr)).alias("_arr"),
    )
    n = F.size("_arr").cast("long")
    med2 = F.get(
        F.col("_arr"), ((n - F.lit(1)) / F.lit(2)).cast("int")
    ) + F.get(F.col("_arr"), (n / F.lit(2)).cast("int"))
    devs = framed.select(
        "user_id",
        "event_id",
        n.alias("n_obs"),
        F.abs(F.col("_y") * F.lit(2) - med2).alias("dev2"),
        F.array_sort(
            F.transform("_arr", lambda x: F.abs(x * F.lit(2) - med2))
        ).alias("_darr"),
    )
    nn = F.col("n_obs")
    mad_lo = F.get(F.col("_darr"), ((nn - F.lit(1)) / F.lit(2)).cast("int"))
    mad_hi = F.get(F.col("_darr"), (nn / F.lit(2)).cast("int"))
    return devs.select(
        "user_id",
        "event_id",
        "n_obs",
        "dev2",
        mad_lo.alias("mad_lo"),
        mad_hi.alias("mad_hi"),
        (
            F.col("dev2") * F.lit(2)
            > (mad_lo + mad_hi) * F.lit(W13_C)
        ).alias("is_anomaly"),
    )


SQL_W13 = f"""
WITH ev AS (
  SELECT user_id, event_id,
         epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 1000000) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
s AS (
  SELECT user_id, event_id, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
         list_sort(list(y) OVER w) AS arr
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
               ROWS BETWEEN {W10_WINDOW - 1} PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT user_id, event_id, y, n_obs, arr,
         arr[CAST((n_obs - 1) // 2 AS INT) + 1]
           + arr[CAST(n_obs // 2 AS INT) + 1] AS med2
  FROM s
),
d AS (
  SELECT user_id, event_id, n_obs,
         abs(2 * y - med2) AS dev2,
         list_sort(list_transform(arr, x -> abs(2 * x - med2))) AS darr
  FROM m
),
g AS (
  SELECT user_id, event_id, n_obs, dev2,
         darr[CAST((n_obs - 1) // 2 AS INT) + 1] AS mad_lo,
         darr[CAST(n_obs // 2 AS INT) + 1] AS mad_hi
  FROM d
)
SELECT user_id, event_id, n_obs, CAST(dev2 AS BIGINT) AS dev2,
       CAST(mad_lo AS BIGINT) AS mad_lo,
       CAST(mad_hi AS BIGINT) AS mad_hi,
       2 * dev2 > {W13_C} * (mad_lo + mad_hi) AS is_anomaly
FROM g
"""


def q_w12_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown — the risk/alerting window next to w01's
    running total (w08 smooths the level, w09 measures the trend,
    w10/w11 give the robust center/spread; drawdown measures how far
    below the best-so-far the series currently sits, the quantity
    stop-loss and SLA-burn alerts fire on): per customer in date
    order, the running SUM of order value, its running MAX (the
    peak), the current drawdown = peak − sum, and the running max
    drawdown. All in exact integer micro-units (floor(price·10⁶) —
    the e20 micros rule), so every column is an order-independent
    BIGINT and the hash can't flap.

    Shape: FOUR window passes over ONE (customer, date-ordered)
    exchange — identical partition+order keys, so Spark's subset rule
    plans a single Exchange+Sort (pytest-pinned); nesting max-over
    sum-over rides the same sorted run. The peak/drawdown recursion
    needs no stateful loop: running-max-of-running-sum IS the peak,
    a composition window SQL states directly on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    micros = F.expr(
        "CAST(floor(o_totalprice * 1000000) AS BIGINT)"
    )
    cum = F.sum(micros).over(w)
    peak = F.max(cum).over(w)
    dd = peak - cum
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cum.alias("cum_micros"),
        peak.alias("peak_micros"),
        dd.alias("drawdown_micros"),
        F.max(dd).over(w).alias("max_drawdown_micros"),
    )


SQL_W12 = """
WITH c AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT)) OVER w
           AS cum_micros
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT o_custkey, o_orderkey, o_orderdate, cum_micros,
         MAX(cum_micros) OVER w AS peak_micros
  FROM c
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
       CAST(cum_micros AS BIGINT) AS cum_micros,
       CAST(peak_micros AS BIGINT) AS peak_micros,
       CAST(peak_micros - cum_micros AS BIGINT) AS drawdown_micros,
       CAST(MAX(peak_micros - cum_micros) OVER w AS BIGINT)
         AS max_drawdown_micros
FROM p
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_w08_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon EWMA smoothing per user (α=0.5 over the last 8
    observations, weights renormalized over available history) — the
    linear-filter window op the w-suite lacked. A true infinite-
    horizon EWMA is an order-dependent RECURSION no engine-parallel
    aggregation can express exactly; the bounded filter is the
    distributed-correct form: each row is a FIXED scalar expression
    over lag(1..7) — one window, one exchange, and float-DETERMINISTIC
    because (a) the α(1−α)^k coefficients are powers of two (exactly
    representable; multiplying only shifts the exponent), (b) the sum
    is a fixed left-to-right chain, not an aggregation whose order
    the partitioning picks, so both engines produce bit-identical
    doubles before the final round. Ordering is the (ts_ns, event_id)
    total order (the e08 discipline) so ties cannot flap engines.

    NaN domain (ADVICE r8): NaN values are normalized to NULL up
    front (``nanvl``), so batch and the st11 streaming twin share ONE
    null domain — a NaN observation is "no observation" (skipped by
    num, den, and n_hist) in both, instead of the batch's coalesce
    treating NaN as present and poisoning num while the stream
    dropped it."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.nanvl(F.col("value"), F.lit(None).cast("double")).alias("value"),
        "ts_ns",
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    lags = [F.col("value")] + [
        F.lag("value", k).over(w) for k in range(1, 8)
    ]
    coefs = [0.5 ** (k + 1) for k in range(8)]
    num = F.coalesce(lags[0], F.lit(0.0)) * F.lit(coefs[0])
    den = F.when(lags[0].isNotNull(), F.lit(coefs[0])).otherwise(F.lit(0.0))
    n_hist = F.when(lags[0].isNotNull(), 1).otherwise(0)
    for k in range(1, 8):
        num = num + F.coalesce(lags[k], F.lit(0.0)) * F.lit(coefs[k])
        den = den + F.when(
            lags[k].isNotNull(), F.lit(coefs[k])
        ).otherwise(F.lit(0.0))
        n_hist = n_hist + F.when(lags[k].isNotNull(), 1).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        n_hist.cast("long").alias("n_hist"),
        F.when(den > 0, F.round(num / den, 6)).alias("ewma"),
    )


def _w08_sql() -> str:
    lag_cols = ", ".join(
        f"lag(value, {k}) OVER w AS v{k}" for k in range(1, 8)
    )
    coefs = [0.5 ** (k + 1) for k in range(8)]
    vs = ["value"] + [f"v{k}" for k in range(1, 8)]
    num = " + ".join(
        f"coalesce({v}, 0) * {c!r}" for v, c in zip(vs, coefs)
    )
    den = " + ".join(
        f"CASE WHEN {v} IS NULL THEN 0 ELSE {c!r} END"
        for v, c in zip(vs, coefs)
    )
    nh = " + ".join(
        f"CASE WHEN {v} IS NULL THEN 0 ELSE 1 END" for v in vs
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id,
         CASE WHEN isnan(value) THEN NULL ELSE value END AS value,
         epoch_ns(ts) AS ts_ns
  FROM events
),
l AS (
  SELECT event_id, user_id, value, {lag_cols}
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
)
SELECT event_id, user_id,
       CAST({nh} AS BIGINT) AS n_hist,
       CASE WHEN ({den}) > 0
            THEN round(({num}) / ({den}), 6) END AS ewma
FROM l
"""


SQL_W08 = _w08_sql()


def q_st11_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of w08 (streaming/stateful.ewma_stream): the
    bounded-horizon EWMA as a custom stateful operator — one emitted
    row PER EVENT in append semantics (the per-row emission shape
    st01–st10 don't cover; st03's profiles emit per-batch updates),
    keyed state = the last-7 observation deque, O(7) per key forever
    with no watermark needed. The Python operator replicates w08's
    coefficient chain operation-for-operation in C doubles (the
    α(1−α)^k coefficients are powers of two, so the unrounded double
    is bit-identical to the JVM's) and emits ewma RAW; rounding
    happens HERE, Spark-side, after replay, so stream and batch
    round identically. Oracle: the SAME SQL as w08 — replay to
    completion must equal the batch window op exactly."""
    from alternating_least_squares_spark.streaming import (
        ewma_stream,
        read_events_stream,
        run_stream_to_batch,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "value", "ts_ns"
    )
    out = run_stream_to_batch(ewma_stream(stream), output_mode="append")
    return out.select(
        "event_id",
        "user_id",
        "n_hist",
        F.round("ewma_raw", 6).alias("ewma"),
    )


def q_x18_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER semi-join reduction — the ROW-level
    runtime filter that completes x13's partition-level DPP story at
    100 TB: when a fact⋈dim join survives into a shuffle join (dim too
    big to broadcast) and the dim side carries a selective predicate,
    Spark's InjectRuntimeFilter builds a bloom filter over the dim
    join keys (``bloom_filter_agg``) and pushes ``might_contain`` onto
    the fact SCAN, so non-matching fact rows die at scan speed instead
    of riding the shuffle. On a 1000-executor cluster this is the
    difference between shuffling 100 TB and shuffling the ~1% that can
    actually join.

    The injection heuristics are sized for production (application
    side ≥ 10 GB scan by default), so on the test tables the entry
    FORCES the shape the same way a perf test would: application-side
    threshold 0 + broadcast disabled, WITH the confs restored in a
    ``finally`` (the result is materialized under the forced confs —
    Spark re-optimizes at action time, so set-then-return would leak
    session state). The bloom-filtered plan (might_contain on the
    fact side, verified in tests/test_storage.py) is hash-proved
    equal to the plain declarative join the oracle runs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.filter(F.col("o_totalprice") > 400_000).select(
        "o_orderkey", "o_orderpriority"
    )
    joined = (
        li.join(sel, li.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(38,10)")
                ).cast("double"),
                6,
            ).alias("revenue"),
        )
    )
    sf_key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_path = _scratch_path("alternating_ls_bloom", sf_key)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    return _materialize_with_confs(spark, joined, confs, out_path)



def _materialize_with_confs(
    spark: SparkSession, df: DataFrame, confs: dict, out_path: str
) -> DataFrame:
    """Force ``df`` to full materialization under temporarily-forced
    session confs (scratch-parquet write), restore the confs in a
    finally, and return the read-back result — the one shared
    implementation of the x18/x20/x21/x24 materialize-then-restore
    discipline (review r14: four verbatim copies drifted apart one
    edit at a time)."""
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df.write.mode("overwrite").parquet(out_path)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.read.parquet(out_path)


SQL_X18 = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,10))) AS DOUBLE),
             6) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
GROUP BY 1
"""


def _x20_skewed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x20 plan, pre-materialization: an 80%-hot-key fact joined
    to a uniform dim, the shape AQE's OptimizeSkewedJoin splits at
    runtime. Shared by the registry entry and the plan pytest."""
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100_000)
        .alias("k"),
        F.md5(
            F.concat_ws(":", "l_orderkey", "l_linenumber")
        ).alias("payload"),
    ).repartition(8)
    dim = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
    )
    return (
        fact.join(dim, "k")
        .groupBy("tag")
        .agg(
            F.count("*").alias("n"),
            F.max("payload").alias("max_payload"),
        )
    )


X20_CONFS = {
    # force the shuffle join (dim must not broadcast) and size the
    # skew detector for test-scale data; production defaults are
    # 256MB/5x — the MECHANISM is identical
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def q_x20_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join splitting — the RUNTIME complement to
    x12's manual salting: OptimizeSkewedJoin reads the materialized
    shuffle's per-partition byte sizes, marks partitions over
    max(threshold, factor·median) as skewed, and replaces each with
    mapper-range splits (replicating the other side) — no key
    engineering, no plan rewrite, the skew handled where it is
    MEASURED. At 1000 executors this is what saves the job when one
    celebrity key would otherwise pin a single reducer for hours.

    Three hard-won constructions make the demo real (each cost a
    debugging round): (1) the hot rows carry an md5 payload — a
    constant-key low-entropy partition COMPRESSES ~50× better than
    the uniform ones and the byte-based detector sees no skew at
    all; (2) the aggregate consumes the payload (max), else column
    pruning drops it below the shuffle and (1) returns; (3) the fact
    side is round-robin repartitioned first — a single parquet row
    group is ONE map task, and skew splits are mapper RANGES, so a
    one-mapper hot partition is unsplittable. Confs are forced with
    the x18 materialize-then-restore discipline; the skew markers
    (SortMergeJoin(skew=true), AQEShuffleRead skewed) are asserted
    on the executed plan in tests/test_storage.py. The oracle runs
    the same join declaratively — splitting never changes results."""
    joined = _x20_skewed_join(spark, sf_dir)
    sf_key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_path = _scratch_path("alternating_ls_skewjoin", sf_key)
    return _materialize_with_confs(spark, joined, X20_CONFS, out_path)


SQL_X20 = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
              ELSE l_orderkey % 100000 END AS k,
         md5(l_orderkey || ':' || l_linenumber) AS payload
  FROM lineitem
),
dim AS (SELECT range AS k, range % 7 AS tag FROM range(100000))
SELECT tag, CAST(count(*) AS BIGINT) AS n, max(payload) AS max_payload
FROM fact JOIN dim USING (k)
GROUP BY 1
"""


X24_CONFS = {
    # deliberately mis-sized static partitioning (the classic default
    # nobody tunes) against a generous advisory target: AQE must heal
    # the 200-way over-partitioning down to a handful of post-shuffle
    # partitions sized by MEASURED bytes
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def _x24_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x24 aggregate, shared by the registry entry and the plan
    pytest: per-customer order stats in exact integer micros."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(
            F.expr("CAST(floor(o_totalprice * 1000000) AS BIGINT)")
        ).cast("long").alias("total_micros"),
    )


def q_x24_aqe_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE post-shuffle partition coalescing — the third leg of the
    runtime-replan trio (x20 splits what is too BIG, x13/x18 prune
    what won't JOIN; x24 merges what is too SMALL): a static
    ``spark.sql.shuffle.partitions`` is one number for every shuffle
    in the job, so any modest aggregate under a default tuned for the
    largest one produces hundreds of near-empty reducers — at 1000
    executors that is scheduler overhead and tiny-file output for
    nothing. With coalescing on, AQE reads the materialized map
    output's per-partition bytes and merges adjacent partitions up to
    the advisory size: the 200-way shuffle lands as a handful of
    right-sized reducers with NO plan rewrite and NO semantic change
    — which is exactly what the oracle certifies (same declarative
    agg, hash-equal). Confs forced with the x18/x20
    materialize-then-restore discipline; the ``AQEShuffleRead
    coalesced`` marker and the shrunken partition count are asserted
    on the executed plan in tests/test_storage.py. parallelismFirst
    is disabled because in local test mode it caps merge targets at
    cores-driven sizes — production clusters set it false for
    exactly this right-sizing behavior (the Spark docs' own
    recommendation when small files matter)."""
    agg = _x24_agg(spark, sf_dir)
    sf_key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_path = _scratch_path("alternating_ls_aqe_coalesce", sf_key)
    return _materialize_with_confs(spark, agg, X24_CONFS, out_path)


SQL_X24 = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 1000000) AS BIGINT))
            AS BIGINT) AS total_micros
FROM orders GROUP BY o_custkey
"""


X21_CONFS = {
    # CBO reads ANALYZE stats; the 64KB broadcast threshold sits
    # between the table's raw size estimate (MBs — too big) and the
    # column-stats filtered estimate (tens of KB — broadcastable)
    "spark.sql.cbo.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "65536",
}


def _x21_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x21 query against the ANALYZEd catalog table: a selective
    filter whose STATS-estimated output is small enough to broadcast.
    Shared by the registry entry and the plan pytest."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    t = spark.table("x21_li").filter(F.col("l_quantity") == 1)
    return (
        t.join(orders, t.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(38,10)")
                ).cast("double"),
                6,
            ).alias("revenue"),
        )
    )


def q_x21_cbo_stats_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization driven by ANALYZE TABLE statistics —
    the warehouse discipline that turns table metadata into better
    physical plans: without stats, a filter's size estimate is just
    its child's (Spark cannot know `l_quantity = 1` keeps ~2% of
    rows), so the join stays a two-sided shuffle; with `ANALYZE TABLE
    ... COMPUTE STATISTICS FOR COLUMNS` + `spark.sql.cbo.enabled`,
    FilterEstimation shrinks the estimate below the broadcast
    threshold and the SAME query plans a BroadcastHashJoin — at
    1000 executors the difference between shuffling the fact table
    and shipping a few KB. The flip (SortMergeJoin without stats →
    BroadcastHashJoin with) is asserted on executed plans in
    tests/test_storage.py; confs follow the x18/x20
    materialize-then-restore discipline. At 100 TB the ANALYZE pass
    is a one-time scan amortized across every downstream query, and
    partition-level stats keep it incremental. Oracle: the same
    filtered join declaratively — statistics change PLANS, never
    results."""
    import os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    base = _scratch_path("alternating_ls_cbo")
    spark.sql("DROP TABLE IF EXISTS x21_li")
    (
        li.write.format("parquet")
        .option("path", os.path.join(base, "x21_li"))
        .mode("overwrite")
        .saveAsTable("x21_li")
    )
    spark.sql(
        "ANALYZE TABLE x21_li COMPUTE STATISTICS "
        "FOR COLUMNS l_quantity, l_orderkey"
    )
    sf_key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out_path = _scratch_path("alternating_ls_cbo_out", sf_key)
    return _materialize_with_confs(
        spark, _x21_filtered_join(spark, sf_dir), X21_CONFS, out_path
    )


SQL_X21 = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,10))) AS DOUBLE),
             6) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity = 1
GROUP BY 1
"""


def q_p03_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 curation stack as ONE flagship chain — what a
    training-data refresh actually runs, end-to-end, hash-checked as
    a single query: (1) cross-doc repeated-span SCRUB (t23) cleans
    the token stream; (2) a unigram LM TRAINED ON THE CLEANED STREAM
    (t18's discipline — the LM must not learn from the boilerplate it
    just removed) scores every doc; (3) a quality gate keeps docs
    above a fixed literal threshold, decided in EXACT integer
    arithmetic (sum_lp_us > n_kept × −3402000 — no division, no
    float compare; −3.402 nats/token sits mid-distribution on the
    synthetic corpus so the gate is non-degenerate at any sf); (4)
    survivors get the deterministic md5 training order (x16): hex-
    nibble shard + per-shard dense position.

    One pipeline, four stages, zero re-reads: the cleaned token
    stream is checkpointed ONCE and feeds both the LM count and the
    scoring join; the LM broadcasts back; the gate is a rowwise
    integer predicate; the order stage's only exchange is the shard
    hash partition. Fully-scrubbed docs (no surviving tokens) drop
    out, by construction on both engines."""
    tokrows, win, rep = _t21_stream(spark, sf_dir, pin_tokens=True)
    covered = (
        win.join(F.broadcast(rep), ["h1", "h2"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(7))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    kept = (
        tokrows.join(covered, ["doc_id", "pos"], "left")
        .filter(F.col("_c").isNull())
        .select("doc_id", "tok")
        .localCheckpoint(eager=True)  # LM count + scoring join
    )
    lm = (
        kept.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_total, vocab = lm.agg(F.sum("c").cast("long"), F.count("*")).first()
    lp = lm.select(
        "tok",
        F.floor(
            F.log(
                (F.col("c") + F.lit(1)).cast("double")
                / F.lit(float(n_total + vocab))
            )
            * 1_000_000
        ).alias("lp_us"),
    )
    scored = (
        kept.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("lp_us").alias("sum_lp_us"),
        )
    )
    sel = scored.filter(
        F.col("sum_lp_us") > F.col("n_kept") * F.lit(-3_402_000)
    )
    skey = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    a = F.ascii(F.substring(skey, 1, 1))
    shard = F.when(a >= 97, a - 87).otherwise(a - 48)
    keyed = sel.select(
        "doc_id",
        "n_kept",
        "sum_lp_us",
        skey.alias("skey"),
        shard.cast("long").alias("shard"),
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("skey", "doc_id")
    )
    return keyed.select(
        "doc_id",
        "n_kept",
        "sum_lp_us",
        F.round(
            F.col("sum_lp_us").cast("double") / F.col("n_kept") / 1_000_000,
            6,
        ).alias("avg_logprob"),
        "shard",
        pos.cast("long").alias("pos"),
    )


SQL_P03 = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1
              THEN '{_T21_SPAN} ' || coalesce(text, '')
              WHEN doc_id % 7 = 2
              THEN coalesce(text, '') || ' {_T21_SPAN}'
              ELSE text END AS ptext
  FROM documents
),
tk AS (SELECT doc_id, {_toks_sql("ptext")} AS toks FROM d),
w AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+8], ' ') AS gram
  FROM tk, UNNEST(range(len(toks) - 7)) t(i)
),
r AS (SELECT gram FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, w.pos + j AS pos
  FROM w JOIN r USING (gram), UNNEST(range(8)) t2(j)
),
toks2 AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM tk, UNNEST(range(len(toks))) t(i)
),
kept AS (
  SELECT t.doc_id, t.tok
  FROM toks2 t
  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.pos IS NULL
),
lm AS (SELECT tok, count(*) AS c FROM kept GROUP BY 1),
scale AS (SELECT CAST(sum(c) + count(*) AS BIGINT) AS nv FROM lm),
lp AS (
  SELECT tok,
         CAST(floor(ln(CAST(c + 1 AS DOUBLE) / nv) * 1000000) AS BIGINT)
           AS lp_us
  FROM lm CROSS JOIN scale
),
scored AS (
  SELECT doc_id, count(*) AS n_kept,
         CAST(sum(lp_us) AS BIGINT) AS sum_lp_us
  FROM kept JOIN lp USING (tok)
  GROUP BY 1
),
sel AS (
  SELECT * FROM scored WHERE sum_lp_us > n_kept * (-3402000)
),
k AS (
  SELECT doc_id, n_kept, sum_lp_us,
         md5('mix:' || doc_id) AS skey,
         CAST(CASE WHEN ascii(substr(md5('mix:' || doc_id), 1, 1)) >= 97
                   THEN ascii(substr(md5('mix:' || doc_id), 1, 1)) - 87
                   ELSE ascii(substr(md5('mix:' || doc_id), 1, 1)) - 48
              END AS BIGINT) AS shard
  FROM sel
)
SELECT doc_id, n_kept, sum_lp_us,
       round(CAST(sum_lp_us AS DOUBLE) / n_kept / 1000000, 6)
         AS avg_logprob,
       shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
            AS BIGINT) AS pos
FROM k
"""


def q_t22_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus statistic that drives a BPE tokenizer-training merge
    step (Sennrich 2016): adjacent-character-pair frequencies weighted
    by word frequency — the argmax of this table IS the first merge.
    t09 counts pretokens with a trained tokenizer's regex; this is the
    other direction, the statistic you TRAIN the tokenizer from.

    Distributed shape — the classic "work on the vocabulary, not the
    corpus" reduction: one corpus-scan groupBy builds word counts
    (map-side combine collapses each partition to its local vocab
    before the only corpus-sized shuffle), then the pair explode runs
    over DISTINCT words — at 100 TB the vocab is millions of rows
    where the corpus is trillions, so the quadratic-ish per-word char
    work costs nothing. The pair table itself is ≤ 26² rows; the
    final top-50 rank is a window over a tiny aggregate."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = spread_if_narrow(docs, "doc_id").select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit("[a-z]+"),
                F.lit(0),
            )
        ).alias("w")
    )
    wc = words.groupBy("w").agg(F.count("*").alias("n"))
    pairs = wc.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    pc = pairs.groupBy("pair").agg(F.sum("n").cast("long").alias("freq"))
    rnk = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair")))
    return (
        pc.select("pair", "freq", rnk.cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 50)
    )


SQL_T22 = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS w
  FROM documents
),
wc AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
p AS (
  SELECT substr(w, CAST(i + 1 AS INTEGER), 2) AS pair, n
  FROM wc, UNNEST(range(len(w) - 1)) t(i)
),
pc AS (SELECT pair, CAST(sum(n) AS BIGINT) AS freq FROM p GROUP BY 1)
SELECT pair, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT) AS rnk
FROM pc
QUALIFY rnk <= 50
"""


def q_x17_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by ln p_target(doc) − ln p_raw(doc) under two
    add-one-smoothed unigram LMs — the target LM trained on the
    in-domain slice (lang='en' here), the raw LM on the whole corpus.
    Positive weight ⇒ the doc looks more like the target domain than
    like the corpus at large; DSIR then samples by these weights to
    recompose the training mix.

    Both LMs come from ONE corpus pass: the token stream carries an
    is-target flag, so a single keyed count yields (c_raw, c_target)
    per term; the weight table is vocab-sized, broadcast back to the
    token stream for the per-doc sum (t18's two-scan economics,
    unchanged at two LMs). The t18 float discipline makes the weight
    an exact BIGINT: each per-term log-prob is floored to integer
    micro-nats SEPARATELY, then differenced — so the per-doc sum is
    order-independent and both engines agree bit-for-bit."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    docs = spread_if_narrow(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        ),
        "doc_id",
    )
    terms = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        F.explode(TX.tokens(F.col("text"))).alias("term"),
    )
    lm = (
        terms.groupBy("term")
        .agg(
            F.count("*").alias("cc"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0))
            .cast("long")
            .alias("ct"),
        )
        .localCheckpoint(eager=True)
    )
    n_raw, n_tgt, vocab = lm.agg(
        F.sum("cc").cast("long"), F.sum("ct").cast("long"), F.count("*")
    ).first()

    def _lp_us(cnt, denom):
        return F.floor(
            F.log((cnt + F.lit(1)).cast("double") / F.lit(float(denom)))
            * 1_000_000
        )

    lp = lm.select(
        "term",
        (
            _lp_us(F.col("ct"), n_tgt + vocab)
            - _lp_us(F.col("cc"), n_raw + vocab)
        ).alias("dw_us"),
    )
    return (
        terms.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("dw_us").alias("w_us"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "w_us",
            F.round(
                F.col("w_us").cast("double") / F.col("n_tokens") / 1_000_000,
                6,
            ).alias("avg_logratio"),
            (F.col("w_us") > 0).alias("keep"),
        )
    )


SQL_X17 = f"""
WITH tk AS (SELECT doc_id, lang, {_toks_sql()} AS toks FROM documents),
     terms AS (
       SELECT doc_id, (lang = 'en') AS is_t, unnest(toks) AS term
       FROM tk
     ),
     lm AS (
       SELECT term, count(*) AS cc,
              CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
       FROM terms GROUP BY 1
     ),
     scale AS (
       SELECT CAST(sum(cc) + count(*) AS BIGINT) AS nvc,
              CAST(sum(ct) + count(*) AS BIGINT) AS nvt
       FROM lm
     ),
     lp AS (
       SELECT term,
              CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / nvt) * 1000000)
                   AS BIGINT)
            - CAST(floor(ln(CAST(cc + 1 AS DOUBLE) / nvc) * 1000000)
                   AS BIGINT) AS dw_us
       FROM lm CROSS JOIN scale
     )
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(dw_us) AS BIGINT) AS w_us,
       round(CAST(sum(dw_us) AS DOUBLE) / count(*) / 1000000, 6)
         AS avg_logratio,
       (CAST(sum(dw_us) AS BIGINT) > 0) AS keep
FROM terms JOIN lp USING (term)
GROUP BY 1
"""


def q_d11_neardup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup collapse — the pipeline stage the d-suite
    rungs compose into: MinHash/LSH pairs (near_dup_pairs) → exact
    connected components (dedup_components, hash-min propagation) →
    canonical keep-one (the component label IS the minimum reachable
    id, so survivors need no extra pass) + cluster sizes. d04 runs
    components on the exact-dup clique graph and d06 keeps one per
    PAIR; this is the full graph-collapse over an LSH pair graph.

    Oracle-exactness by the d09 construction: the input unions in
    whitespace-doubled variants (doc_id%10==0, +20M offset) whose
    token sequences are IDENTICAL to their sources — shingle-set
    Jaccard exactly 1, identical signatures, all bands collide, so
    candidate generation and the threshold=1.0 verify are both
    deterministic, never in LSH's probabilistic recall zone. At
    threshold 1.0 the pair graph is exactly "same shingle set", so
    clusters are the identical-token-key groups and SQL can state
    ground truth: GROUP BY token key, keeper = min(doc_id), size =
    count. Probabilistic-recall behavior on true near-dups stays
    pinned by tests/test_dedup.py's planted-pair fixtures.

    Scale posture: inherits near_dup_pairs' banded-join-only shape
    (each document tokenized once by ``shingles()``) and
    ``graph._hash_min``: a pair graph of at most ``MAX_DRIVER_EDGES``
    symmetric edges (every testdata scale) is collected once over
    Arrow and its rounds run in NumPy on the driver; a larger one runs
    one join + one groupBy-min per round with the stop test observed
    on the round's checkpoint (clusters are near-cliques → 2-3
    rounds). The singleton pass is one anti-join. Nothing here is
    all-pairs."""
    from alternating_least_squares_spark.functions.dedup import (
        dedup_components,
        near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), " ", "  "
        ).alias("text"),
    )
    full = docs.unionByName(variants)
    pairs = near_dup_pairs(full, threshold=1.0)
    comp = dedup_components(pairs)
    clustered = comp.groupBy(F.col("component").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_merged")
    )
    singletons = (
        full.join(comp, full.doc_id == comp.id, "left_anti")
        .select("doc_id", F.lit(1).cast("long").alias("n_merged"))
    )
    return clustered.unionByName(singletons)


SQL_D11 = f"""
WITH all_docs AS (
  SELECT doc_id, array_to_string({_toks_sql()}, ' ') AS key
  FROM documents
  UNION ALL
  SELECT doc_id + 20000000,
         array_to_string(
           {_toks_sql("regexp_replace(coalesce(text, ''), ' ', '  ', 'g')")},
           ' ')
  FROM documents WHERE doc_id % 10 = 0
)
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_merged
FROM all_docs GROUP BY key
"""


D12_SHARED = 28   # family tokens shared by the A/B twins
D12_UNIQUE = 2    # per-twin unique tokens -> union 32, Jaccard 28/32
D12_C_SHARED = 20  # the sub-threshold variant keeps 20 of 30 tokens


def _d12_family_text(dstr, n: int, extra: list) -> "F.Column":
    """'fam{id}t0 fam{id}t1 .. fam{id}t{n-1} <extra...>' as one
    codegen concat chain (NO HOF transform — the r12 interpreted-
    lambda lesson): token strings are injective across (id, i)."""
    pieces = []
    for i in range(n):
        if pieces:
            pieces.append(F.lit(" "))
        pieces += [F.lit("fam"), dstr, F.lit(f"t{i}")]
    for e in extra:
        pieces += [F.lit(" "), e]
    return F.concat(*pieces)


def q_d12_threshold_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH at a REAL sub-1.0 threshold (0.8) with
    SQL-stateable ground truth — closing the dedup ladder's
    "only threshold-1.0 is hash-proved" asterisk (d03/d11 force
    Jaccard to exactly 1 or 0; here the verify stage's exact-Jaccard
    predicate does real work on partial overlap). Construction, the
    d09 forced-Jaccard idea extended to fractions:

    - noise docs (id%10!=0): five per-id tokens, zero cross-doc
      overlap — never candidates, never output.
    - per id%10==0, an A/B twin pair (id, id+20M): 28 shared family
      tokens + 2 per-twin unique tokens, so the token-set (k=1
      shingle) Jaccard is EXACTLY 28/32 = 0.875 — a dyadic rational,
      so round(·, 6) is the same double in any engine — above the
      0.8 threshold: must be emitted.
    - a C variant (id+40M): 20 of the family tokens + 10 unique, so
      J(A,C)=J(B,C)=20/40=0.5 < 0.8: C may well become a CANDIDATE
      (shared tokens force many band collisions) but the verify
      stage must reject it — the rejection path is what this entry
      proves.

    Candidate recall is not left to chance: with 16 bands of 2 rows,
    a twin pair misses every band only if all 32 permutations land a
    minimum in the 4 non-shared tokens of the union in a correlated
    way — probability (1-0.875²)¹⁶ ≈ 9e-11 per pair, and xxhash64 is
    deterministic, so for the fixed id-derived token strings the
    collision outcome is a constant verified at all test SFs (a
    pytest also pins recall == 1.0 vs brute force at sf0.001).
    Scale shape: inherits near_dup_pairs unchanged — banded equi-join
    candidate generation, exact-Jaccard verify on the hashed shingle
    sets, nothing all-pairs."""
    from alternating_least_squares_spark.functions.dedup import (
        near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dstr = F.col("doc_id").cast("string")
    noise = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.concat(
            F.lit("zq"), dstr, F.lit("a zq"), dstr, F.lit("b zq"), dstr,
            F.lit("c zq"), dstr, F.lit("d zq"), dstr, F.lit("e"),
        ).alias("text"),
    )
    fams = docs.filter(F.col("doc_id") % 10 == 0)
    a = fams.select(
        "doc_id",
        _d12_family_text(
            dstr, D12_SHARED,
            [F.concat(F.lit("uqa"), dstr, F.lit(s)) for s in ("x", "y")],
        ).alias("text"),
    )
    b = fams.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        _d12_family_text(
            dstr, D12_SHARED,
            [F.concat(F.lit("uqb"), dstr, F.lit(s)) for s in ("x", "y")],
        ).alias("text"),
    )
    c = fams.select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        _d12_family_text(
            dstr, D12_C_SHARED,
            [
                F.concat(F.lit("uqc"), dstr, F.lit(f"w{i}"))
                for i in range(10)
            ],
        ).alias("text"),
    )
    corpus = noise.unionByName(a).unionByName(b).unionByName(c)
    return near_dup_pairs(
        corpus, "doc_id", "text",
        n_hashes=32, bands=16, k=1, threshold=0.8,
    )


SQL_D12 = """
SELECT doc_id AS id_a, doc_id + 20000000 AS id_b,
       CAST(0.875 AS DOUBLE) AS jaccard
FROM documents WHERE doc_id % 10 = 0
"""


D13_K = 3  # Hamming radius; 4 bands of 16 bits pigeonhole-cover k<=3


def q_d13_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup JOIN on the REAL corpus at a
    REAL radius (functions/dedup.simhash_near_dup_pairs) — the only
    dedup entry whose oracle needs NO forced construction: simhash
    here is md5-derived (the d01 trick widened to 64 bits), so DuckDB
    recomputes every fingerprint bit-exactly and brute-forces the
    ground truth over all pairs (an oracle may be quadratic; the
    OPERATOR may not). Candidate generation is exhaustive by
    PIGEONHOLE — 4 contiguous 16-bit bands, a ≤3-bit difference
    leaves ≥1 band identical — so unlike MinHash banding there is no
    recall S-curve to argue about: recall is exactly 1 at k=3 by
    construction (Manku/Jain/Das Sarma, WWW'07). The corpus is
    documents plus identical twins at +20M for doc_id%10==0, which
    guarantees ≥|docs|/10 distance-0 rows at any regeneration; the
    natural corpus contributes the interesting 1..3-bit pairs
    (measured at sf0.01: 52 at d=0, 7 at d=1, 4 at d=2, 3 at d=3).
    Scale: one narrow signature pass, band-key equi-join (THE
    shuffle — two longs per side, no text), integer popcount verify;
    no bucket cap here — any cap forfeits the pigeonhole recall-1
    contract (see simhash_near_dup_pairs), so the scale remedy for
    degenerate fingerprints is pre-filtering or more bands, never
    silent dropping. Both remedies are applied here (ADVICE r13):
    (1) empty/whitespace-only docs are pre-filtered on BOTH engines —
    they all fingerprint to (0, 0), share all 4 band buckets, and
    would grow the candidate self-join quadratically in their count;
    the entry's domain is non-degenerate docs, with degenerate docs
    owned by the exact-dup path (t05/d06), exactly as the
    simhash_near_dup_pairs docstring prescribes (the current corpora
    have zero such docs, so the filter is output-neutral today and a
    semantic guarantee for any regeneration); (2) the signature-table
    checkpoint of the PREVIOUS invocation is released on each call
    (per-application rotation below) so repeated calls in one session
    pin one signature copy, not one per call."""
    from alternating_least_squares_spark.checkpoint import (
        release_local_checkpoint,
    )
    from alternating_least_squares_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).filter(F.trim("text") != "")
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    owned: list[int] = []
    out = simhash_near_dup_pairs(
        docs.unionByName(twins), "doc_id", "text", k=D13_K,
        owned_out=owned,
    )
    # Rotate across invocations: release the signature blocks pinned
    # by the PREVIOUS q_d13 call in this application (its result was
    # already evaluated — driver/bench consume each DataFrame before
    # requesting the next; a caller that re-evaluates a stale d13
    # result after a newer call would recompute through a released
    # checkpoint and fail loudly, never silently).
    app = spark.sparkContext.applicationId
    release_local_checkpoint(out, _D13_SIG_OWNED.pop(app, None))
    _D13_SIG_OWNED[app] = set(owned)
    return out


# per-application ownership of the live q_d13 signature checkpoint
_D13_SIG_OWNED: dict[str, set[int]] = {}


def _d13_oracle(k: int) -> str:
    """Brute-force ground truth: recompute the 64-bit simhash halves
    (md5-digit bits, the d01 oracle widened to 4 bits per digit) and
    evaluate EVERY pair — the oracle states semantics, the Spark side
    owns the sublinear plan. Bit layout mirrors simhash64_table: half
    w packs md5 hex digits w*8+1..w*8+8 MSB-first, so half-bit g
    comes from sub-bit 3-g%4 of digit g//4."""

    def half(w: int) -> str:
        terms = []
        for g in range(32):
            j = w * 8 + g // 4 + 1  # 1-based hex digit index
            b = 3 - g % 4
            digit = (
                "(strpos('0123456789abcdef', "
                f"substr(h, {j}, 1)) - 1)"
            )
            sign = (
                f"CASE WHEN ({digit} // {1 << b}) % 2 = 1 "
                "THEN 1 ELSE -1 END"
            )
            bit = (
                "(CASE WHEN list_sum(list_transform(hs, h -> "
                f"{sign})) > 0 THEN 1 ELSE 0 END)"
            )
            terms.append(f"{bit} * {1 << (31 - g)}")
        return " + ".join(terms)

    return f"""
WITH corpus AS (
  -- degenerate (empty/whitespace-only) docs are pre-filtered on both
  -- engines: they belong to the exact-dup path, not the Hamming join
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  WHERE trim(coalesce(text, '')) <> ''
  UNION ALL
  SELECT doc_id + 20000000, coalesce(text, '') FROM documents
  WHERE doc_id % 10 = 0 AND trim(coalesce(text, '')) <> ''
),
tk AS MATERIALIZED (
  SELECT doc_id, list_transform({_toks_sql()}, t -> md5(t)) AS hs
  FROM corpus
),
sh AS MATERIALIZED (
  SELECT doc_id, CAST({half(0)} AS BIGINT) AS sh_hi,
         CAST({half(1)} AS BIGINT) AS sh_lo
  FROM tk
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh_hi, b.sh_hi))
            + bit_count(xor(a.sh_lo, b.sh_lo)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh_hi, b.sh_hi))
      + bit_count(xor(a.sh_lo, b.sh_lo)) <= {k}
"""


SQL_D13 = _d13_oracle(D13_K)


def q_d14_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/path-level dedup gate
    (functions/urlfns.canonicalize_url) — the CCNet/RefinedWeb-style
    pre-filter upstream of the content-dedup ladder: O(rows) pure
    string codegen with NO candidate join, so at 100 TB it removes
    the bulk of crawl duplication before any shingling shuffle runs.

    Fixture (the d12 planted-twin discipline, but with the oracle
    checking the RULES, not the construction): every doc_id derives a
    dirty URL deterministically — groups of 10 consecutive ids share
    one canonical page, and the id mod 10 picks the dirt class
    (scheme/host case, explicit default port :80/:443, fragment,
    utm_*/fbclid/gclid/ref tracking params, query-key order, trailing
    slashes, and an everything-at-once row). The Spark side runs the
    real canonicalizer; the DuckDB oracle builds the same dirty
    strings and then RESTATES the canonicalization independently with
    DuckDB regexp/list functions — so the hash pins the
    transformation engine-independently (a parser bug cannot hide
    behind its own construction; the r13 rank-1-MinHash lesson).
    Output is the dedup gate itself: (canon_url, n_docs, keep_id) —
    ten dirty spellings per canonical URL collapse to one keeper."""
    from alternating_least_squares_spark.functions.urlfns import (
        canonicalize_url,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    g = F.floor(F.col("doc_id") / F.lit(10)).cast("long")
    v = F.col("doc_id") % 10
    s = F.when(g % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    h = F.concat(F.lit("example"), g.cast("string"), F.lit(".com"))
    prt = F.when(g % 2 == 0, F.lit(":80")).otherwise(F.lit(":443"))
    p = F.concat(F.lit("/docs/"), g.cast("string"))
    sep = F.lit("://")
    q = F.lit("?x=1&y=2")
    dirty = (
        F.when(v == 0, F.concat(s, sep, h, p, q))
        .when(v == 1, F.concat(F.upper(s), sep, F.upper(h), p, q))
        .when(v == 2, F.concat(s, sep, h, prt, p, q))
        .when(v == 3, F.concat(s, sep, h, p, q, F.lit("#section-3")))
        .when(
            v == 4,
            F.concat(s, sep, h, p, F.lit("?utm_source=feed&x=1&y=2")),
        )
        .when(v == 5, F.concat(s, sep, h, p, F.lit("?y=2&x=1")))
        .when(v == 6, F.concat(s, sep, h, p, F.lit("/"), q))
        .when(
            v == 7, F.concat(s, sep, h, p, F.lit("?x=1&y=2&fbclid=abc"))
        )
        .when(
            v == 8,
            F.concat(
                s, sep, F.upper(h), prt, p, F.lit("/?y=2&gclid=z&x=1")
            ),
        )
        .otherwise(
            F.concat(
                F.upper(s),
                sep,
                F.upper(h),
                prt,
                p,
                F.lit("//?utm_medium=m&y=2&ref=r&x=1#f"),
            )
        )
    )
    canon = d.select(
        "doc_id", canonicalize_url(dirty).alias("canon_url")
    )
    return canon.groupBy("canon_url").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id")
    )


SQL_D14 = r"""
WITH d AS (
  SELECT doc_id,
         CAST(floor(doc_id / 10) AS BIGINT) AS g,
         doc_id % 10 AS v
  FROM documents
),
pieces AS (
  SELECT doc_id, v,
         CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END AS s,
         'example' || CAST(g AS VARCHAR) || '.com' AS h,
         CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END AS prt,
         '/docs/' || CAST(g AS VARCHAR) AS p
  FROM d
),
dirty AS (
  SELECT doc_id,
         CASE v
           WHEN 0 THEN s || '://' || h || p || '?x=1&y=2'
           WHEN 1 THEN upper(s) || '://' || upper(h) || p || '?x=1&y=2'
           WHEN 2 THEN s || '://' || h || prt || p || '?x=1&y=2'
           WHEN 3 THEN s || '://' || h || p || '?x=1&y=2#section-3'
           WHEN 4 THEN s || '://' || h || p || '?utm_source=feed&x=1&y=2'
           WHEN 5 THEN s || '://' || h || p || '?y=2&x=1'
           WHEN 6 THEN s || '://' || h || p || '/?x=1&y=2'
           WHEN 7 THEN s || '://' || h || p || '?x=1&y=2&fbclid=abc'
           WHEN 8 THEN s || '://' || upper(h) || prt || p
                       || '/?y=2&gclid=z&x=1'
           ELSE upper(s) || '://' || upper(h) || prt || p
                || '//?utm_medium=m&y=2&ref=r&x=1#f'
         END AS url
  FROM pieces
),
-- independent restatement of functions/urlfns.canonicalize_url
steps AS (
  SELECT doc_id,
         regexp_replace(trim(url), '#.*$', '') AS u
  FROM dirty
),
split1 AS (
  SELECT doc_id, u,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM steps
),
split2 AS (
  SELECT doc_id, scheme,
         lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS auth,
         regexp_replace(rest, '^[^/?#]*', '') AS after
  FROM split1
),
split3 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(auth, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(auth, ':443$', '')
              ELSE auth END AS host,
         regexp_replace(regexp_extract(after, '^([^?]*)', 1),
                        '/+$', '') AS path,
         CASE WHEN contains(after, '?')
              THEN regexp_replace(after, '^[^?]*\?', '')
              ELSE '' END AS query
  FROM split2
),
canon AS (
  SELECT doc_id,
         (CASE WHEN scheme <> '' THEN scheme || '://' ELSE '' END)
         || host || path
         || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END)
           AS canon_url
  FROM (
    SELECT doc_id, scheme, host, path,
           array_to_string(
             list_sort(
               list_filter(string_split(query, '&'),
                 x -> x <> '' AND NOT regexp_matches(
                   x, '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))),
             '&') AS kept
    FROM split3
  )
)
SELECT canon_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_id
FROM canon GROUP BY 1
"""


D15_D_SHARED = 26  # family tokens the D variant keeps (of d12's 28)


def q_d15_threshold_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup COLLAPSE at a REAL 0.8 threshold — d12's fractional-
    Jaccard proof extended from the PAIR rung to the full collapse
    composition (banded LSH pairs → exact connected components →
    keep-one + cluster size), which d11 only certified at threshold
    1.0 (where the pair graph degenerates to identical-key cliques).
    Here the component structure exists ONLY through transitivity, so
    the hash-min propagation is doing real work:

    - A/B twins as in d12: 28 shared family tokens + 2 per-twin
      uniques → J(A,B) = 28/32 = 0.875 ≥ 0.8.
    - a new D variant (id+60M): the FIRST 26 family tokens + B's two
      unique tokens + 4 D-only tokens (32 tokens total), so
      J(B,D) = (26+2)/(30+32-28) = 28/34 ≈ 0.824 ≥ 0.8 but
      J(A,D) = 26/(30+32-26) = 26/36 ≈ 0.722 < 0.8: the A–D pair is
      NEVER emitted, yet {A, B, D} must land in one component via B —
      a transitive merge no threshold-1.0 fixture can exhibit.
    - the d12 C variant (id+40M, 20 shared + 10 unique: J ≤ 0.5 to
      everything) stays a singleton — the rejection path — and noise
      docs (id%10≠0, disjoint token sets) stay singletons.

    Ground truth is forced by construction exactly as in d12 (banding
    recall on the planted J=0.875/0.824 pairs is a deterministic
    constant, miss probability ≤ (1-0.824²)¹⁶ ≈ 1.3e-8 per family, a
    pytest pins pipeline == brute force at sf0.001), so the oracle
    states the component census directly: every family collapses to
    min id with n_merged=3, everything else is a singleton.

    Scale shape: pairs inherit near_dup_pairs (banded equi-join, the
    one shuffle, exact-Jaccard verify on hashed shingles — nothing
    all-pairs); components run the hash-min round of
    graph.components_fixed, whose round count is the CLUSTER diameter
    (2 here, ≤3 for near-dup graphs — almost-cliques), each round one
    join + one groupBy-min on a rotating localCheckpoint that also
    carries the changed count (checkpoint.py bounds pinned storage).
    Reference scope: data.clj:17-30 diffs sorted exports; collapsing
    a 100 TB corpus's transitive near-dup clusters to canonical
    survivors is that dedup contract at training-data scale."""
    from alternating_least_squares_spark.functions.dedup import (
        dedup_components,
        near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dstr = F.col("doc_id").cast("string")
    noise = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.concat(
            F.lit("zq"), dstr, F.lit("a zq"), dstr, F.lit("b zq"), dstr,
            F.lit("c zq"), dstr, F.lit("d zq"), dstr, F.lit("e"),
        ).alias("text"),
    )
    fams = docs.filter(F.col("doc_id") % 10 == 0)
    uqb = [F.concat(F.lit("uqb"), dstr, F.lit(s)) for s in ("x", "y")]
    a = fams.select(
        "doc_id",
        _d12_family_text(
            dstr, D12_SHARED,
            [F.concat(F.lit("uqa"), dstr, F.lit(s)) for s in ("x", "y")],
        ).alias("text"),
    )
    b = fams.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        _d12_family_text(dstr, D12_SHARED, uqb).alias("text"),
    )
    c = fams.select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        _d12_family_text(
            dstr, D12_C_SHARED,
            [
                F.concat(F.lit("uqc"), dstr, F.lit(f"w{i}"))
                for i in range(10)
            ],
        ).alias("text"),
    )
    d = fams.select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"),
        _d12_family_text(
            dstr, D15_D_SHARED,
            uqb
            + [
                F.concat(F.lit("uqd"), dstr, F.lit(f"w{i}"))
                for i in range(4)
            ],
        ).alias("text"),
    )
    corpus = (
        noise.unionByName(a).unionByName(b).unionByName(c).unionByName(d)
    )
    pairs = near_dup_pairs(
        corpus, "doc_id", "text",
        n_hashes=32, bands=16, k=1, threshold=0.8,
    )
    comp = dedup_components(pairs)
    clustered = comp.groupBy(F.col("component").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_merged")
    )
    singletons = (
        corpus.join(comp, corpus.doc_id == comp.id, "left_anti")
        .select("doc_id", F.lit(1).cast("long").alias("n_merged"))
    )
    return clustered.unionByName(singletons)


SQL_D15 = """
SELECT doc_id, CAST(3 AS BIGINT) AS n_merged
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 40000000, CAST(1 AS BIGINT) AS n_merged
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS n_merged
FROM documents WHERE doc_id % 10 <> 0
"""


def q_x16_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering — the
    last pipeline stage before a trainer reads the corpus: every doc
    gets a content-independent pseudo-random position, reproducible
    across engines, partitionings, and reruns (no rand(), no
    zipWithIndex). Key = md5 over a salted doc_id; shard = first hex
    nibble (16 shards); position = rank of the key inside the shard.

    Scale shape: there is never a GLOBAL row_number — a trainer needs
    per-shard files in deterministic order, not one sequence, so the
    window partitions by shard and the only exchange is the hash
    partition on shard. At 100 TB widen the shard key to 3-4 hex
    chars (4k-65k shards ≈ cluster parallelism × a small factor) and
    write with partitionBy(shard) + sortWithinPartitions(key): same
    plan, no new shuffle. The md5-keyed ORDER is the shuffle quality
    guarantee — any subset of shards is itself an unbiased sample
    (the x02/x06 hash-split property, applied to ordering)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    a = F.ascii(F.substring(key, 1, 1))
    shard = F.when(a >= 97, a - 87).otherwise(a - 48)
    keyed = docs.select(
        "doc_id", key.alias("skey"), shard.cast("long").alias("shard")
    )
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("skey", "doc_id")
    )
    return keyed.select(
        "doc_id", "shard", pos.cast("long").alias("pos")
    )


SQL_X16 = """
WITH k AS (
  SELECT doc_id, md5('shuf:' || doc_id) AS skey,
         CAST(CASE WHEN ascii(substr(md5('shuf:' || doc_id), 1, 1)) >= 97
                   THEN ascii(substr(md5('shuf:' || doc_id), 1, 1)) - 87
                   ELSE ascii(substr(md5('shuf:' || doc_id), 1, 1)) - 48
              END AS BIGINT) AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
            AS BIGINT) AS pos
FROM k
"""


def q_x22_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET domain mixing — the composer stage of training-data
    recipes that x06 (probability-mass cap) and x15 (temperature
    rates) don't express: each source contributes documents, in a
    deterministic hash order, until its token budget is spent. Rate
    samplers control expected mass; a budget cut controls EXACT token
    counts, which is what an epoch plan actually allocates.

    Admission rule: a doc is admitted iff the tokens admitted before
    it (hash order, doc_id tie-break) are still under budget — so the
    boundary doc that crosses the budget IS admitted (every non-empty
    source contributes at least one doc, the composer convention) and
    the result is a pure function of the corpus, not of engine,
    partitioning, or run (the x02/x03/x16 md5 discipline; seeded RNG
    orderings are none of those).

    Scale shape: one scan computes (n_tok, hash); the only exchange is
    the per-source window sort — linear, keyed on source, the same
    shuffle x16 pays for ordering. The cumulative sum is exact BIGINT.
    A 100 TB deployment with few giant sources salts the window key
    the x08 way only if a single source exceeds an executor's sort
    spill comfort; the admission rule itself is order-prefix-stable so
    per-salt partial sums can be merged hierarchically."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return _budget_admit(keyed).select(
        "doc_id", "source", "n_tok", F.col("_cum").alias("cum_before")
    )


SQL_X22 = f"""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len({_toks_sql()}) AS BIGINT) AS n_tok,
         md5('budget:' || doc_id) AS h
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, source, n_tok,
         CAST(coalesce(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cum_before
  FROM tk
)
SELECT doc_id, source, n_tok, cum_before
FROM c WHERE cum_before < {X22_BUDGET_TOKENS}
"""


X23_K = 100          # sample size
X23_MAX_W = 8        # weight bucket cap (tickets per doc)


def q_x23_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    quality/length-weighted corpus sampler between x03 (uniform
    hash-stratified) and x22 (budget cut): draw k docs with successive
    selection probability proportional to an integer weight, with NO
    RNG, reproducible across engines, partitionings, and reruns.

    Scheme (Rosén 1997 successive sampling via bottom-k ranks, the
    integer-exact face of Efraimidis–Spirtakis A-ES keys u^(1/w)):
    every doc gets w tickets (w = 1 + min(7, n_tok DIV 32), a bounded
    length-bucket weight), ticket j's rank is md5("ws:<doc_id>:<j>"),
    the doc's sample key is its MINIMUM ticket rank, and the sample is
    the k smallest keys. Exactness, not approximation: each ticket is
    equally likely to hold the GLOBAL minimum rank, so the first
    selection lands on doc i with probability w_i/Σw, and conditioning
    on removing the winner's tickets repeats the argument — exactly
    sampling ∝ w without replacement (min of w uniforms ≍ u^(1/w):
    same per-doc key distribution A-ES uses). md5 makes the ranks a
    pure function of doc_id, so the draw is an auditable property of
    the corpus — seeded-RNG samplers are none of engine-portable,
    repartition-stable, or oracle-checkable.

    Shape: ticket ranks are X23_MAX_W codegen md5 columns folded with
    least() (absent tickets get a 'zz' sentinel that sorts after every
    hex digest — no NULL-semantics reliance on either engine); the
    k-smallest selection is orderBy+limit, which Spark executes as
    TakeOrderedAndProject — a per-partition top-k then a driver merge
    of k·partitions rows, NEVER a global sort. At 100 TB: one scan,
    zero shuffles, k rows move."""
    docs = load_table(spark, sf_dir, "documents")
    return _x23_keyed(docs).orderBy("sample_key", "doc_id").limit(X23_K)


def _x23_keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, w, sample_key) for the x23 ticket scheme — shared by
    the batch draw (x23) and the streaming bottom-k ledger (st14),
    so the two entries certify the same key arithmetic."""
    n_tok = F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
    w = (F.lit(1) + F.least(
        F.lit(X23_MAX_W - 1), (n_tok / 32).cast("int")
    )).cast("long")
    dstr = F.col("doc_id").cast("string")
    tickets = [
        F.when(
            w >= j,
            F.md5(F.concat(F.lit("ws:"), dstr, F.lit(f":{j}"))),
        ).otherwise(F.lit("zz"))
        for j in range(1, X23_MAX_W + 1)
    ]
    return docs.select(
        "doc_id", w.alias("w"), F.least(*tickets).alias("sample_key")
    )


SQL_X23 = f"""
WITH tk AS (
  SELECT doc_id,
         CAST(1 + least({X23_MAX_W - 1},
                        len({_toks_sql("coalesce(text, '')")}) // 32)
              AS BIGINT) AS w
  FROM documents
),
keyed AS (
  SELECT doc_id, w,
         least({", ".join(
             f"CASE WHEN w >= {j} THEN md5('ws:' || doc_id || ':{j}') "
             "ELSE 'zz' END"
             for j in range(1, X23_MAX_W + 1)
         )}) AS sample_key
  FROM tk
)
SELECT doc_id, w, sample_key
FROM keyed ORDER BY sample_key, doc_id LIMIT {X23_K}
"""


def q_x19_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-EPOCH training order — x16 with the epoch number folded
    into the hash salt, because a trainer that reuses one permutation
    across epochs loses the regularization reshuffling exists for.
    Each epoch's order is an independent deterministic permutation
    (key = md5("shuf:<epoch>:<doc_id>")), reproducible per epoch in
    isolation: epoch N's order never depends on which other epochs
    are materialized, so a preemption-restarted job regenerates
    exactly the epoch files it lost. Same scale shape as x16 — the
    epoch is part of the PARTITION key, so all epochs pipeline
    through one hash exchange on (epoch, shard) and a trainer reads
    partitionBy(epoch, shard) output; no global row_number, no
    cross-epoch dependency. The inter-epoch decorrelation invariant
    (orders actually differ) is pytest-pinned in
    tests/test_sampling.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # epoch fan-out is a GENERATOR (explode of a literal array), not a
    # cross join — no join operator, nothing for the lint to whitelist
    keyed = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat(
                F.lit("shuf:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("skey"),
    )
    a = F.ascii(F.substring("skey", 1, 1))
    keyed = keyed.withColumn(
        "shard", F.when(a >= 97, a - 87).otherwise(a - 48).cast("long")
    )
    pos = F.row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("skey", "doc_id")
    )
    return keyed.select(
        "doc_id", "epoch", "shard", pos.cast("long").alias("pos")
    )


SQL_X19 = """
WITH k AS (
  SELECT doc_id, epoch,
         md5('shuf:' || epoch || ':' || doc_id) AS skey
  FROM documents, (SELECT 0 AS epoch UNION ALL SELECT 1)
),
s AS (
  SELECT doc_id, epoch, skey,
         CAST(CASE WHEN ascii(substr(skey, 1, 1)) >= 97
                   THEN ascii(substr(skey, 1, 1)) - 87
                   ELSE ascii(substr(skey, 1, 1)) - 48
              END AS BIGINT) AS shard
  FROM k
)
SELECT doc_id, epoch, shard,
       CAST(row_number() OVER (PARTITION BY epoch, shard
                               ORDER BY skey, doc_id) AS BIGINT) AS pos
FROM s
"""


REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "a01_cmap": (q_a01_cmap, SQL_A01),
    "a02_dot": (q_a02_dot, SQL_A02),
    "a03_diff_vector": (q_a03_diff_vector, SQL_A03),
    "a04_l2_norm": (q_a04_l2_norm, SQL_A04),
    "a05_rmse": (q_a05_rmse, SQL_A05),
    "a06_transpose": (q_a06_transpose, SQL_A06),
    "a07_sum_rows": (q_a07_sum_rows, SQL_A07),
    "a08_sum_cols": (q_a08_sum_cols, SQL_A08),
    "a09_laplace_smooth": (q_a09_laplace_smooth, SQL_A09),
    "a10_weight_matrix": (q_a10_weight_matrix, SQL_A10),
    "a11_apply_weights": (q_a11_apply_weights, SQL_A11),
    "a12_add_labels": (q_a12_add_labels, SQL_A12),
    "a13_mmult": (q_a13_mmult, SQL_A13),
    "a14_seed_matrix": (q_a14_seed_matrix, SQL_A14),
    "a15_optimize_marginal": (q_a15_optimize_marginal, SQL_A15),
    "a16_ipf_step": (q_a16_ipf_step, SQL_A16),
    "a17_converge": (q_a17_converge, SQL_A17),
    "a21_converge_coordinate": (q_a21_converge_coordinate, SQL_A21),
    "a22_rake3": (q_a22_rake3, SQL_A22),
    "a18_normalize_matrix": (q_a18_normalize, SQL_A18),
    "a19_error_matrix": (q_a19_error_matrix, SQL_A19),
    "a20_matrix_norm": (q_a20_matrix_norm, SQL_A20),
    "b03_symmetric_diff": (q_b03_symmetric_diff, SQL_B03),
    "c01_sorted_scan": (q_c01_sorted_scan, SQL_C01),
    "c03_projection": (q_c03_projection, SQL_C03),
    "c07_sort_by_key": (q_c07_sort_by_key, SQL_C07),
    "b01_b02_csv_roundtrip": (q_b01_b02_csv_roundtrip, SQL_B01),
    "b04_orc_roundtrip": (q_b04_orc_roundtrip, SQL_B04),
    "b05_jsonl_roundtrip": (q_b05_jsonl_roundtrip, SQL_B05),
    "b06_corrupt_records": (q_b06_corrupt_records, SQL_B06),
    "c02_filter_nonzero": (q_c02_filter_nonzero, SQL_C02),
    "c04_micros_to_currency": (q_c04_micros, SQL_C04),
    "c05_anti_join": (q_c05_anti_join, SQL_C05),
    "c06_zero_pad": (q_c06_zero_pad, SQL_C06),
    "c08_unpivot": (q_c08_unpivot, SQL_C08),
    "c08_pivot": (q_c08_pivot, SQL_C08_PIVOT),
    "c09_ones_matrix": (q_c09_ones, SQL_C09),
    "c10_safe_divide": (q_c10_safe_divide, SQL_C10),
    "c11_upsert": (q_c11_upsert, SQL_C11),
    "ac01_snapshot_merge": (q_ac01_snapshot_merge, SQL_AC01),
    "ac02_time_travel": (q_ac02_time_travel, SQL_AC02),
    "ac03_zorder_code": (q_ac03_zorder_code, SQL_AC03),
    "c12_set_ops": (q_c12_set_ops, SQL_C12),
    "c13_try_arithmetic": (q_c13_try_arithmetic, SQL_C13),
    "c14_nullsafe_join": (q_c14_nullsafe_join, SQL_C14),
    "c15_explode_outer": (q_c15_explode_outer, SQL_C15),
    "t01_token_stats": (q_t01_token_stats, SQL_T01),
    "t02_quality_score": (q_t02_quality_score, SQL_T02),
    "t03_lang_id": (q_t03_lang_id, SQL_T03),
    "t04_fingerprint": (q_t04_fingerprint, SQL_T04),
    "t05_exact_dup_groups": (q_t05_exact_dup_groups, SQL_T05),
    "v01_cosine_pairs": (q_v01_cosine_pairs, SQL_V01),
    "v02_topk_cosine": (q_v02_topk_cosine, SQL_V02),
    "v03_quantize_int8": (q_v03_quantize_int8, SQL_V03),
    "v04_binary_hamming_topk": (q_v04_binary_hamming_topk, SQL_V04),
    # v05 RANKS by the augmented cosine while its oracle ranks by the
    # raw integer dot — the hash match IS the proof the Shrivastava-Li
    # MIPS reduction preserves ranking exactly
    "v05_mips_topk": (q_v05_mips_topk, SQL_V05),
    "v06_knn_graph": (q_v06_knn_graph, SQL_V06),
    "v07_semantic_clusters": (q_v07_semantic_clusters, SQL_V07),
    "e01_hourly_value": (q_e01_hourly_value, SQL_E01),
    "e02_json_extract": (q_e02_json_extract, SQL_E02),
    "e03_sessionize": (q_e03_sessionize, SQL_E03),
    "e04_resample_gapfill": (q_e04_resample_gapfill, SQL_E04),
    "e17_locf_fill": (q_e17_locf_fill, SQL_E17),
    "e18_linear_interpolate": (q_e18_linear_interpolate, SQL_E18),
    "e19_interval_coalesce": (q_e19_interval_coalesce, SQL_E19),
    "e20_last_touch_attribution": (q_e20_last_touch_attribution, SQL_E20),
    "e21_retention_cohorts": (q_e21_retention_cohorts, SQL_E21),
    "e05_variant_json": (q_e05_variant_json, SQL_E05),
    "e06_funnel": (q_e06_funnel, SQL_E06),
    "e07_cohort_retention": (q_e07_cohort_retention, SQL_E07),
    "e08_ohlc_bars": (q_e08_ohlc_bars, SQL_E08),
    "e09_activity_streaks": (q_e09_activity_streaks, SQL_E09),
    "c16_scd2": (q_c16_scd2, SQL_C16),
    "ac04_compact_files": (q_ac04_compact_files, SQL_AC04),
    "ac05_vacuum": (q_ac05_vacuum, SQL_AC05),
    "ac06_schema_evolution": (q_ac06_schema_evolution, SQL_AC06),
    "ac07_merge_schema_evolution": (q_ac07_merge_schema_evolution, SQL_AC07),
    "ac11_cluster_optimize": (q_ac11_cluster_optimize, SQL_AC11),
    "x12_salted_join": (q_x12_salted_join, SQL_X12),
    "x05_python_udtf": (q_x05_python_udtf, SQL_X05),
    "h01_pricing_summary": (q_h01_pricing_summary, SQL_H01),
    "h02_revenue_by_nation": (q_h02_revenue_by_nation, SQL_H02),
    "h03_shipping_priority": (q_h03_shipping_priority, SQL_H03),
    "g01_rollup": (q_g01_rollup, SQL_G01),
    "g02_cube": (q_g02_cube, SQL_G02),
    "g03_percentiles": (q_g03_percentiles, SQL_G03),
    "g04_sketches": (q_g04_sketches, None),
    "g04b_sketch_exact_regime": (q_g04b_sketch_exact_regime, SQL_G04B),
    "sql01_shared_dialect": (q_sql01_shared_dialect, SQL_SHARED_SQL01),
    "w01_running_total": (q_w01_running_total, SQL_W01),
    "w02_rank_dense_lag": (q_w02_rank_dense_lag, SQL_W02),
    "w03_time_range_avg": (q_w03_time_range_avg, SQL_W03),
    "w04_distribution_funcs": (q_w04_distribution_funcs, SQL_W04),
    "w05_tumbling_batch": (q_w05_tumbling_batch, SQL_W05),
    "w06_hopping_batch": (q_w06_hopping_batch, SQL_W06),
    "g05_grouping_sets": (q_g05_grouping_sets, SQL_G05),
    "j01_asof_join": (q_j01_asof_join, SQL_J01),
    "j02_range_join": (q_j02_range_join, SQL_J02),
    "j03_interval_overlap": (q_j03_interval_overlap, SQL_J03),
    "g06_histogram": (q_g06_histogram, SQL_G06),
    "h04_local_supplier_volume": (q_h04_local_supplier_volume, SQL_H04),
    "h05_returned_revenue": (q_h05_returned_revenue, SQL_H05),
    "h06_promo_revenue": (q_h06_promo_revenue, SQL_H06),
    "h07_order_priority": (q_h07_order_priority, SQL_H07),
    "h08_volume_shipping": (q_h08_volume_shipping, SQL_H08),
    "h09_product_profit": (q_h09_product_profit, SQL_H09),
    "h10_shipmode_priority": (q_h10_shipmode_priority, SQL_H10),
    "h11_order_distribution": (q_h11_order_distribution, SQL_H11),
    "h12_disjunctive_revenue": (q_h12_disjunctive_revenue, SQL_H12),
    "h13_large_volume_orders": (q_h13_large_volume_orders, SQL_H13),
    "h14_idle_rich_customers": (q_h14_idle_rich_customers, SQL_H14),
    "h15_top_supplier": (q_h15_top_supplier, SQL_H15),
    "h16_supplier_part_counts": (q_h16_supplier_part_counts, SQL_H16),
    "h17_small_qty_revenue": (q_h17_small_qty_revenue, SQL_H17),
    "h18_important_parts": (q_h18_important_parts, SQL_H18),
    "h19_min_cost_supplier": (q_h19_min_cost_supplier, SQL_H19),
    "h21_sole_returning_supplier": (q_h21_sole_returning_supplier, SQL_H21),
    "h20_forecast_revenue": (q_h20_forecast_revenue, SQL_H20),
    "h22_market_share": (q_h22_market_share, SQL_H22),
    "t06_tfidf": (q_t06_tfidf, SQL_T06),
    "t07_top_bigrams": (q_t07_top_bigrams, SQL_T07),
    "t08_contamination": (q_t08_contamination, SQL_T08),
    "t09_bpe_tokens": (q_t09_bpe_tokens, SQL_T09),
    "t10_chunk_windows": (q_t10_chunk_windows, SQL_T10),
    "t11_pii_redact": (q_t11_pii_redact, SQL_T11),
    "t12_repetition_stats": (q_t12_repetition_stats, SQL_T12),
    "x01_grouped_outliers": (q_x01_grouped_outliers, SQL_X01),
    "x02_train_test_split": (q_x02_train_test_split, SQL_X02),
    "x03_stratified_sample": (q_x03_stratified_sample, SQL_X03),
    "x06_domain_mix_sample": (q_x06_domain_mix_sample, SQL_X06),
    "x07_python_datasource": (q_x07_python_datasource, SQL_X07),
    "x08_salted_agg": (q_x08_salted_agg, SQL_X08),
    "x09_bucketed_join": (q_x09_bucketed_join, SQL_X09),
    "x10_partition_pruning": (q_x10_partition_pruning, SQL_X10),
    "x11_table_profile": (q_x11_table_profile, SQL_X11),
    "t13_sequence_packing": (q_t13_sequence_packing, SQL_T13),
    "t14_context_assembly": (q_t14_context_assembly, SQL_T14),
    "x04_pandas_udaf_geomean": (q_x04_pandas_udaf_geomean, SQL_X04),
    "q01_data_quality": (q_q01_data_quality, SQL_Q01),
    "p01_corpus_curation": (q_p01_corpus_curation, SQL_P01),
    "p02_corpus_stats": (q_p02_corpus_stats, SQL_P02),
    "st01_stream_hourly": (q_st01_stream_hourly, SQL_ST01),
    "st02_stream_sessionize": (q_st02_stream_sessionize, SQL_ST02),
    "st03_stateful_profiles": (q_st03_stateful_profiles, SQL_ST03),
    "st04_stream_enrich": (q_st04_stream_enrich, SQL_ST04),
    "st05_stream_dedup": (q_st05_stream_dedup, SQL_ST05),
    "st06_stream_stream_join": (q_st06_stream_stream_join, SQL_ST06),
    "st07_stream_hopping": (q_st07_stream_hopping, SQL_ST07),
    "st08_stream_snapshot_sink": (q_st08_stream_snapshot_sink, SQL_ST08),
    "st09_incremental_ingest": (q_st09_incremental_ingest, SQL_ST09),
    "st10_stream_admission": (q_st10_stream_admission, SQL_ST10),
    "mm01_media_features": (q_mm01_media_features, SQL_MM01),
    "mm02_frame_sample": (q_mm02_frame_sample, SQL_MM02),
    "mm03_arrow_features": (q_mm03_arrow_features, SQL_MM03),
    "mm06_pcm_features": (q_mm06_pcm_features, SQL_MM06),
    "mm07_wav_decode": (q_mm07_wav_decode, SQL_MM07),
    "mm08_png_decode": (q_mm08_png_decode, SQL_MM08),
    "mm09_palette_png": (q_mm09_palette_png, SQL_MM09),
    "mm10_interlaced_png": (q_mm10_interlaced_png, SQL_MM10),
    "mm11_deep_png": (q_mm11_deep_png, SQL_MM11),
    "mm12_jpeg_decode": (q_mm12_jpeg_decode, SQL_MM12),
    "mm13_decode_dispatch": (q_mm13_decode_dispatch, SQL_MM13),
    "d01_simhash": (q_d01_simhash, SQL_D01),
    "d02_jaccard_pairs": (q_d02_jaccard_pairs, SQL_D02),
    "d03_minhash_near_dup": (q_d03_minhash_near_dup, SQL_D03),
    "d04_dedup_components": (q_d04_dedup_components, SQL_D04),
    "d05_mllib_minhash": (q_d05_mllib_minhash, SQL_D05),
    "d06_keep_one": (q_d06_keep_one, SQL_D06),
    "s01_lsh_topk": (q_s01_lsh_topk, SQL_S01),
    "s02_embedding_near_dup": (q_s02_embedding_near_dup, SQL_S02),
    "s03_ivf_topk": (q_s03_ivf_topk, SQL_S03),
    "s04_mllib_euclidean": (q_s04_mllib_euclidean, SQL_S04),
    "s05_pca_topk": (q_s05_pca_topk, SQL_S05),
    "s06_pq_topk": (q_s06_pq_topk, SQL_S06),
    "s07_exact_threshold_join": (q_s07_exact_threshold_join, SQL_S07),
    "m01_als_recommend": (q_m01_als_recommend, None),
    "m02_als_implicit": (q_m02_als_implicit, None),
    "m03_quality_filter": (q_m03_quality_filter, None),
    "m05_pinned_scoring": (q_m05_pinned_scoring, SQL_M05),
    "m06_pinned_recommend": (q_m06_pinned_recommend, SQL_M06),
    "m07_pinned_ranking": (q_m07_pinned_ranking, SQL_M07),
    "ipf_cost_per_visit": (q_ipf_cost_per_visit, None),
    "ipf_cost_per_visit_fixed": (q_ipf_cost_per_visit_fixed, SQL_IPF_FIXED),
    "rc01_subtree_rollup": (q_rc01_subtree_rollup, SQL_RC01),
    "rc02_node_depth": (q_rc02_node_depth, SQL_RC02),
    "rc05_recursive_cte": (q_rc05_recursive_cte, SQL_RC05),
    "j04_asof_forward": (q_j04_asof_forward, SQL_J04),
    "e10_inter_event_gaps": (q_e10_inter_event_gaps, SQL_E10),
    "q02_referential_integrity": (q_q02_referential_integrity, SQL_Q02),
    "rc03_bom_effective_qty": (q_rc03_bom_effective_qty, SQL_RC03),
    "ac08_change_feed": (q_ac08_change_feed, SQL_AC08),
    "d07_incremental_dedup": (q_d07_incremental_dedup, SQL_D07),
    "d09_incremental_near_dup": (q_d09_incremental_near_dup, SQL_D09),
    "d10_indexed_admission": (q_d10_indexed_admission, SQL_D09),
    "sm01_semantic_dedup": (q_sm01_semantic_dedup, SQL_SM01),
    "gr01_pagerank_fixed": (q_gr01_pagerank_fixed, SQL_GR01),
    "e11_trailing_active_users": (q_e11_trailing_active_users, SQL_E11),
    "mm04_resize_stride": (q_mm04_resize_stride, SQL_MM04),
    "mm05_resize_nearest": (q_mm05_resize_nearest, SQL_MM05),
    "x13_dynamic_partition_pruning": (q_x13_dynamic_partition_pruning, SQL_X13),
    "w07_native_session_window": (q_w07_native_session_window, SQL_W07),
    "e12_daily_top_type": (q_e12_daily_top_type, SQL_E12),
    "j05_asof_nearest": (q_j05_asof_nearest, SQL_J05),
    "b07_binaryfile_source": (q_b07_binaryfile_source, SQL_B07),
    "b08_text_roundtrip": (q_b08_text_roundtrip, SQL_B08),
    "ac09_replicate_via_feed": (q_ac09_replicate_via_feed, SQL_AC09),
    # ac10 reads the TAGGED v0 after mutations + vacuum; its truth is
    # exactly ac02's v0 construction query
    "ac10_snapshot_tag": (q_ac10_snapshot_tag, SQL_AC02),
    # ac12 reads the HEAD after restore(v0) + vacuum; same v0 truth
    "ac12_restore": (q_ac12_restore, SQL_AC02),
    "ac13_deletion_vectors": (q_ac13_deletion_vectors, SQL_AC13),
    "ac14_dv_delete_keys": (q_ac14_dv_delete_keys, SQL_AC14),
    "ac15_dv_update": (q_ac15_dv_update, SQL_AC15),
    "ac16_dv_debt_gauge": (q_ac16_dv_debt_gauge, SQL_AC16),
    "e13_rfm_segments": (q_e13_rfm_segments, SQL_E13),
    "g07_weighted_mean": (q_g07_weighted_mean, SQL_G07),
    "g08_exact_corr": (q_g08_exact_corr, SQL_G08),
    "gr03_triangles": (q_gr03_triangles, SQL_GR03),
    "t20_line_dedup": (q_t20_line_dedup, SQL_T20),
    "d08_containment_pairs": (q_d08_containment_pairs, SQL_D08),
    "rc04_materialized_path": (q_rc04_materialized_path, SQL_RC04),
    "m04_market_basket": (q_m04_market_basket, SQL_M04),
    "t15_sentence_split": (q_t15_sentence_split, SQL_T15),
    "sql02_shared_windows": (q_sql02_shared_windows, SQL_SHARED_SQL02),
    "sql03_sql_udf": (q_sql03_sql_udf, SQL_SQL03),
    "sql04_lateral_topk": (q_sql04_lateral_topk, SQL_SHARED_SQL04),
    "sql05_shared_pivot": (q_sql05_shared_pivot, SQL_SHARED_SQL05),
    "sql06_shared_unpivot": (q_sql06_shared_unpivot, SQL_SHARED_SQL06),
    "sql07_shared_setops": (q_sql07_shared_setops, SQL_SHARED_SQL07),
    "e14_cumulative_users": (q_e14_cumulative_users, SQL_E14),
    "t16_normalized_dupes": (q_t16_normalized_dupes, SQL_T16),
    "gr02_degree_profile": (q_gr02_degree_profile, SQL_GR02),
    "x14_incremental_mv": (q_x14_incremental_mv, SQL_X14),
    "j06_point_in_time": (q_j06_point_in_time, SQL_J06),
    "j07_abandoned_clicks": (q_j07_abandoned_clicks, SQL_J07),
    "j08_scd2_intersect": (q_j08_scd2_intersect, SQL_J08),
    "e16_twap": (q_e16_twap, SQL_E16),
    "x15_temperature_mix": (q_x15_temperature_mix, SQL_X15),
    "t17_edit_distance_pairs": (q_t17_edit_distance_pairs, SQL_T17),
    "t18_unigram_logprob": (q_t18_unigram_logprob, SQL_T18),
    "t19_bigram_logprob": (q_t19_bigram_logprob, SQL_T19),
    "t21_repeated_spans": (q_t21_repeated_spans, SQL_T21),
    "t22_bpe_merge_pairs": (q_t22_bpe_merge_pairs, SQL_T22),
    "x16_training_shuffle": (q_x16_training_shuffle, SQL_X16),
    "d11_neardup_keep_one": (q_d11_neardup_keep_one, SQL_D11),
    "d12_threshold_near_dup": (q_d12_threshold_near_dup, SQL_D12),
    "d13_simhash_near_dup": (q_d13_simhash_near_dup, SQL_D13),
    "d14_url_dedup": (q_d14_url_dedup, SQL_D14),
    "d15_threshold_collapse": (q_d15_threshold_collapse, SQL_D15),
    "x17_dsir_weights": (q_x17_dsir_weights, SQL_X17),
    "x22_token_budget_mix": (q_x22_token_budget_mix, SQL_X22),
    "x23_weighted_sample": (q_x23_weighted_sample, SQL_X23),
    # st14's ledger after all waves IS the batch draw: bottom-k is a
    # mergeable sketch, so it shares x23's oracle text verbatim
    "st14_stream_weighted_sample": (q_st14_stream_weighted_sample, SQL_X23),
    "st15_watermark_late_drop": (q_st15_watermark_late_drop, SQL_ST15),
    "st16_outer_join_watermark": (q_st16_outer_join_watermark, SQL_ST16),
    "st17_streaming_erasure": (q_st17_streaming_erasure, SQL_ST17),
    "st18_streaming_cdc_apply": (q_st18_streaming_cdc_apply, SQL_ST18),
    "st19_streaming_fold_policy": (q_st19_streaming_fold_policy, SQL_ST19),
    "t23_span_scrub": (q_t23_span_scrub, SQL_T23),
    "t24_ngram_decontaminate": (q_t24_ngram_decontaminate, SQL_T24),
    # t25's oracle IS t24's text-key SQL: the driver hash certifies
    # hash-key == text-key (the d10/SQL_D09 shared-oracle pattern)
    "t25_hashed_decontaminate": (q_t25_hashed_decontaminate, SQL_T24),
    "t26_substring_dedup": (q_t26_substring_dedup, SQL_T26),
    "t27_span_scrub_pairs": (q_t27_span_scrub_pairs, SQL_T27),
    "p03_training_pipeline": (q_p03_training_pipeline, SQL_P03),
    "p04_drift_gated_admission": (q_p04_drift_gated_admission, SQL_P04),
    "p05_audio_curation": (q_p05_audio_curation, SQL_P05),
    "p06_image_curation": (q_p06_image_curation, SQL_P06),
    "w08_ewma": (q_w08_ewma, SQL_W08),
    "w09_rolling_slope": (q_w09_rolling_slope, SQL_W09),
    "w10_rolling_median": (q_w10_rolling_median, SQL_W10),
    "w11_rolling_mad": (q_w11_rolling_mad, SQL_W11),
    "w13_robust_anomaly_gate": (q_w13_robust_anomaly_gate, SQL_W13),
    "w12_drawdown": (q_w12_drawdown, SQL_W12),
    "st11_stream_ewma": (q_st11_stream_ewma, SQL_W08),
    "st12_stream_drift_gate": (q_st12_stream_drift_gate, SQL_ST12),
    "st13_stream_budget_admission": (q_st13_stream_budget_admission, SQL_ST13),
    "x18_runtime_bloom_filter": (q_x18_runtime_bloom_filter, SQL_X18),
    "x19_epoch_shuffle": (q_x19_epoch_shuffle, SQL_X19),
    "x20_aqe_skew_join": (q_x20_aqe_skew_join, SQL_X20),
    "x24_aqe_coalesce": (q_x24_aqe_coalesce, SQL_X24),
    "x21_cbo_stats_broadcast": (q_x21_cbo_stats_broadcast, SQL_X21),
    "q03_quantile_gate": (q_q03_quantile_gate, SQL_Q03),
    "q04_psi_drift": (q_q04_psi_drift, SQL_Q04),
    "q05_schema_drift": (q_q05_schema_drift, SQL_Q05),
    "q06_key_uniqueness": (q_q06_key_uniqueness, SQL_Q06),
    "gr04_edge_embeddedness": (q_gr04_edge_embeddedness, SQL_GR04),
    "gr05_kcore": (q_gr05_kcore, SQL_GR05),
    "gr06_bfs_distance": (q_gr06_bfs_distance, SQL_GR06),
    "gr07_clustering_coeff": (q_gr07_clustering_coeff, SQL_GR07),
    "gr08_connected_components": (q_gr08_connected_components, SQL_GR08),
    "gr09_label_propagation": (q_gr09_label_propagation, SQL_GR09),
    "gr10_ktruss": (q_gr10_ktruss, SQL_GR10),
    "gr11_sssp": (q_gr11_sssp, SQL_GR11),
}


# ---------------------------------------------------------------------------
# Ordering: the driver's correctness run checks the first 50 entries
# of REGISTRY, and _PREFIX chooses them. Entries checked on rows only
# (no oracle: m01-m03, g04, ipf_cost_per_visit) stay out of it;
# ipf_cost_per_visit leads the tail, then definition order.
_PREFIX = [
    "q02_referential_integrity",
    "p03_training_pipeline",
    "m07_pinned_ranking",
    "m06_pinned_recommend",
    "j06_point_in_time",
    "q05_schema_drift",
    "rc04_materialized_path",
    "sql02_shared_windows",
    "st01_stream_hourly",
    "st10_stream_admission",
    "st13_stream_budget_admission",
    "t13_sequence_packing",
    "t15_sentence_split",
    "t16_normalized_dupes",
    "t17_edit_distance_pairs",
    "t18_unigram_logprob",
    "t19_bigram_logprob",
    "t20_line_dedup",
    "t21_repeated_spans",
    "t22_bpe_merge_pairs",
    "t23_span_scrub",
    "t25_hashed_decontaminate",
    "w07_native_session_window",
    "w09_rolling_slope",
    "x13_dynamic_partition_pruning",
    "x14_incremental_mv",
    "x15_temperature_mix",
    "x16_training_shuffle",
    "x17_dsir_weights",
    "x22_token_budget_mix",
    "a09_laplace_smooth",
    "a10_weight_matrix",
    "a11_apply_weights",
    "a12_add_labels",
    "a13_mmult",
    "a14_seed_matrix",
    "a15_optimize_marginal",
    "a18_normalize_matrix",
    "a19_error_matrix",
    "a20_matrix_norm",
    "a21_converge_coordinate",
    "ac01_snapshot_merge",
    "ac02_time_travel",
    "ac03_zorder_code",
    "mm12_jpeg_decode",
    "st18_streaming_cdc_apply",
    "ac16_dv_debt_gauge",
    "t27_span_scrub_pairs",
    "mm13_decode_dispatch",
    "st19_streaming_fold_policy",
]
assert len(_PREFIX) == 50 and len(set(_PREFIX)) == 50
assert set(_PREFIX) <= set(REGISTRY), sorted(set(_PREFIX) - set(REGISTRY))
_TAIL = ["ipf_cost_per_visit"] + [
    k for k in REGISTRY if k not in set(_PREFIX) and k != "ipf_cost_per_visit"
]
REGISTRY = {k: REGISTRY[k] for k in _PREFIX + _TAIL}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
