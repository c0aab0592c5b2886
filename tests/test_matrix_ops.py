"""Literal-matrix unit tests for every §2.A operator (SURVEY.md §5.4):
2×2 / 3×3 inputs where the expected output is hand-computable.

Reference parity targets cite core.clj line numbers per operator."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators import matrix as M
from tests.conftest import coo_to_nested, vec_to_list
from tests.ipf_reference import ipf_step


def test_cmap_outer_sum(make_vector):
    # core.clj:5-9 — M[i,j] = f(xs[i], ys[j])
    out = M.cmap(lambda x, y: x + y, make_vector([1, 2]), make_vector([10, 20]))
    assert coo_to_nested(out) == [[11.0, 21.0], [12.0, 22.0]]


def test_dot(make_vector):
    # core.clj:11-16 — 1*3 + 2*4 = 11
    got = M.dot(make_vector([1, 2]), make_vector([3, 4])).first()["dot"]
    assert got == 11.0


def test_diff_vector(make_vector):
    # core.clj:18-21
    out = M.diff_vector(make_vector([5, 7]), make_vector([2, 3]))
    assert vec_to_list(out) == [3.0, 4.0]


def test_l2_norm(make_vector):
    # core.clj:23-26 — √(3²+4²) = 5
    assert M.l2_norm(make_vector([3, 4])).first()["l2_norm"] == 5.0


def test_rmse_is_residual_l2_not_divided_by_n(make_vector):
    # core.clj:28-30 — the reference does NOT divide by n (SURVEY §2 A5)
    got = M.rmse(make_vector([3, 0]), make_vector([0, 4])).first()["rmse"]
    assert got == 5.0


def test_transpose(make_matrix):
    # core.clj:32-35
    out = M.transpose(make_matrix([[1, 2, 3], [4, 5, 6]]))
    assert coo_to_nested(out) == [[1.0, 4.0], [2.0, 5.0], [3.0, 6.0]]


def test_sum_rows_and_cols(make_matrix):
    # core.clj:37-40, 42-45
    m = make_matrix([[1, 2], [3, 4]])
    assert vec_to_list(M.sum_rows(m)) == [3.0, 7.0]
    assert vec_to_list(M.sum_cols(m)) == [4.0, 6.0]


def test_laplace_smooth(make_matrix):
    # core.clj:47-50
    out = M.laplace_smooth(make_matrix([[0, 1], [2, 3]]), 0.5)
    assert coo_to_nested(out) == [[0.5, 1.5], [2.5, 3.5]]


def test_densify_fills_absent_cells(spark):
    sparse = spark.createDataFrame(
        [(0, 0, 1.0), (1, 1, 2.0)], "r long, c long, v double"
    )
    assert coo_to_nested(M.densify(sparse)) == [[1.0, 0.0], [0.0, 2.0]]


def test_weight_matrix_row_stochastic(make_matrix):
    # core.clj:52-56 — each element ÷ its row sum
    out = coo_to_nested(M.weight_matrix(make_matrix([[1, 3], [2, 2]])))
    assert out == [[0.25, 0.75], [0.5, 0.5]]


def test_apply_weights(make_matrix, make_vector):
    # core.clj:58-61 — scale row i by row_sums[i]
    w = make_matrix([[0.25, 0.75], [0.5, 0.5]])
    out = coo_to_nested(M.apply_weights(make_vector([4, 10]), w))
    assert out == [[1.0, 3.0], [5.0, 5.0]]


def test_optimize_marginal_distributes_marginal(make_matrix, make_vector):
    # core.clj:82-87 (intended semantics = weight-matrix ∘ apply-weights,
    # SURVEY §0.1): rows end up summing to the marginal.
    seed = make_matrix([[1, 3], [2, 2]])
    out = M.optimize_marginal(make_vector([4, 10]), seed)
    assert coo_to_nested(out) == [[1.0, 3.0], [5.0, 5.0]]
    assert vec_to_list(M.sum_rows(out)) == [4.0, 10.0]


def test_ipf_step_fits_columns_exactly(make_matrix, make_vector):
    # core.clj:89-97 — after one sweep the COLUMN sums match y exactly
    # (the row pass is then off by the col adjustment; that's IPF).
    x, y = make_vector([4, 6]), make_vector([5, 5])
    out = ipf_step(x, y, make_matrix([[1, 1], [1, 1]]))
    cols = vec_to_list(M.sum_cols(out))
    assert all(abs(a - b) < 1e-12 for a, b in zip(cols, [5.0, 5.0]))


def test_normalize_matrix(make_matrix):
    # core.clj:121-127 — [[1,2],[3,4]] → [[0,⅓],[⅔,1]] (SURVEY §5.4)
    out = coo_to_nested(M.normalize_matrix(make_matrix([[1, 2], [3, 4]])))
    expect = [[0.0, 1 / 3], [2 / 3, 1.0]]
    assert all(
        abs(a - b) < 1e-12 for ra, rb in zip(out, expect) for a, b in zip(ra, rb)
    )


def test_normalize_matrix_empty_input(spark):
    empty = spark.createDataFrame([], "r long, c long, v double")
    assert M.normalize_matrix(empty).count() == 0


def test_normalize_matrix_degenerate_constant(make_matrix):
    out = coo_to_nested(M.normalize_matrix(make_matrix([[7, 7], [7, 7]])))
    assert out == [[0.0, 0.0], [0.0, 0.0]]


def test_error_matrix(make_matrix):
    # core.clj:129-132 — element-wise |p − q|
    out = M.error_matrix(make_matrix([[1, 5]]), make_matrix([[4, 2]]))
    assert coo_to_nested(out) == [[3.0, 3.0]]


def test_mmult(make_matrix):
    # core.clj:71-76 — [[1,2],[3,4]]·[[5,6],[7,8]] = [[19,22],[43,50]]
    out = M.mmult(make_matrix([[1, 2], [3, 4]]), make_matrix([[5, 6], [7, 8]]))
    assert coo_to_nested(out) == [[19.0, 22.0], [43.0, 50.0]]


def test_seed_matrix_outer_product(make_vector):
    # core.clj:78-80 — rank-1 outer product
    out = M.seed_matrix(make_vector([1, 2]), make_vector([3, 4]))
    assert coo_to_nested(out) == [[3.0, 4.0], [6.0, 8.0]]


def test_ones_matrix(spark):
    # core.clj:189 — constant dummy matrix
    assert coo_to_nested(M.ones_matrix(spark, 2, 3)) == [
        [1.0, 1.0, 1.0],
        [1.0, 1.0, 1.0],
    ]


def test_add_labels(spark, make_matrix):
    # core.clj:63-69
    m = make_matrix([[1, 2]])
    rl = spark.createDataFrame([(0, "kw")], "id long, label string")
    cl = spark.createDataFrame([(0, "h0"), (1, "h1")], "id long, label string")
    got = {
        (r["row_label"], r["col_label"]): r["v"]
        for r in M.add_labels(m, rl, cl).collect()
    }
    assert got == {("kw", "h0"): 1.0, ("kw", "h1"): 2.0}


def test_safe_divide_zero_guard(make_matrix):
    # core.clj:191-197 intent (SURVEY §0.4): 0 where the divisor is 0
    out = M.safe_divide(make_matrix([[6, 5]]), make_matrix([[2, 0]]))
    assert coo_to_nested(out) == [[3.0, 0.0]]


def test_weight_matrix_zero_row_gets_zero_weights(spark):
    """A zero-sum row must yield weight 0 (not ANSI DIVIDE_BY_ZERO —
    Spark 4 makes /0 an error, which killed unsmoothed sparse
    pipelines)."""
    m = spark.createDataFrame(
        [(1, 0, 0.0), (1, 1, 0.0), (2, 0, 2.0), (2, 1, 6.0)],
        "r long, c long, v double",
    )
    got = {(r["r"], r["c"]): r["v"] for r in M.weight_matrix(m).collect()}
    assert got[(1, 0)] == 0.0 and got[(1, 1)] == 0.0
    assert got[(2, 0)] == 0.25 and got[(2, 1)] == 0.75


def test_optimize_marginal_zero_row_keeps_cells(spark):
    """Zero-sum rows pass through unchanged — the same stays-zero
    convention as ipf_dense._rowsum_guard, so the coordinate and dense
    loops remain twins on degenerate seeds."""
    seed = spark.createDataFrame(
        [(1, 0, 0.0), (2, 0, 4.0)], "r long, c long, v double"
    )
    marg = spark.createDataFrame([(1, 9.0), (2, 8.0)], "id long, v double")
    got = {(r["r"], r["c"]): r["v"] for r in M.optimize_marginal(marg, seed).collect()}
    assert got[(1, 0)] == 0.0  # not NaN, not an error
    assert got[(2, 0)] == 8.0


def test_add_labels_keeps_unlabeled_cells(spark):
    """Cells whose id is missing from a label dimension keep the cell
    (NULL label) — an inner join would silently drop the row, which
    the reference's positional decoration never does."""
    m = spark.createDataFrame([(1, 0, 5.0), (2, 0, 7.0)], "r long, c long, v double")
    rl = spark.createDataFrame([(1, "one")], "id long, label string")
    cl = spark.createDataFrame([(0, "zero")], "id long, label string")
    rows = {r["v"]: r["row_label"] for r in M.add_labels(m, rl, cl).collect()}
    assert rows == {5.0: "one", 7.0: None}
