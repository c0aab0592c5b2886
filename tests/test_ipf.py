"""IPF property tests (SURVEY.md §5.2): the invariants that define
correct Iterative Proportional Fitting, independent of any oracle.

Reference: converge at core.clj:99-119 (with the §0.3 loss fix). The
loop-contract tests run ``converge_dense`` on both of its paths; the
coordinate-form ``converge`` in ``tests/ipf_reference.py`` is the
parity reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators import matrix as M
from alternating_least_squares_spark.operators.ipf_dense import converge_dense
from tests.conftest import coo_to_nested, vec_to_list
from tests.ipf_reference import converge, _marginal_losses


def _both_paths(monkeypatch):
    """Yield each ``converge_dense`` path in turn: the driver path (the
    default for any state under ``MAX_DRIVER_CELLS``) and then the
    distributed one, forced by a zero cell gate."""
    from alternating_least_squares_spark.operators import ipf_dense

    yield "driver"
    monkeypatch.setattr(ipf_dense, "MAX_DRIVER_CELLS", 0)
    yield "distributed"


def test_row_pass_row_sums_equal_marginal(make_matrix, make_vector):
    """The defining invariant of the row pass (A15): after fitting rows
    to the x-marginal, row sums equal the marginal exactly."""
    seed = make_matrix([[1, 2, 3], [4, 5, 6]])
    x = make_vector([10, 20])
    fitted = M.optimize_marginal(x, seed)
    sums = vec_to_list(M.sum_rows(fitted))
    assert all(abs(a - b) < 1e-9 for a, b in zip(sums, [10.0, 20.0]))


def test_converge_rank1_seed_one_iteration(make_matrix, make_vector, monkeypatch):
    """A rank-1 seed is already proportional → IPF converges in exactly
    one sweep with both losses ≈ 0 (SURVEY §5.2)."""
    x, y = make_vector([2, 4]), make_vector([3, 3])
    seed = M.seed_matrix(x, y)  # rank-1 outer product
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=1e-12, max_iterations=50)
        assert res.iterations == 1, path
        assert res.loss < 1e-12, path
        assert res.y_loss < 1e-9, path


def test_converge_conservation_and_both_losses(
    make_matrix, make_vector, monkeypatch
):
    """Σmatrix == Σmarginal after convergence (reference README:7
    precondition propagated), and BOTH marginal losses are below
    threshold (fixing the reference's x-only check, SURVEY §0.3)."""
    x = make_vector([6, 14])
    y = make_vector([8, 12])
    seed = make_matrix([[1, 3], [5, 2]])
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=1e-10, max_iterations=200)
        assert res.loss < 1e-6 and res.y_loss < 1e-6, path
        total = res.matrix.agg(F.sum("v")).first()[0]
        assert abs(total - 20.0) < 1e-9, path
        rows = vec_to_list(M.sum_rows(res.matrix))
        cols = vec_to_list(M.sum_cols(res.matrix))
        assert all(abs(a - b) < 1e-6 for a, b in zip(rows, [6.0, 14.0])), path
        assert all(abs(a - b) < 1e-6 for a, b in zip(cols, [8.0, 12.0])), path


def test_converge_rejects_mismatched_totals(make_matrix, make_vector):
    # core.clj:105 precondition: both marginals share a grand total
    with pytest.raises(ValueError, match="same total"):
        converge(
            make_vector([1, 2]),
            make_vector([100, 200]),
            make_matrix([[1, 1], [1, 1]]),
        )


def test_marginal_losses_count_unserved_ids(spark, make_vector):
    """Full-outer loss join: a marginal id with no matrix row must
    contribute its full residual."""
    m = spark.createDataFrame([(0, 0, 1.0)], "r long, c long, v double")
    x = make_vector([1.0, 5.0])  # id 1 absent from the matrix
    y = make_vector([1.0])
    x_loss, y_loss = _marginal_losses(m, x, y)
    assert x_loss == 5.0
    assert y_loss == 0.0


def test_converge_max_iterations_cap(make_matrix, make_vector, monkeypatch):
    for path in _both_paths(monkeypatch):
        res = converge_dense(
            make_vector([6, 14]),
            make_vector([8, 12]),
            make_matrix([[1, 3], [5, 2]]),
            threshold=0.0,  # unreachable → must stop on the cap
            max_iterations=3,
        )
        assert res.iterations == 3, path


def test_converge_dense_matches_coordinate(make_matrix, make_vector, monkeypatch):
    """The bounded-column-domain loop (ipf_dense.converge_dense) is a
    layout change, not a semantics change: same iterations, same loss,
    same matrix as the coordinate-form converge, on both paths."""
    from alternating_least_squares_spark.operators.ipf_dense import (
        converge_dense,
        from_row_arrays,
        to_row_arrays,
    )

    x = make_vector([10, 20, 30])
    y = make_vector([25, 35])
    seed = make_matrix([[1, 2], [3, 4], [5, 6]])
    r1 = converge(x, y, seed, threshold=1e-12, max_iterations=50)
    a = {(r["r"], r["c"]): r["v"] for r in r1.matrix.collect()}
    for path in _both_paths(monkeypatch):
        r2 = converge_dense(x, y, seed, threshold=1e-12, max_iterations=50)
        assert r2.iterations == r1.iterations, path
        assert abs(r2.loss - r1.loss) < 1e-12, path
        b = {(r["r"], r["c"]): r["v"] for r in r2.matrix.collect()}
        assert a.keys() == b.keys(), path
        assert all(abs(a[k] - b[k]) < 1e-9 for k in a), path
    # round-trip helpers preserve the matrix exactly
    rt = from_row_arrays(to_row_arrays(seed, [0, 1]), [0, 1])
    c = {(r["r"], r["c"]): r["v"] for r in rt.collect()}
    assert c == {(r["r"], r["c"]): r["v"] for r in seed.collect()}


def test_converge_dense_rejects_mismatched_totals(
    make_matrix, make_vector, monkeypatch
):
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    for _ in _both_paths(monkeypatch):
        with pytest.raises(ValueError, match="same total"):
            converge_dense(
                make_vector([1, 2]),
                make_vector([100, 200]),
                make_matrix([[1, 1], [1, 1]]),
            )


def test_converge_dense_zero_row_stays_zero(make_matrix, make_vector, monkeypatch):
    """An all-zero seed row can receive no mass: it must stay zero (no
    NaN flood), and the loop still fits the remaining rows."""
    import math

    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    seed = make_matrix([[1.0, 2.0], [0.0, 0.0], [3.0, 1.0]])
    x = make_vector([10.0, 0.0, 20.0])
    y = make_vector([14.0, 16.0])
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=1e-10, max_iterations=100)
        vals = {(r["r"], r["c"]): r["v"] for r in res.matrix.collect()}
        assert vals[(1, 0)] == 0.0 and vals[(1, 1)] == 0.0, path
        assert all(not math.isnan(v) for v in vals.values()), path
        assert abs(sum(vals.values()) - 30.0) < 1e-6, path


def test_converge_dense_matches_coordinate_on_real_data(spark):
    """Layout equivalence on the actual flagship inputs (sf0.001
    marginals + dense Laplace-smoothed seed), not just literals: same
    matrix to 1e-6 relative after 3 sweeps."""
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense
    from alternating_least_squares_spark.plans import cost_allocation as CA
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    base = CA.part_hour_base(spark, SF_SMALL).localCheckpoint(eager=True)
    x = (
        base.groupBy(F.col("r").alias("id"))
        .agg(F.sum("revenue").alias("v"))
        .filter(F.col("v") != 0)
        .localCheckpoint(eager=True)
    )
    x_total = x.agg(F.sum("v")).first()[0]
    hourly = (
        CA.load_table(spark, SF_SMALL, "events")
        .groupBy(F.hour("ts").cast("long").alias("id"))
        .agg(F.sum("value").alias("v"))
        .filter(F.col("v") != 0)
    )
    y_total = hourly.agg(F.sum("v")).first()[0]
    y = hourly.withColumn(
        "v", F.col("v") * F.lit(x_total / y_total)
    ).localCheckpoint(eager=True)
    dense = (
        x.select(F.col("id").alias("r"))
        .crossJoin(y.select(F.col("id").alias("c")))
        .join(base.select("r", "c", F.col("visits").alias("v")), ["r", "c"], "left")
        .select("r", "c", F.coalesce("v", F.lit(0.0)).alias("v"))
    )
    seed = M.laplace_smooth(dense, 1e-15)
    r1 = converge(x, y, seed, threshold=0.0, max_iterations=3)
    r2 = converge_dense(x, y, seed, threshold=0.0, max_iterations=3)
    a = {(r["r"], r["c"]): r["v"] for r in r1.matrix.collect()}
    b = {(r["r"], r["c"]): r["v"] for r in r2.matrix.collect()}
    assert a.keys() == b.keys() and len(a) > 1000
    worst = max(abs(a[k] - b[k]) / max(abs(a[k]), 1e-12) for k in a)
    assert worst < 1e-6, worst


def test_converge_dense_result_plan_is_shuffle_free(
    make_matrix, make_vector, monkeypatch
):
    """The dense loop's whole point: on the distributed path, after the
    single setup shuffle is pinned by localCheckpoint, everything
    downstream — every sweep and the final coordinate expansion — is
    narrow; the driver path's result is a scan of Arrow batches. The
    result matrix's physical plan must therefore contain no Exchange."""
    from alternating_least_squares_spark.operators.ipf_dense import (
        converge_dense,
    )

    seed = make_matrix([[1.0, 2.0], [3.0, 4.0]])
    x = make_vector([3.0, 7.0])
    y = make_vector([4.0, 6.0])
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=1e-12, max_iterations=20)
        plan = res.matrix._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (path, plan)


def test_converge_dense_ignores_out_of_domain_seed_columns(spark, monkeypatch):
    """Seed cells whose column id is absent from the y-marginal are
    IGNORED per the documented contract — otherwise the NULL map
    position crashed the whole flagship with NULL_MAP_KEY whenever an
    hour had no event value (zero-value hours are filtered from y)."""
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    x = spark.createDataFrame([(1, 6.0), (2, 6.0)], "id long, v double")
    y = spark.createDataFrame([(0, 8.0), (1, 4.0)], "id long, v double")
    # column 23 exists in the seed but not in y — must be dropped
    seed = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 1.0), (1, 23, 99.0), (2, 0, 1.0), (2, 1, 1.0)],
        "r long, c long, v double",
    )
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=1e-12, max_iterations=50)
        cells = {(r["r"], r["c"]): r["v"] for r in res.matrix.collect()}
        assert set(c for _, c in cells) == {0, 1}, path
        assert abs(sum(cells.values()) - 12.0) < 1e-9, path


def test_converge_dense_empty_state_raises_value_error(spark, monkeypatch):
    """No seed row meets the x marginal: both paths raise a ValueError
    naming the empty state (the distributed path used to fail with a
    TypeError on the None sums of an empty checkpoint)."""
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    x = spark.createDataFrame([(1, 4.0)], "id long, v double")
    y = spark.createDataFrame([(0, 4.0)], "id long, v double")
    seed = spark.createDataFrame([(7, 0, 1.0)], "r long, c long, v double")
    for _ in _both_paths(monkeypatch):
        with pytest.raises(ValueError, match="empty state"):
            converge_dense(x, y, seed, max_iterations=5)


def test_converge_dense_null_seed_value_reads_as_fill(spark, monkeypatch):
    """A NULL seed value reads as ``0 + seed_fill``, like an explicit
    zero cell, and both paths agree on the result."""
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    x = spark.createDataFrame([(0, 3.0), (1, 9.0)], "id long, v double")
    y = spark.createDataFrame([(0, 5.0), (1, 7.0)], "id long, v double")
    cells = [(0, 0, 1.0), (1, 0, 2.0), (1, 1, 4.0)]
    with_null = spark.createDataFrame(
        cells + [(0, 1, None)], "r long, c long, v double"
    )
    with_zero = spark.createDataFrame(
        cells + [(0, 1, 0.0)], "r long, c long, v double"
    )
    results = []
    for _ in _both_paths(monkeypatch):
        for seed in (with_null, with_zero):
            res = converge_dense(
                x, y, seed, threshold=0.0, max_iterations=3, seed_fill=0.5
            )
            results.append({(r["r"], r["c"]): r["v"] for r in res.matrix.collect()})
    want = results[1]
    assert len(want) == 4
    for got in results:
        assert got.keys() == want.keys()
        assert all(abs(got[k] - want[k]) <= 1e-12 * abs(want[k]) for k in want)


def test_converge_dense_rejects_duplicated_cell(spark, monkeypatch):
    """A seed that lists one (r, c) cell twice is rejected on both paths
    (Spark's DUPLICATED_MAP_KEY on the distributed one); the driver
    path must not silently sum the two values."""
    from alternating_least_squares_spark.operators.ipf_dense import converge_dense

    x = spark.createDataFrame([(0, 6.0)], "id long, v double")
    y = spark.createDataFrame([(0, 2.0), (1, 4.0)], "id long, v double")
    seed = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 1.0), (0, 1, 2.0)], "r long, c long, v double"
    )
    for _ in _both_paths(monkeypatch):
        with pytest.raises(Exception, match="DUPLICATED_MAP_KEY|duplicated"):
            converge_dense(x, y, seed, max_iterations=5)


def test_converge_dense_seed_rows_outside_x_fall_back_above_gate(
    spark, monkeypatch
):
    """The gate counts |x| × |y| cells, but the driver path collects
    every in-domain seed cell, rows outside x included. A seed with more
    such cells than the gate goes to the distributed path, and the state
    either path builds holds only x's rows."""
    from alternating_least_squares_spark.operators import ipf_dense

    x = spark.createDataFrame([(0, 3.0), (1, 9.0)], "id long, v double")
    y = spark.createDataFrame([(0, 5.0), (1, 7.0)], "id long, v double")
    seed = spark.createDataFrame(
        [(r, c, 1.0 + r + c) for r in range(6) for c in range(2)],
        "r long, c long, v double",
    )
    distributed = ipf_dense._converge_distributed
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return distributed(*args, **kwargs)

    monkeypatch.setattr(ipf_dense, "_converge_distributed", spy)
    results = []
    for gate in (12, 11):  # 12 seed cells: driver, then distributed
        monkeypatch.setattr(ipf_dense, "MAX_DRIVER_CELLS", gate)
        res = ipf_dense.converge_dense(x, y, seed, threshold=0.0, max_iterations=3)
        results.append({(r["r"], r["c"]): r["v"] for r in res.matrix.collect()})
    assert len(calls) == 1
    want = results[1]
    assert sorted(want) == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert results[0].keys() == want.keys()
    assert all(abs(results[0][k] - want[k]) <= 1e-12 * want[k] for k in want)


def test_converge_empty_marginal_raises_value_error(spark, monkeypatch):
    """An empty marginal must raise the precondition ValueError, not
    TypeError from abs(None)."""
    empty = spark.createDataFrame([], "id long, v double")
    x = spark.createDataFrame([(1, 1.0)], "id long, v double")
    seed = spark.createDataFrame([(1, 0, 1.0)], "r long, c long, v double")
    with pytest.raises(ValueError, match="empty marginal"):
        converge(x, empty, seed)
    for _ in _both_paths(monkeypatch):
        with pytest.raises(ValueError, match="empty marginal"):
            converge_dense(x, empty, seed)
        with pytest.raises(ValueError, match="empty marginal"):
            converge_dense(empty, x, seed)


def test_converge_threshold_zero_runs_exact_iteration_count(spark, monkeypatch):
    """threshold=0 disables both data-dependent stop criteria (loss <
    threshold and plateau), so the loop runs exactly max_iterations —
    the determinism contract the a21 oracle entry relies on."""
    x = spark.createDataFrame([(0, 4.0), (1, 8.0)], "id long, v double")
    y = spark.createDataFrame([(0, 9.0), (1, 3.0)], "id long, v double")
    seed = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 1.0), (1, 0, 2.0), (1, 1, 1.0)],
        "r long, c long, v double",
    )
    for path in _both_paths(monkeypatch):
        res = converge_dense(x, y, seed, threshold=0.0, max_iterations=3)
        assert res.iterations == 3, path


def test_converge_single_cell_rows_fixed_point(spark, monkeypatch):
    """The a21 fixture shape — one cell per row key — reaches its fixed
    point after one sweep: the row pass lands each cell on its row's x
    exactly, so sweep 2 reproduces sweep 1's output bit-for-bit."""
    x = spark.createDataFrame(
        [(1, 4.0), (2, 8.0), (3, 6.0)], "id long, v double"
    )
    y = spark.createDataFrame([(0, 11.0), (1, 7.0)], "id long, v double")
    # c = r % 2: one cell per row key
    seed = spark.createDataFrame(
        [(1, 1, 3.0), (2, 0, 5.0), (3, 1, 2.0)], "r long, c long, v double"
    )
    for path in _both_paths(monkeypatch):
        one = converge_dense(x, y, seed, threshold=0.0, max_iterations=1)
        two = converge_dense(x, y, seed, threshold=0.0, max_iterations=2)
        c1 = {(r["r"], r["c"]): r["v"] for r in one.matrix.collect()}
        c2 = {(r["r"], r["c"]): r["v"] for r in two.matrix.collect()}
        assert c1 == c2, path  # exact equality, not approx


def test_cost_per_visit_fixed_chain_invariants(spark):
    """The flagship's deterministic fixed-sweep twin: dense domain
    coverage, micro-unit conservation after the
    closing column pass, and the C10 zero-guard on the finale."""
    from alternating_least_squares_spark.plans import cost_allocation as CA
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    df = CA.cost_per_visit_fixed(spark, SF_SMALL, sweeps=2).localCheckpoint()
    n_parts = df.select("part").distinct().count()
    n_hours = df.select("hour").distinct().count()
    assert df.count() == n_parts * n_hours  # dense x-parts × y-hours grid

    # conservation: the last half-sweep fits columns to the rescaled y
    # marginal, whose total is floor-rescaled to x_total. Every floor
    # loses < 1 µunit per cell, so Σcost is within (cells + hours) µ of
    # the x grand total.
    li = CA.load_table(spark, SF_SMALL, "lineitem")
    x_total = li.select(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
            )
        ).alias("t")
    ).first()["t"]
    got = df.agg(F.sum("cost_us")).first()[0]
    slack = df.count() + n_hours + 1
    assert abs(got - x_total) <= slack, (got, x_total, slack)

    # finale zero-guard + floor-division contract, all rows
    bad = df.filter(
        (
            (F.col("visits") == 0) & (F.col("cost_per_visit_us") != 0)
        )
        | (
            (F.col("visits") > 0)
            & (
                F.col("cost_per_visit_us")
                != F.floor(
                    F.col("cost_us").cast("double")
                    / F.col("visits").cast("double")
                )
            )
        )
    ).count()
    assert bad == 0


def test_cost_per_visit_fixed_matches_python_replay(spark):
    """The flagship's fixed-sweep twin must equal a sequential Python
    replay of the same micro-unit chain, cell for cell: per-row
    quantized marginals, the y rescale to the x total, the add-1µ seed
    over the dense x-parts × y-hours grid, floored row and column
    passes, and the zero-guarded finale."""
    import math
    from collections import defaultdict

    from alternating_least_squares_spark.plans import cost_allocation as CA
    from tests.conftest import SF_SMALL

    sweeps = 2
    visits: dict = defaultdict(int)
    rev: dict = defaultdict(int)
    for r in CA.load_table(spark, SF_SMALL, "lineitem").collect():
        key = (r["l_partkey"], r["l_orderkey"] % CA.HOURS)
        visits[key] += 1
        rev[key] += math.floor(
            r["l_extendedprice"] * (1 - r["l_discount"]) * 1e6
        )
    x: dict = defaultdict(int)
    for (p, _), v in rev.items():
        x[p] += v
    x = {p: v for p, v in x.items() if v != 0}
    raw: dict = defaultdict(int)
    for r in CA.load_table(spark, SF_SMALL, "events").select(
        "ts_ns", "value"
    ).collect():
        raw[(r["ts_ns"] // CA.NS_PER_HOUR) % 24] += math.floor(
            r["value"] * 1e6
        )
    raw = {h: v for h, v in raw.items() if v != 0}
    ratio = float(sum(x.values())) / float(sum(raw.values()))
    y = {h: math.floor(float(v) * ratio) for h, v in raw.items()}

    cells = {(p, h): visits[(p, h)] * CA.US + 1 for p in x for h in y}
    for _ in range(sweeps):
        for i, marg in enumerate((x, y)):
            sums: dict = defaultdict(int)
            for key, v in cells.items():
                sums[key[i]] += v
            cells = {
                key: (
                    0 if sums[key[i]] == 0
                    else math.floor(
                        float(v) / float(sums[key[i]]) * float(marg[key[i]])
                    )
                )
                for key, v in cells.items()
            }
    want = {
        key: (
            v,
            visits[key],
            0 if visits[key] == 0 else math.floor(float(v) / float(visits[key])),
        )
        for key, v in cells.items()
    }

    got = {
        (r["part"], r["hour"]): (
            r["cost_us"], r["visits"], r["cost_per_visit_us"]
        )
        for r in CA.cost_per_visit_fixed(spark, SF_SMALL, sweeps).collect()
    }
    assert len(got) > 1000
    assert got == want


def test_cost_per_visit_ipf_invariants_and_job_count(spark):
    """The live flagship end to end: the imputed cost's row sums match
    the part marginal and its column sums the hour marginal rescaled to
    Σx, each within 1e-6·Σx (the benchmark's IPF check), in a pinned
    number of Spark jobs. Below the cell gate the sweeps run in NumPy,
    so the count does not grow with the sweeps: 2 each for the base and
    the x checkpoints, 2 for the hour marginal's Arrow read, 1 each for
    the Arrow collects of x and of the seed, and 2 for the final join.
    The table loads read pinned schemas and run none, and the 24-row y
    collect reads an Arrow-built frame and runs none. The distributed
    path instead runs a setup checkpoint and one checkpoint job per
    sweep."""
    from collections import defaultdict

    from alternating_least_squares_spark.plans import cost_allocation as CA
    from tests.conftest import SF_SMALL

    sc = spark.sparkContext
    group = "test_cost_per_visit_ipf_invariants_and_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = CA.cost_per_visit(spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    x = {
        part: v
        for part, v in CA.load_table(spark, SF_SMALL, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(revenue))
        .collect()
        if v != 0
    }
    y_raw = {
        hour: v
        for hour, v in CA.load_table(spark, SF_SMALL, "events")
        .groupBy(F.hour("ts"))
        .agg(F.sum("value"))
        .collect()
        if v != 0
    }
    x_total, y_total = sum(x.values()), sum(y_raw.values())
    y = {h: v * x_total / y_total for h, v in y_raw.items()}
    rowsum: dict = defaultdict(float)
    colsum: dict = defaultdict(float)
    for r in rows:
        rowsum[r["part"]] += r["cost"]
        colsum[r["hour"]] += r["cost"]
    assert rowsum.keys() == x.keys() and colsum.keys() == y.keys()
    assert max(abs(rowsum[k] - x[k]) for k in x) <= 1e-6 * x_total
    assert max(abs(colsum[k] - y[k]) for k in y) <= 1e-6 * x_total
    assert n_jobs == 10, n_jobs


def test_allocate_costs_driver_path_matches_distributed(spark, monkeypatch):
    """The flagship's IPF on the driver path and on the distributed path
    (forced by a zero cell gate) agree cell for cell to 1e-9 relative,
    in the same number of sweeps."""
    from alternating_least_squares_spark.plans import cost_allocation as CA
    from tests.conftest import SF_SMALL

    base = CA.part_hour_base(spark, SF_SMALL).localCheckpoint(eager=True)
    runs = []
    for _ in _both_paths(monkeypatch):
        res = CA.allocate_costs(spark, SF_SMALL, base=base)
        cells = {(r["r"], r["c"]): r["v"] for r in res.matrix.collect()}
        runs.append((res.iterations, cells))
    (it_driver, a), (it_dist, b) = runs
    assert it_driver == it_dist
    assert a.keys() == b.keys() and len(a) > 1000
    worst = max(abs(a[k] - b[k]) / max(abs(b[k]), 1e-300) for k in b)
    assert worst < 1e-9, worst


def test_rake3_matches_python_reference_and_converges(spark):
    """a22 (3-way raking): the distributed fixed-sweep rake must equal
    a sequential Python replay of the same micro-unit arithmetic cell
    for cell, and each full sweep must shrink the total marginal
    residual (IPF's defining property on a consistent marginal set)."""
    import math
    from collections import defaultdict

    from alternating_least_squares_spark import registry as R
    from alternating_least_squares_spark.registry import (
        RAKE3_AXES,
        RAKE3_SWEEPS,
    )
    from tests.conftest import SF_SMALL

    base = [
        (r["flag"], r["status"], r["ship_month"], r["qty"])
        for r in R.load_table(spark, SF_SMALL, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("status"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
            F.col("l_quantity").alias("qty"),
        )
        .collect()
    ]
    cells: dict = defaultdict(int)
    marg: dict = {a: defaultdict(float) for a in RAKE3_AXES}
    for f, s, m, q in base:
        cells[(f, s, m)] += 1_000_000
        marg["flag"][f] += q
        marg["status"][s] += q
        marg["ship_month"][m] += q
    m_us = {
        a: {k: math.floor(v * 1e6) for k, v in marg[a].items()}
        for a in RAKE3_AXES
    }

    def resid(cc):
        tot = 0.0
        for i, a in enumerate(RAKE3_AXES):
            sums: dict = defaultdict(int)
            for key, v in cc.items():
                sums[key[i]] += v
            tot += sum(abs(sums[k] - m_us[a][k]) for k in m_us[a])
        return tot

    history = [resid(cells)]
    for _ in range(RAKE3_SWEEPS):
        for i, a in enumerate(RAKE3_AXES):
            sums = defaultdict(int)
            for key, v in cells.items():
                sums[key[i]] += v
            cells = {
                key: (
                    0 if sums[key[i]] == 0
                    else math.floor(v / sums[key[i]] * m_us[a][key[i]])
                )
                for key, v in cells.items()
            }
        history.append(resid(cells))

    got = {
        (r["flag"], r["status"], r["ship_month"]): r["v_us"]
        for r in R.q_a22_rake3(spark, SF_SMALL).collect()
    }
    assert got == dict(cells)
    # every full sweep strictly shrinks the summed |marginal residual|
    assert all(b < a for a, b in zip(history, history[1:])), history


from hypothesis import given, settings, strategies as st

_rake_cells = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=2),
    ),
    st.integers(min_value=0, max_value=50),
    min_size=1,
    max_size=12,
)
_rake_marg = st.lists(
    st.integers(min_value=0, max_value=500), min_size=9, max_size=9
)


@settings(max_examples=8, deadline=None)
@given(raw=_rake_cells, margs=_rake_marg, sweeps=st.integers(1, 3))
def test_rake_fixed_matches_sequential_replay(spark, raw, margs, sweeps):
    """Property test for the generic N-way raking operator: on ANY
    random 3-axis tensor (zero cells, zero slices, missing keys,
    inconsistent marginals — a fixed sweep is well-defined for all of
    them) the distributed result equals a sequential micro-unit
    replay, cell for cell."""
    import math
    from collections import defaultdict

    from alternating_least_squares_spark.operators.ipf import rake_fixed

    axes = ("a0", "a1", "a2")
    cells = {k: v * 1_000_000 for k, v in raw.items()}
    m_us = {
        ax: {k: margs[i * 3 + k] * 1_000_000 for k in range(3)}
        for i, ax in enumerate(axes)
    }

    want = dict(cells)
    for _ in range(sweeps):
        for i, ax in enumerate(axes):
            sums: dict = defaultdict(int)
            for key, v in want.items():
                sums[key[i]] += v
            want = {
                key: (
                    0 if sums[key[i]] == 0
                    else math.floor(v / sums[key[i]] * m_us[ax][key[i]])
                )
                for key, v in want.items()
            }

    cdf = spark.createDataFrame(
        [(k[0], k[1], k[2], v) for k, v in cells.items()],
        "a0 long, a1 long, a2 long, v_us long",
    )
    mdfs = [
        (
            ax,
            spark.createDataFrame(
                [(k, m_us[ax][k]) for k in range(3)],
                f"{ax} long, m_us long",
            ),
        )
        for ax in axes
    ]
    got = {
        (r["a0"], r["a1"], r["a2"]): r["v_us"]
        for r in rake_fixed(cdf, mdfs, sweeps).collect()
    }
    assert got == want


def test_rake_fixed_rejects_missing_or_mistyped_v_us(spark):
    """A cells frame without the required v_us long column
    must fail at the validation boundary with a ValueError naming the
    contract, not three joins deep with an AnalysisException."""
    import pytest

    from alternating_least_squares_spark.operators.ipf import rake_fixed

    m = spark.createDataFrame([(0, 10)], "ax: long, m_us: long")
    no_v = spark.createDataFrame([(0,)], "ax: long")
    with pytest.raises(ValueError, match="v_us"):
        rake_fixed(no_v, [("ax", m)], sweeps=1)
    bad_type = spark.createDataFrame([(0, 1.5)], "ax: long, v_us: double")
    with pytest.raises(ValueError, match="integral"):
        rake_fixed(bad_type, [("ax", m)], sweeps=1)
    # integer widths are interchangeable (repo type discipline) — an
    # int-typed mass column must NOT be rejected
    ok_int = spark.createDataFrame([(0, 5)], "ax: long, v_us: int")
    assert rake_fixed(ok_int, [("ax", m)], sweeps=1).count() == 1
