"""As-of join semantics on hand-checkable literals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.operators.asof import asof_join


def test_asof_join_literals(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "k long, t long, name string",
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (3, 1, 999.0)],
        "k long, t long, v double",
    )
    out = {
        (r["k"], r["t"]): (r["v_asof"], r["t_asof"])
        for r in asof_join(left, right, key="k", ts="t").collect()
    }
    assert out == {
        (1, 10): (100.0, 8),   # latest right ≤ 10 is t=8
        (1, 20): (200.0, 15),  # latest right ≤ 20 is t=15
        (1, 5): (None, None),  # nothing at or before 5
        (2, 10): (None, None), # no right rows for key 2
    }


def test_asof_join_inclusive_tie(spark):
    """A right row at exactly the left timestamp IS visible."""
    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 10, 7.0)], "k long, t long, v double")
    row = asof_join(left, right, key="k", ts="t").first()
    assert row["v_asof"] == 7.0 and row["t_asof"] == 10


def test_asof_join_left_columns_preserved(spark):
    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, tag string")
    right = spark.createDataFrame([(1, 9, 1.0)], "k long, t long, v double")
    row = asof_join(left, right, key="k", ts="t").first()
    assert row["tag"] == "x" and row["v_asof"] == 1.0


def test_range_join_literals(spark):
    """Binned range join on hand-checkable literals: inclusive bounds,
    overlapping intervals, cross-key isolation."""
    from alternating_least_squares_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (2, 10)], "k long, t long"
    )
    ivals = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 8, 20, "b"), (2, 90, 99, "c")],
        "k long, s long, e long, tag string",
    )
    got = sorted(
        (r["k"], r["t"], r["tag"])
        for r in range_join(points, ivals, "k", "t", "s", "e", bin_width=7).collect()
    )
    assert got == [(1, 5, "a"), (1, 10, "a"), (1, 10, "b")]


def test_asof_join_null_payload_not_overwritten(spark):
    """A NULL payload field in the MATCHED right row must survive as
    NULL — not be back-filled from an older right row (the carried
    payload travels as one struct, atomically)."""
    left = spark.createDataFrame([(1, 3)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, None)], "k long, t long, v double"
    )
    row = asof_join(left, right, key="k", ts="t").first()
    assert row["t_asof"] == 2 and row["v_asof"] is None


def test_near_dup_pairs_rejects_bad_banding(spark):
    import pytest as _pytest

    from alternating_least_squares_spark.functions.dedup import near_dup_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="bands must divide"):
        near_dup_pairs(docs, n_hashes=32, bands=64)
    with _pytest.raises(ValueError, match="bands must divide"):
        near_dup_pairs(docs, n_hashes=32, bands=5)


def test_dedup_components_raises_when_budget_too_small(spark, monkeypatch):
    import pytest as _pytest

    from alternating_least_squares_spark.functions.dedup import dedup_components
    from tests.conftest import hash_min_paths

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    for _ in hash_min_paths(monkeypatch):
        with _pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(chain, max_iterations=2)


def test_asof_null_ts_and_null_key_rows_never_match(spark):
    """SQL semantics (and the DuckDB ASOF oracle): a right row with a
    NULL timestamp can't satisfy ts <= left.ts, and NULL keys never
    equality-match — but NULLS-FIRST window ordering used to carry
    both into every left row."""
    from alternating_least_squares_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (None, 10)], "k int, t int")
    right = spark.createDataFrame(
        [(1, None, 5.0), (None, 5, 7.0)], "k int, t int, v double"
    )
    got = {r["k"]: (r["t_asof"], r["v_asof"]) for r in
           asof_join(left, right, "k", "t").collect()}
    assert got[1] == (None, None)      # NULL-ts right row ignored
    assert got[None] == (None, None)   # NULL keys don't match


def test_asof_duplicate_ts_right_rows_pick_deterministic_winner(spark):
    """Right rows tied on (key, ts) must yield a stable winner (the
    greatest payload struct), not a partition-order lottery."""
    from alternating_least_squares_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "z"), (1, 10, "m")], "k int, t int, v string"
    )
    for _ in range(3):
        r = asof_join(left, right, "k", "t").first()
        assert (r["t_asof"], r["v_asof"]) == (10, "z")


def test_range_join_and_salts_validate_inputs(spark):
    """bin_width=0 / n_salts=0 fail fast with ValueError instead of a
    mid-job DIVIDE_BY_ZERO (ANSI) or silent empty results (non-ANSI)."""
    import pytest
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.operators.rangejoin import range_join
    from alternating_least_squares_spark.operators.skew import (
        salted_agg,
        salted_join,
    )

    pts = spark.createDataFrame([(1, 5)], "k int, t long")
    iv = spark.createDataFrame([(1, 0, 10)], "k int, s long, e long")
    with pytest.raises(ValueError, match="bin_width"):
        range_join(pts, iv, "k", "t", "s", "e", bin_width=0)
    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    with pytest.raises(ValueError, match="n_salts"):
        salted_agg(df, ["k"], {"s": F.sum("v")}, n_salts=0)
    with pytest.raises(ValueError, match="n_salts"):
        salted_join(df, df, ["k"], n_salts=0)


def test_asof_map_payload_still_joins(spark):
    """Map payloads can't be sort keys; the deterministic tie-break
    must degrade gracefully (ts, side ordering) instead of failing
    analysis with INVALID_ORDERING_TYPE."""
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 5, {"a": 1})], "k int, t int, m map<string,int>"
    )
    from alternating_least_squares_spark.operators.asof import asof_join

    r = asof_join(left, right, "k", "t").first()
    assert r["t_asof"] == 5 and r["m_asof"] == {"a": 1}


def test_asof_forward_direction_and_tolerance(spark):
    """Forward as-of (round 5): earliest right row with r.ts >= l.ts,
    inclusive at ties; tolerance nulls matches that are too far."""
    from alternating_least_squares_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 35), (2, 5)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 20, 100.0), (1, 30, 200.0), (2, 50, 300.0)],
        "k int, t int, v double",
    )
    got = {
        (r["k"], r["t"]): (r["t_asof"], r["v_asof"])
        for r in asof_join(left, right, "k", "t",
                           direction="forward").collect()
    }
    assert got == {
        (1, 10): (20, 100.0),   # earliest at-or-after
        (1, 20): (20, 100.0),   # inclusive tie
        (1, 35): (None, None),  # nothing after
        (2, 5): (50, 300.0),
    }
    tol = {
        (r["k"], r["t"]): (r["t_asof"], r["v_asof"])
        for r in asof_join(left, right, "k", "t",
                           direction="forward", tolerance=10).collect()
    }
    assert tol[(1, 10)] == (20, 100.0)
    assert tol[(2, 5)] == (None, None)  # 45 away > tolerance 10


def test_asof_backward_tolerance(spark):
    from alternating_least_squares_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100), (1, 9)], "k int, t int")
    right = spark.createDataFrame([(1, 5, 1.0)], "k int, t int, v double")
    got = {
        r["t"]: r["v_asof"]
        for r in asof_join(left, right, "k", "t", tolerance=10).collect()
    }
    assert got == {9: 1.0, 100: None}


def test_asof_rejects_bad_direction(spark):
    from alternating_least_squares_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 1)], "k int, t int")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "k", "t", direction="sideways")


def test_asof_forward_matches_brute_force(spark):
    """Randomized parity: forward asof vs a per-row brute-force scan."""
    import random

    rng = random.Random(7)
    lrows = [(rng.randint(0, 4), rng.randint(0, 100)) for _ in range(80)]
    rrows = [
        (rng.randint(0, 4), rng.randint(0, 100), float(i))
        for i in range(60)
    ]
    from alternating_least_squares_spark.operators.asof import asof_join

    left = spark.createDataFrame(lrows, "k int, t int").distinct()
    right = spark.createDataFrame(rrows, "k int, t int, v double")
    # pin tie winners like production callers: one row per (k, t)
    right = right.groupBy("k", "t").agg(F.max("v").alias("v"))
    rmap = {}
    for r in right.collect():
        rmap.setdefault(r["k"], []).append((r["t"], r["v"]))
    got = {
        (r["k"], r["t"]): (r["t_asof"], r["v_asof"])
        for r in asof_join(left, right, "k", "t",
                           direction="forward").collect()
    }
    for (k, t) in {(k, t) for k, t in left.collect()}:
        cands = [(rt, rv) for rt, rv in rmap.get(k, []) if rt >= t]
        want = min(cands) if cands else (None, None)
        assert got[(k, t)] == want, ((k, t), got[(k, t)], want)


def test_foreign_key_check(spark):
    from alternating_least_squares_spark.functions import quality as Q

    child = spark.createDataFrame(
        [(1,), (2,), (9,), (None,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = Q.foreign_key(child, "fk", parent, "pk").first()
    assert row["constraint"] == "foreign_key(fk->pk)"
    assert row["n_violations"] == 1  # 9 is orphaned; NULL never violates
    assert row["passed"] is False


def test_asof_nearest_direction(spark):
    """Nearest as-of: closer of backward/forward, ties resolve
    BACKWARD; tolerance nulls far matches; plan stays one exchange."""
    left = spark.createDataFrame(
        [(1, 10), (1, 14), (1, 16), (1, 100), (2, 5)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 12, 1.0), (1, 18, 2.0), (2, 50, 3.0)], "k int, t int, v double"
    )
    got = {
        (r["k"], r["t"]): (r["t_asof"], r["v_asof"])
        for r in asof_join(left, right, "k", "t",
                           direction="nearest").collect()
    }
    assert got == {
        (1, 10): (12, 1.0),   # forward closer (2 vs none behind)
        (1, 14): (12, 1.0),   # backward closer (2 vs 4)
        (1, 16): (18, 2.0),   # forward closer... backward 4, forward 2
        (1, 100): (18, 2.0),  # only backward exists
        (2, 5): (50, 3.0),
    }
    # tie: backward wins
    lt = spark.createDataFrame([(1, 15)], "k int, t int")
    tie = asof_join(lt, right, "k", "t", direction="nearest").first()
    assert (tie["t_asof"], tie["v_asof"]) == (12, 1.0)
    # tolerance nulls the distant match
    tol = {
        r["t"]: r["t_asof"]
        for r in asof_join(left, right, "k", "t", direction="nearest",
                           tolerance=10).collect()
    }
    assert tol[100] is None and tol[10] == 12
    # one exchange only (both window passes share the partition key)
    plan = (
        asof_join(left, right, "k", "t", direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchange == 1, plan[:1500]


def test_asof_nearest_matches_brute_force(spark):
    import random

    rng = random.Random(11)
    lrows = [(rng.randint(0, 3), rng.randint(0, 60)) for _ in range(60)]
    rrows = [
        (rng.randint(0, 3), rng.randint(0, 60), float(i)) for i in range(40)
    ]
    left = spark.createDataFrame(lrows, "k int, t int").distinct()
    right = spark.createDataFrame(rrows, "k int, t int, v double")
    right = right.groupBy("k", "t").agg(F.max("v").alias("v"))
    rmap = {}
    for r in right.collect():
        rmap.setdefault(r["k"], []).append((r["t"], r["v"]))
    got = {
        (r["k"], r["t"]): (r["t_asof"], r["v_asof"])
        for r in asof_join(left, right, "k", "t",
                           direction="nearest").collect()
    }
    for (k, t) in {(k, t) for k, t in left.collect()}:
        cands = rmap.get(k, [])
        bw = max(((rt, rv) for rt, rv in cands if rt <= t), default=None)
        fw = min(((rt, rv) for rt, rv in cands if rt >= t), default=None)
        if bw is None and fw is None:
            want = (None, None)
        elif fw is None or (bw is not None and t - bw[0] <= fw[0] - t):
            want = bw
        else:
            want = fw
        assert got[(k, t)] == want, ((k, t), got[(k, t)], want)


def test_abandoned_clicks_horizon_boundaries(spark, monkeypatch):
    """j07's horizon is (t, t+1h]: a purchase AT the click instant
    does not answer it (strict >), a purchase exactly at t+1h does
    (inclusive <=), one nanosecond later does not; and the binning
    must catch follow-ups that cross an hour-bucket edge."""
    import alternating_least_squares_spark.registry as R
    from alternating_least_squares_spark.registry import queries

    H = 3_600_000_000_000
    # clicks at various offsets; purchase times picked per case
    rows = [
        # (event_id, user, type, ts_ns)
        (1, 1, "click", 100),        (101, 1, "purchase", 100),      # same instant → abandoned
        (2, 2, "click", 100),        (102, 2, "purchase", 100 + H),  # exactly t+1h → answered
        (3, 3, "click", 100),        (103, 3, "purchase", 101 + H),  # 1ns past → abandoned
        # click near the end of hour bucket 0; purchase early in bucket 1
        (4, 4, "click", H - 5),      (104, 4, "purchase", H + 5),    # answered (cross-bin)
        (5, 5, "click", 100),                                         # no purchase at all
        (6, 6, "click", 100),        (106, 6, "purchase", 50),       # earlier only → abandoned
    ]
    ev = spark.createDataFrame(
        [(e, u, t, ts) for (e, u, t, ts) in rows],
        "event_id long, user_id long, event_type string, ts_ns long",
    )
    real_load = R.load_table
    monkeypatch.setattr(
        R, "load_table",
        lambda sp, sf, name: ev if name == "events"
        else real_load(sp, sf, name),
    )
    got = sorted(
        r["event_id"]
        for r in queries()["j07_abandoned_clicks"](spark, "ignored").collect()
    )
    assert got == [1, 3, 5, 6]
