"""Relational operator unit tests (§2.B/§2.C) on literal fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from alternating_least_squares_spark.operators.relational import (
    anti_join,
    symmetric_diff,
    unpivot,
    zero_pad_union,
)


def test_symmetric_diff_tags_both_sides(spark):
    # data.clj:17-30 — [:left x] / [:right y] tagging
    a = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    got = {(r["k"], r["side"]) for r in symmetric_diff(a, b, "k").collect()}
    assert got == {(1, "left"), (4, "right")}


def test_anti_join(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, p string")
    b = spark.createDataFrame([(2,)], "k long")
    got = [tuple(r) for r in anti_join(a, b, "k").collect()]
    assert got == [(1, "x")]


def test_zero_pad_union_completes_domain(spark):
    # core.clj:169-172 — missing keys get all-zero rows
    wide = spark.createDataFrame([(1, 5.0)], "k long, n double")
    keys = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    got = {r["k"]: r["n"] for r in zero_pad_union(wide, keys, "k").collect()}
    assert got == {1: 5.0, 2: 0.0, 3: 0.0}


def test_unpivot_pivot_roundtrip(spark):
    wide = spark.createDataFrame(
        [("a", 1.0, 2.0), ("b", 3.0, 4.0)], "k string, h0 double, h1 double"
    )
    long = unpivot(wide, ["k"], ["h0", "h1"], "hour", "v")
    assert sorted(map(tuple, long.collect())) == [
        ("a", "h0", 1.0),
        ("a", "h1", 2.0),
        ("b", "h0", 3.0),
        ("b", "h1", 4.0),
    ]


def test_upsert_row_level_semantics(spark):
    """Update rows replace WHOLE rows (a NULL in an update row is an
    intentional NULL, not a fall-through to the base value); new keys
    insert; untouched keys survive."""
    from alternating_least_squares_spark.operators.relational import upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, tag string, v double"
    )
    updates = spark.createDataFrame(
        [(2, None, 99.0), (3, "c", 30.0)], "k long, tag string, v double"
    )
    got = {r["k"]: (r["tag"], r["v"]) for r in upsert(base, updates, "k").collect()}
    assert got == {1: ("a", 10.0), 2: (None, 99.0), 3: ("c", 30.0)}


def test_upsert_rejects_schema_mismatch(spark):
    import pytest as _pytest

    from alternating_least_squares_spark.operators.relational import upsert

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    updates = spark.createDataFrame([(1, "x")], "k long, other string")
    with _pytest.raises(ValueError, match="matching schemas"):
        upsert(base, updates, "k")


def test_upsert_guards(spark):
    import pytest as _pytest

    from alternating_least_squares_spark.operators.relational import upsert

    base = spark.createDataFrame([("a", 1, 1.0)], "tag string, k long, v double")
    # column ORDER of base is preserved
    updates = spark.createDataFrame([("b", 2, 2.0)], "tag string, k long, v double")
    out = upsert(base, updates, "k")
    assert out.columns == ["tag", "k", "v"]
    # type mismatch (same names) raises
    bad = spark.createDataFrame([("b", 2, "x")], "tag string, k long, v string")
    with _pytest.raises(ValueError, match="matching schemas"):
        upsert(base, bad, "k")
    # duplicate update keys detected when asked
    dups = spark.createDataFrame(
        [("b", 2, 2.0), ("c", 2, 3.0)], "tag string, k long, v double"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        upsert(base, dups, "k", validate_unique=True)
    # reserved working names rejected
    res = spark.createDataFrame([(1, True)], "k long, _hit boolean")
    with _pytest.raises(ValueError, match="reserves"):
        upsert(res, res, "k")


def test_quality_check_flags_violations(spark):
    from alternating_least_squares_spark.functions import quality as Q

    df = spark.createDataFrame(
        [(1, 5.0, "ok"), (2, -1.0, "ok"), (2, None, "bad!"), (3, 7.0, None)],
        "k long, v double, s string",
    )
    rep = {
        r["constraint"]: (r["n_violations"], r["passed"])
        for r in Q.check(
            df,
            [Q.not_null("v"), Q.in_range("v", 0.0, 10.0), Q.matches("s", "^ok$")],
            unique_keys=["k"],
        ).collect()
    }
    assert rep["not_null(v)"] == (1, False)
    assert rep["in_range(v,0.0,10.0)"] == (2, False)  # -1.0 and NULL
    assert rep["matches(s,^ok$)"] == (2, False)  # "bad!" and NULL
    assert rep["unique(k)"] == (1, False)  # k=2 twice


def test_quality_check_null_predicate_counts_as_violation(spark):
    """A raw user predicate that evaluates NULL (comparison against a
    NULL column without a null guard) must count as a violation, not
    silently pass."""
    from pyspark.sql import functions as F2

    from alternating_least_squares_spark.functions import quality as Q

    df = spark.createDataFrame([(1.0,), (None,)], "v double")
    rep = {
        r["constraint"]: r["n_violations"]
        for r in Q.check(df, [("positive", F2.col("v") > 0)]).collect()
    }
    assert rep["positive"] == 1


def test_quality_observed_rides_the_callers_action(spark):
    """observed() must report the same violation counts as check()
    while costing zero extra jobs - the metrics come back from the
    caller's own action."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.functions import quality as Q

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0), (None, 2.0)],
        "id long, v double",
    )
    constraints = [Q.not_null("id"), Q.in_range("v", 0.0, 10.0)]
    instrumented, obs = Q.observed(df, constraints)
    instrumented.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = {
        r["constraint"]: r["n_violations"]
        for r in Q.check(df, constraints).collect()
    }
    assert got == want == {"not_null(id)": 1, "in_range(v,0.0,10.0)": 2}


def test_zero_pad_union_preserves_existing_nulls(spark):
    """Only PADDED rows get zero-filled; a genuine NULL cell in an
    existing row must survive (na.fill over the whole frame used to
    clobber it to 0)."""
    from alternating_least_squares_spark.operators.relational import zero_pad_union

    wide = spark.createDataFrame(
        [(1, None), (2, 5.0)], "k long, h double"
    )
    keys = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    got = {r["k"]: r["h"] for r in zero_pad_union(wide, keys, "k").collect()}
    assert got == {1: None, 2: 5.0, 3: 0.0}


def test_upsert_replaces_null_key_row(spark):
    """A NULL-key update must REPLACE base's NULL-key row (null-safe
    join), not insert a duplicate — plain equi-joins never match NULL
    keys."""
    from alternating_least_squares_spark.operators.relational import upsert

    base = spark.createDataFrame([(None, 1.0), (7, 2.0)], "k int, v double")
    upd = spark.createDataFrame([(None, 9.0)], "k int, v double")
    rows = sorted(
        [(r["k"], r["v"]) for r in upsert(base, upd, "k").collect()],
        key=lambda t: (t[0] is None, t[0]),
    )
    assert rows == [(7, 2.0), (None, 9.0)]


def test_quality_gate_null_keys_and_regex_names(spark):
    """(a) duplicate NULL keys are a uniqueness violation — bare
    count/count_distinct both skip NULLs and used to report a clean
    pass; (b) two regex constraints on one column keep distinct report
    rows — the alias used to collide and silently repeat the first
    count."""
    from alternating_least_squares_spark.functions.quality import check, matches

    d = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("k1", "a")], "doc_id string, t string"
    )
    rep = {
        r["constraint"]: r["n_violations"]
        for r in check(d, [], unique_keys=["doc_id"]).collect()
    }
    assert rep["unique(doc_id)"] == 1
    rep2 = {
        r["constraint"]: r["n_violations"]
        for r in check(d, [matches("t", "^a$"), matches("t", "^b$")]).collect()
    }
    assert rep2 == {"matches(t,^a$)": 1, "matches(t,^b$)": 2}


def test_rangegen_empty_and_bad_partitions(spark):
    """n=0 is a valid EMPTY source (step used to become 0 and range()
    raised inside partition planning); partitions<1 fails loudly at
    construction."""
    from alternating_least_squares_spark.sources.pysource import register

    register(spark)
    assert (
        spark.read.format("rangegen").option("n", "0").load().count() == 0
    )



def test_scd2_intersect_join_hand_computed(spark):
    """NULL-aware interval intersection: open (NULL) valid_to acts as
    +inf, empty intersections drop, both-open stays open, and
    colliding attribute columns raise."""
    import datetime

    import pytest as _pytest

    from alternating_least_squares_spark.operators.relational import (
        scd2_intersect_join,
    )

    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    a = spark.createDataFrame(
        [
            (1, "LOW", d("2024-01-01"), d("2024-03-01")),
            (1, "HIGH", d("2024-03-01"), None),
            (2, "LOW", d("2024-01-01"), d("2024-02-01")),
        ],
        "custkey long, priority string, valid_from date, valid_to date",
    )
    b = spark.createDataFrame(
        [
            (1, "O", d("2024-02-01"), d("2024-04-01")),
            (1, "F", d("2024-04-01"), None),
            # key 2: interval strictly AFTER a's -> empty intersection
            (2, "O", d("2024-02-01"), None),
        ],
        "custkey long, status string, valid_from date, valid_to date",
    )
    got = {
        (r["custkey"], r["priority"], r["status"],
         str(r["valid_from"]), str(r["valid_to"]))
        for r in scd2_intersect_join(a, b, "custkey").collect()
    }
    assert got == {
        (1, "LOW", "O", "2024-02-01", "2024-03-01"),
        (1, "HIGH", "O", "2024-03-01", "2024-04-01"),
        (1, "HIGH", "F", "2024-04-01", "None"),
    }
    with _pytest.raises(ValueError):
        scd2_intersect_join(
            a, a.withColumnRenamed("custkey", "custkey"), "custkey"
        )


def test_e16_twap_hand_computed(spark, monkeypatch):
    """TWAP semantics: values weight by holding duration, the last
    event per user drops (no window), zero-duration ties contribute
    zero weight, and a user whose events all share one timestamp is
    absent (no defined TWAP)."""
    import datetime

    import alternating_least_squares_spark.registry as R
    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, sec, uid, val):
        return (eid, t0 + datetime.timedelta(seconds=sec), uid,
                "view", float(val), "{}")

    rows = [
        # user 1: value 2.0 held 10s, value 4.0 held 30s -> twap
        # (2e6*10 + 4e6*30) / 40 = 3.5e6 micro-units
        ev(1, 0, 1, 2.0), ev(2, 10, 1, 4.0), ev(3, 40, 1, 99.0),
        # user 2: single event -> no holding window -> absent
        ev(4, 0, 2, 7.0),
        # user 3: two events at the SAME ts -> all-zero holds -> absent
        ev(5, 0, 3, 1.0), ev(6, 0, 3, 2.0),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).withColumn("ts_ns", F.unix_micros("ts") * 1000)
    real_load = R.load_table
    monkeypatch.setattr(
        R, "load_table",
        lambda sp, sf, name: batch if name == "events"
        else real_load(sp, sf, name),
    )
    got = {r["user_id"]: (r["n_held"], r["twap_us"])
           for r in R.q_e16_twap(spark, "ignored").collect()}
    assert got == {1: (2, 3500000.0)}


def test_locf_fill_carries_readings_through_gaps(spark, tmp_path):
    """e17: a gap bucket must carry the LAST prior reading (not zero,
    not NULL), observed buckets report their own max, and the grid
    starts at the first observation so no leading NULLs exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    h = 6 * 3600 * 1_000_000  # one 6h bucket in micros
    # user 1: readings in buckets 0 and 3 (gap at 1, 2), plus an
    # all-NaN bucket INSIDE the span (bucket 2 -> observed=0, carry);
    # user 2: one reading only (degenerate single-bucket grid);
    # user 3: a leading all-NaN bucket before the first real reading
    # (must NOT anchor the span - no leading NULL rows);
    # user 4: only NaN readings -> absent entirely
    nan = float("nan")
    rows = [
        (0, 1 * h // 6, 1, 10.0),     # bucket 0
        (1, 3 * h + 5, 1, 7.5),       # bucket 3
        (7, 2 * h + 11, 1, nan),      # bucket 2: NaN only, in-span
        (2, 2 * h + 9, 2, 99.0),      # user 2, single reading
        (3, 0 * h + 13, 3, nan),      # user 3: NaN-only bucket 0
        (4, 1 * h + 17, 3, 5.0),      # user 3: first REAL reading
        (5, 0 * h + 19, 4, nan),      # user 4: NaN only
        (6, 3 * h + 23, 4, nan),      # user 4: NaN only
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        (r["user_id"], r["bucket_us"]): (r["observed"], r["locf_value"])
        for r in registry.q_e17_locf_fill(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 0 * h): (1, 10.0),
        (1, 1 * h): (0, 10.0),   # empty gap: carried forward
        (1, 2 * h): (0, 10.0),   # NaN-only bucket: still a carry
        (1, 3 * h): (1, 7.5),    # new reading replaces the carry
        (2, 2 * h): (1, 99.0),
        (3, 1 * h): (1, 5.0),    # span starts at the REAL reading
    }  # user 4 (NaN-only) is absent; no locf_value is NULL anywhere


from hypothesis import given, settings, strategies as st

_locf_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user_id
        st.integers(min_value=0, max_value=30),         # hours offset
        st.one_of(st.just(float("nan")),
                  # 3-decimal granularity: keeps every value far from
                  # a 6-decimal rounding tie, so the Python round()
                  # (banker's) and Spark F.round (HALF_UP) agree
                  st.floats(min_value=-5, max_value=5,
                            allow_nan=False, allow_infinity=False)
                  .map(lambda v: round(v, 3))),
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=8, deadline=None)
@given(evs=_locf_events)
def test_locf_fill_matches_python_reference(spark, evs):
    """e17 brute force on random streams (NaN-heavy): the Spark
    grid + ignorenulls-window pipeline must equal a sequential Python
    LOCF replay of the documented contract — spans anchored on real
    readings, per-bucket max over non-NaN values, carries through
    empty and NaN-only buckets, NaN-only users absent."""
    import math

    import alternating_least_squares_spark.registry as R

    h_us = 6 * 3600 * 1_000_000
    rows = [
        (i, u, (hrs * 3600 * 1_000_000 + i * 977) * 1000, v)
        for i, (u, hrs, v) in enumerate(evs)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )
    from unittest import mock

    real_load = R.load_table
    with mock.patch.object(
        R, "load_table",
        lambda sp, sf, name: batch
        if name == "events" else real_load(sp, sf, name),
    ):
        got = {
            (r["user_id"], r["bucket_us"]):
                (r["observed"], r["locf_value"])
            for r in R.q_e17_locf_fill(spark, "ignored").collect()
        }

    want = {}
    users = {u for _, u, _, _ in rows}
    for u in users:
        by_bucket: dict[int, list[float]] = {}
        for _, uu, ts_ns, v in rows:
            if uu == u:
                by_bucket.setdefault(
                    (ts_ns // 1000) // h_us * h_us, []
                ).append(v)
        mx = {
            b: (max(real) if (real := [v for v in vs
                                       if not math.isnan(v)]) else None)
            for b, vs in by_bucket.items()
        }
        real_buckets = [b for b, m in mx.items() if m is not None]
        if not real_buckets:
            continue
        carry = None
        for b in range(min(real_buckets), max(real_buckets) + h_us,
                       h_us):
            m = mx.get(b)
            if m is not None:
                carry = m
            want[(u, b)] = (1 if m is not None else 0,
                            round(carry, 6))
    assert got == want


def test_linear_interpolate_hand_computed(spark, tmp_path):
    """e18: gap buckets take the straight line between bracketing real
    readings (exact integer micro-units, floored); observed buckets
    return their own value; spans anchor on real readings like e17."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    h = 6 * 3600 * 1_000_000
    nan = float("nan")
    rows = [
        (0, 1 * h // 6, 1, 10.0),     # user 1 bucket 0
        (1, 3 * h + 5, 1, 7.5),       # user 1 bucket 3
        (7, 2 * h + 11, 1, nan),      # user 1 bucket 2: NaN only
        (2, 2 * h + 9, 2, 99.0),      # user 2, single reading
        (3, 0 * h + 13, 3, nan),      # user 3 NaN-only leading bucket
        (4, 1 * h + 17, 3, 5.0),      # user 3 first REAL reading
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        (r["user_id"], r["bucket_us"]): (r["observed"], r["interp_us"])
        for r in registry.q_e18_linear_interpolate(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (1, 0 * h): (1, 10_000_000),
        # (10e6*2 + 7.5e6*1)/3 floored
        (1, 1 * h): (0, 9_166_666),
        # (10e6*1 + 7.5e6*2)/3 floored — the NaN-only bucket
        # interpolates, it does not carry
        (1, 2 * h): (0, 8_333_333),
        (1, 3 * h): (1, 7_500_000),
        (2, 2 * h): (1, 99_000_000),
        (3, 1 * h): (1, 5_000_000),
    }


@settings(max_examples=8, deadline=None)
@given(evs=_locf_events)
def test_linear_interpolate_matches_python_reference(spark, evs):
    """e18 brute force on the same NaN-heavy random streams as the
    e17 property test: grid + two ignorenulls windows must equal a
    sequential Python replay of the documented integer-micro-unit
    interpolation."""
    import math

    import alternating_least_squares_spark.registry as R

    h_us = 6 * 3600 * 1_000_000
    rows = [
        (i, u, (hrs * 3600 * 1_000_000 + i * 977) * 1000, v)
        for i, (u, hrs, v) in enumerate(evs)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )
    from unittest import mock

    real_load = R.load_table
    with mock.patch.object(
        R, "load_table",
        lambda sp, sf, name: batch
        if name == "events" else real_load(sp, sf, name),
    ):
        got = {
            (r["user_id"], r["bucket_us"]):
                (r["observed"], r["interp_us"])
            for r in R.q_e18_linear_interpolate(
                spark, "ignored"
            ).collect()
        }

    want = {}
    users = {u for _, u, _, _ in rows}
    for u in users:
        by_bucket: dict[int, list[float]] = {}
        for _, uu, ts_ns, v in rows:
            if uu == u:
                by_bucket.setdefault(
                    (ts_ns // 1000) // h_us * h_us, []
                ).append(v)
        v_us = {
            b: (math.floor(max(real) * 1_000_000)
                if (real := [v for v in vs if not math.isnan(v)])
                else None)
            for b, vs in by_bucket.items()
        }
        real_buckets = sorted(b for b, m in v_us.items() if m is not None)
        if not real_buckets:
            continue
        for b in range(real_buckets[0], real_buckets[-1] + h_us, h_us):
            m = v_us.get(b)
            pb = max(rb for rb in real_buckets if rb <= b)
            nb = min(rb for rb in real_buckets if rb >= b)
            if nb == pb:
                interp = v_us[pb]
            else:
                gap = (nb - pb) / h_us
                di = (b - pb) / h_us
                interp = math.floor(
                    (v_us[pb] * (gap - di) + v_us[nb] * di) / gap
                )
            want[(u, b)] = (1 if m is not None else 0, interp)
    assert got == want


def test_interval_coalesce_hand_computed(spark, tmp_path):
    """e19: overlapping and touching holds merge into islands; a
    strictly-later start opens a new island with its idle gap; an
    interval ending exactly where the next starts still merges
    (s_us > running-max is STRICT)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    m = 60 * 1_000_000  # one minute in micros
    hold = registry.E19_HOLD_US  # 30 min
    rows = [
        # user 1: events at t=0 and t=10min overlap -> one island
        # [0, 40min); event at t=100min is a new island with a
        # 60-min idle gap; event at t=130min TOUCHES its end (starts
        # exactly at 100+30) and must merge (strict >)
        (0, 0 * m, 1),
        (1, 10 * m, 1),
        (2, 100 * m, 1),
        (3, 130 * m, 1),
        # user 2: single event
        (4, 7 * m, 2),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"],
         r["idle_before_us"])
        for r in registry.q_e19_interval_coalesce(
            spark, str(tmp_path)
        ).collect()
    )
    assert got == [
        (1, 0, 10 * m + hold, 2, None),
        (1, 100 * m, 130 * m + hold, 2, 100 * m - (10 * m + hold)),
        (2, 7 * m, 7 * m + hold, 1, None),
    ]


_interval_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),    # user_id
        st.integers(min_value=0, max_value=200),  # start minute
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=8, deadline=None)
@given(evs=_interval_events)
def test_interval_coalesce_matches_python_replay(spark, evs):
    """e19 brute force on random event streams: the window sweep must
    equal a sequential merge of sorted 30-min holds — island count,
    bounds, event counts, and idle gaps all exact."""
    import alternating_least_squares_spark.registry as R

    m = 60 * 1_000_000
    hold = R.E19_HOLD_US
    rows = [
        (i, u, (mins * m + i) * 1000)  # distinct ts per event
        for i, (u, mins) in enumerate(evs)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long"
    )
    from unittest import mock

    real_load = R.load_table
    with mock.patch.object(
        R, "load_table",
        lambda sp, sf, name: batch
        if name == "events" else real_load(sp, sf, name),
    ):
        got = sorted(
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"],
             r["idle_before_us"])
            for r in R.q_e19_interval_coalesce(spark, "ignored").collect()
        )

    want = []
    for u in sorted({u for _, u, _ in rows}):
        starts = sorted(ts // 1000 for _, uu, ts in rows if uu == u)
        islands = []
        for s_us in starts:
            if islands and s_us <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], s_us + hold)
                islands[-1][2] += 1
            else:
                islands.append([s_us, s_us + hold, 1])
        prev_end = None
        for s_us, e_us, n in islands:
            want.append(
                (u, s_us, e_us, n,
                 None if prev_end is None else s_us - prev_end)
            )
            prev_end = e_us
    assert got == sorted(want)


def test_last_touch_attribution_hand_computed(spark, tmp_path):
    """e20: the click-else-view-else-organic waterfall with the 24 h
    horizon INCLUSIVE at the boundary; touches strictly after the
    purchase never attribute; the most RECENT qualifying touch of
    each class wins; NaN purchase values emit NULL micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    H = 3600 * 1_000_000 * 24  # 24 h in micros
    rows = [
        # user 1: click at t=0, view at t=10 -> purchase at t=20
        # attributes to the CLICK (clicks outrank views) even though
        # the view is more recent
        (0, 0, 1, "click", 1.0),
        (1, 10, 1, "view", 1.0),
        (2, 20, 1, "purchase", 2.5),
        # user 1: second purchase exactly 24 h after the click:
        # inclusive boundary -> still click-attributed
        (3, H, 1, "purchase", float("nan")),
        # user 2: view only, one micro past the horizon -> organic
        (4, 0, 2, "view", 1.0),
        (5, H + 1, 2, "purchase", 3.0),
        # user 3: touch AFTER the purchase never attributes
        (6, 50, 3, "purchase", 1.0),
        (7, 60, 3, "click", 1.0),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r["event_id"]: (
            r["attributed"], r["touch_event_id"], r["gap_ns"],
            r["value_micros"],
        )
        for r in registry.q_e20_last_touch_attribution(
            spark, str(tmp_path)
        ).collect()
    }
    K = 1000  # micros -> ns
    assert got == {
        2: ("click", 0, 20 * K, 2_500_000),
        3: ("click", 0, H * K, None),  # boundary inclusive; NaN -> NULL
        5: ("organic", None, None, 3_000_000),
        6: ("organic", None, None, 1_000_000),
    }


def test_retention_cohorts_hand_computed(spark, tmp_path):
    """e21 on a constructed multi-cohort event set (the sf testdata
    spans one cohort, so the triangle structure needs a fixture):
    users cohorted by FIRST active week, gaps in activity leave holes
    in the triangle (no zero-padding), cohort_size = the offset-0
    count, retention_ppm exact integer DIV."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    WK = 7 * 86_400 * 1_000_000  # one epoch-week in micros
    # (user, active weeks): cohort w0 = {1, 2}, cohort w1 = {3}
    activity = {
        1: [0, 1, 3],   # skips week 2 -> hole at offset 2
        2: [0, 1],
        3: [1, 3],      # cohort week 1, active again offset 2
    }
    rows = []
    eid = 0
    for u, weeks in activity.items():
        for wk in weeks:
            # two events in the same week must count once
            for off_us in (5, 99):
                rows.append((eid, wk * WK + off_us, u))
                eid += 1
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"], r["cohort_size"], r["retention_ppm"]
        )
        for r in registry.q_e21_retention_cohorts(
            spark, str(tmp_path)
        ).collect()
    }
    # epoch-week of 2024-01-01-based micros: the fixture plants weeks
    # RELATIVE to epoch directly (ts = wk*WK), so cohort weeks are 0/1
    assert got == {
        (0, 0): (2, 2, 1_000_000),
        (0, 1): (2, 2, 1_000_000),
        (0, 3): (1, 2, 500_000),   # hole at offset 2
        (1, 0): (1, 1, 1_000_000),
        (1, 2): (1, 1, 1_000_000),
    }


def test_key_uniqueness_flags_planted_duplicates(spark, tmp_path):
    """q06 on a catalog with planted violations: a duplicated
    composite key, a duplicated NULL key (must count — the q01
    struct-count rule), and clean tables pass with surplus 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark import registry

    def write(name, table):
        pq.write_table(table, str(tmp_path / f"{name}.parquet"))

    write("documents", pa.table({
        # NULL doc_id twice -> duplicate NULL key must fail the table
        "doc_id": pa.array([10, None, None], pa.int64()),
    }))
    write("events", pa.table({
        "event_id": pa.array([1, 2, 2, 2], pa.int64()),
        "ts": pa.array([0, 1, 2, 3], pa.timestamp("us")),
        "user_id": pa.array([1, 1, 1, 1], pa.int64()),
        "event_type": pa.array(["view"] * 4, pa.string()),
        "value": pa.array([1.0] * 4, pa.float64()),
        "props": pa.array(["{}"] * 4, pa.string()),
    }))
    write("lineitem", pa.table({
        "l_orderkey": pa.array([1, 1, 1], pa.int64()),
        # composite (1,1) duplicated; (1,2) fine
        "l_linenumber": pa.array([1, 1, 2], pa.int32()),
    }))
    write("orders", pa.table({"o_orderkey": pa.array([7], pa.int64())}))
    # customer is written EMPTY: an empty table must report a passing
    # zero row, not NULLs that neither pass nor fail (review r14)
    write("customer", pa.table({"c_custkey": pa.array([], pa.int64())}))

    got = {
        r["tbl"]: (
            r["n_rows"], r["n_keys"], r["n_dup_keys"],
            r["surplus_rows"], r["max_multiplicity"], r["passed"],
        )
        for r in registry.q_q06_key_uniqueness(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        "customer": (0, 0, 0, 0, 0, True),  # empty table: passing zeros
        "documents": (3, 2, 1, 1, 2, False),
        "events": (4, 2, 1, 2, 3, False),
        "lineitem": (3, 2, 1, 1, 2, False),
        "orders": (1, 1, 0, 0, 1, True),
    }
