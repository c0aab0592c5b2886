"""Shared pytest fixtures: one SparkSession per test session, literal
matrix/vector builders in the package's canonical COO/vector schemas."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("alternating-least-squares-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def hash_min_paths(monkeypatch):
    """Yield each ``graph._hash_min`` path in turn: the driver path
    (the default for any edge set under ``MAX_DRIVER_EDGES``) and then
    the distributed one, forced by a zero edge gate."""
    from alternating_least_squares_spark.operators import graph

    yield "driver"
    monkeypatch.setattr(graph, "MAX_DRIVER_EDGES", 0)
    yield "distributed"


def lsh_paths(monkeypatch):
    """Yield each path of ``similarity.lsh_topk`` and
    ``embedding_near_dup_pairs`` in turn: the driver path (the default
    for an input under ``MAX_DRIVER_VECTORS``) and then the Spark one,
    forced by a zero vector gate. Fails if a search of the first pass
    did not run on the driver, or one of the second pass did."""
    from alternating_least_squares_spark.functions import similarity

    ran = []
    search = similarity._driver_search

    def counted(*args):
        out = search(*args)
        ran.append(out is not None)
        return out

    monkeypatch.setattr(similarity, "_driver_search", counted)
    yield "driver"
    assert ran and all(ran), "a search left the driver path"
    ran.clear()
    monkeypatch.setattr(similarity, "MAX_DRIVER_VECTORS", 0)
    yield "spark"
    assert not any(ran), "a search ran on the driver under a zero gate"


def vectors_frame(spark, rows):
    """``(vec_id, embedding)`` rows as a ``vec_id long, embedding
    array<double>`` frame built from Arrow, so its plan carries the
    size estimate an LSH search reads to take the driver path (a frame
    built from a Python list has none)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float64())
                ),
            }
        )
    )


@pytest.fixture
def make_matrix(spark):
    """Nested-list literal → COO DataFrame (r, c, v), like the
    reference's vector-of-rows representation."""

    def _make(rows: list[list[float]]):
        data = [
            (r, c, float(v))
            for r, row in enumerate(rows)
            for c, v in enumerate(row)
        ]
        return spark.createDataFrame(data, "r long, c long, v double")

    return _make


@pytest.fixture
def make_vector(spark):
    def _make(values: list[float]):
        data = [(i, float(v)) for i, v in enumerate(values)]
        return spark.createDataFrame(data, "id long, v double")

    return _make


def coo_to_nested(df) -> list[list[float]]:
    """Collect a COO DataFrame back to a dense nested list for
    hand-checkable assertions."""
    rows = df.collect()
    if not rows:
        return []
    nr = max(r["r"] for r in rows) + 1
    nc = max(r["c"] for r in rows) + 1
    out = [[0.0] * nc for _ in range(nr)]
    for r in rows:
        out[r["r"]][r["c"]] = r["v"]
    return out


def vec_to_list(df) -> list[float]:
    rows = sorted(df.collect(), key=lambda r: r["id"])
    return [r["v"] for r in rows]


def fresh_ledger(path: str, stamp: str, feed: str):
    """A new exactly-once ledger of ``feed`` on the snapshot table at
    ``path``, keyed like the ``stamp`` sink ("profile", "erasure" or
    "cdc"). Its first check walks the manifests, as a run's first batch
    does."""
    from alternating_least_squares_spark.streaming import events as EV

    keys = {
        "profile": EV._PROFILE_STAMP,
        "erasure": EV._ERASURE_STAMP,
        "cdc": EV._CDC_STAMP,
    }[stamp]
    return EV._FeedLedger(path, *keys, feed)
