"""Read schemas of the driver testdata tables: ``catalog.TABLES`` is
their only statement, and a table load infers nothing, starts no Spark
job and writes no session conf."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from alternating_least_squares_spark.sources import catalog, load_table
from alternating_least_squares_spark.streaming import (
    read_events_stream,
    run_stream_to_batch,
)
from tests.conftest import SF_SMALL

TESTDATA = os.path.dirname(SF_SMALL)
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_table_pins_match_parquet_footers(spark, sf):
    """Each table's pin equals the schema Spark infers from its parquet
    footer, field for field; for ``events``, the physical read schema
    that ``normalize_events`` then maps onto the pin."""
    sf_dir = os.path.join(TESTDATA, sf)
    session = spark.newSession()

    def path(name):
        return os.path.join(sf_dir, f"{name}.parquet")

    footer = {
        name: session.read.parquet(path(name)).schema
        for name in catalog.TABLES
        if name != "events"
    }
    assert {name: catalog.TABLES[name] for name in footer} == footer
    events = catalog.events_read_schema(session, path("events"))
    assert events == session.read.parquet(path("events")).schema


def test_load_table_starts_no_job(spark):
    """Loading every table at SF_SMALL, and opening the events stream,
    starts no Spark job, and each load reads its pin."""
    sc = spark.sparkContext
    group = "test_load_table_starts_no_job"
    sc.setJobGroup(group, group)
    try:
        schemas = {
            name: load_table(spark, SF_SMALL, name).schema
            for name in catalog.TABLES
        }
        read_events_stream(spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert schemas == catalog.TABLES


def test_load_table_leaves_session_conf_unset(spark):
    """The micros layout of ``events`` (every testdata scale) reads, in
    batch and as a stream, without the nanos conf and leaves it unset."""
    path = os.path.join(SF_SMALL, "events.parquet")
    assert pq.read_schema(path).field("ts").type.unit == "us"
    session = spark.newSession()
    assert load_table(session, SF_SMALL, "events").count() > 0
    read_events_stream(session, SF_SMALL)
    assert session.conf.get(NANOS_AS_LONG, None) is None


@pytest.mark.parametrize(
    "ts_type, int96",
    [(pa.timestamp("ns"), False), (pa.timestamp("us"), True)],
    ids=["nanos", "int96"],
)
def test_load_table_reads_every_ts_layout_alike(spark, tmp_path, ts_type, int96):
    """An ``events`` file whose ``ts`` is INT64 TIMESTAMP(NANOS), or
    INT96 as Spark writes it, loads to the same rows, in batch and as a
    stream, as the same whole-microsecond instants (one before 1970)
    stored as TIMESTAMP(MICROS); only the nanos file sets the conf that
    lets Spark read it."""
    ts_us = [-86_400_000_001, 0, 1_700_000_000_123_456]

    def load(name, ts, int96):
        sf_dir = tmp_path / name
        sf_dir.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": ts,
                "user_id": pa.array([7, 8, 7], pa.int64()),
                "event_type": pa.array(["view", "click", "view"], pa.string()),
                "value": pa.array([1.5, 2.0, -0.25], pa.float64()),
                "props": pa.array(["{}", None, '{"a": 1}'], pa.string()),
            }
        )
        pq.write_table(
            table,
            str(sf_dir / "events.parquet"),
            use_deprecated_int96_timestamps=int96,
        )
        session = spark.newSession()
        rows = (
            load_table(session, str(sf_dir), "events").orderBy("event_id").collect()
        )
        stream = run_stream_to_batch(
            read_events_stream(session, str(sf_dir)), output_mode="append"
        )
        assert stream.orderBy("event_id").collect() == rows
        return rows, session.conf.get(NANOS_AS_LONG, None)

    micros, micros_conf = load("us", pa.array(ts_us, pa.timestamp("us")), False)
    per_us = 1000 if ts_type.unit == "ns" else 1
    other, other_conf = load(
        "other", pa.array([t * per_us for t in ts_us], ts_type), int96
    )
    assert other == micros
    assert [r["ts_ns"] for r in micros] == [t * 1000 for t in ts_us]
    assert micros_conf is None
    assert other_conf == (None if int96 else "true")
