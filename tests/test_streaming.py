"""Streaming surface tests: replay-equals-batch is THE correctness
property (exactly-once file-source replay through watermarked windows
must reproduce the batch aggregation bit-for-bit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alternating_least_squares_spark.sources import load_table
from alternating_least_squares_spark.streaming import (
    hourly_value_stream,
    read_events_stream,
    run_stream_to_batch,
    sessionize_stream,
)
from tests.conftest import SF_SMALL, fresh_ledger

# Read schema of the events copies the tests below write, with ``ts``
# the epoch-nanos long ``ts_ns``.
RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def test_stream_hourly_equals_batch(spark):
    stream = read_events_stream(spark, SF_SMALL)
    assert stream.isStreaming
    got = run_stream_to_batch(hourly_value_stream(stream)).collect()

    ev = load_table(spark, SF_SMALL, "events")
    want = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
        .collect()
    )
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    got_m = {key(r): (r["n_events"], r["total_value"]) for r in got}
    want_m = {key(r): (r["n_events"], r["total_value"]) for r in want}
    assert got_m == want_m


def test_stream_sessionize_equals_batch_islands(spark):
    """session_window replay == gaps-and-islands batch SQL (new session
    at gap ≥ 30 min; session end = last event + gap)."""
    stream = read_events_stream(spark, SF_SMALL)
    sess = run_stream_to_batch(
        sessionize_stream(stream, gap="30 minutes"), output_mode="complete"
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in sess.collect()
    }

    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "_us", F.expr("ts_ns DIV 1000")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("_us")
    flagged = ev.withColumn(
        "_new",
        F.when(
            F.lag("_us").over(w).isNull()
            | (F.col("_us") - F.lag("_us").over(w) >= gap_us),
            1,
        ).otherwise(0),
    ).withColumn("_seq", F.sum("_new").over(w))
    want_rows = (
        flagged.groupBy("user_id", "_seq")
        .agg(F.min("_us").alias("s"), F.max("_us").alias("e"), F.count("*").alias("n"))
        .collect()
    )
    import datetime

    def us_to_dt(us):
        return datetime.datetime.fromtimestamp(us / 1e6, tz=datetime.timezone.utc).replace(
            tzinfo=None
        )

    want = {
        (r["user_id"], us_to_dt(r["s"]), us_to_dt(r["e"] + gap_us)): r["n"]
        for r in want_rows
    }
    assert got == want


def test_stateful_user_profiles_equal_batch(spark):
    """applyInPandasWithState replay: final per-user profiles match the
    batch aggregation exactly (state accumulates across chunks)."""
    from alternating_least_squares_spark.streaming.stateful import (
        user_profile_stream,
    )

    stream = read_events_stream(spark, SF_SMALL).select(
        "user_id", "value", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    prof = run_stream_to_batch(user_profile_stream(stream), output_mode="update")
    # update semantics: keep the final (max n_events) row per user
    final = {}
    for r in prof.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    ev = load_table(spark, SF_SMALL, "events")
    want = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
            F.max(F.expr("ts_ns DIV 1000")).alias("last_ts_us"),
        )
        .collect()
    }
    assert final.keys() == want.keys()
    for uid, w in want.items():
        g = final[uid]
        assert g["n_events"] == w["n_events"], uid
        assert abs(g["total_value"] - w["total_value"]) < 1e-6, uid
        assert g["max_value"] == w["max_value"], uid
        assert g["last_ts_us"] == w["last_ts_us"], uid


def test_multi_batch_replay_equals_batch(spark, tmp_path):
    """TRUE multi-batch streaming: split events into 4 files, feed one
    file per micro-batch (maxFilesPerTrigger=1) so the watermark
    advances across batches — the final windowed aggregate must still
    equal the batch result exactly."""
    src = load_table(spark, SF_SMALL, "events").select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props",
    )
    path = str(tmp_path / "events_multi")
    src.repartition(4).write.mode("overwrite").parquet(path)

    raw = (
        spark.readStream.schema(RAW_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    stream = raw.select(
        F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts"),
        "event_type",
        "value",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_stream_to_batch(hourly_value_stream(stream)).collect()
    }

    ev = load_table(spark, SF_SMALL, "events")
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["tv"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_checkpointed_file_sink_is_exactly_once(spark, tmp_path):
    """Real sink path: stream → parquet sink with a checkpoint.
    Replays land the full dataset once; RESTARTING the query against
    the same checkpoint processes nothing new — the exactly-once
    resume property that matters in production."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = read_events_stream(spark, SF_SMALL).select(
            "event_id", "user_id", "value"
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_events = load_table(spark, SF_SMALL, "events").count()
    first = spark.read.parquet(out)
    assert first.count() == n_events
    assert first.select("event_id").distinct().count() == n_events

    run_once()  # same checkpoint: nothing new to process
    again = spark.read.parquet(out)
    assert again.count() == n_events  # no duplicates appended


def test_stream_dedup_within_watermark_equals_batch_distinct(spark):
    """Replaying dropDuplicatesWithinWatermark over the whole table
    must emit exactly the batch-DISTINCT key set (each key once)."""
    from alternating_least_squares_spark.registry import q_st05_stream_dedup

    got = q_st05_stream_dedup(spark, SF_SMALL).collect()
    keys = [(r["user_id"], r["event_type"]) for r in got]
    assert len(keys) == len(set(keys)), "a key was emitted twice"
    batch = load_table(spark, SF_SMALL, "events").select(
        "user_id", "event_type"
    ).distinct().collect()
    assert set(keys) == {(r["user_id"], r["event_type"]) for r in batch}


def test_stream_stream_join_equals_batch_interval_join(spark):
    """The watermarked stream-stream attribution join, replayed to
    completion, must produce exactly the batch interval join."""
    from alternating_least_squares_spark.registry import (
        q_st06_stream_stream_join,
    )

    got = {
        (r["click_id"], r["purchase_id"])
        for r in q_st06_stream_stream_join(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour")),
        ).collect()
    }
    assert got == want and want


def test_stream_foreachbatch_merge_accumulates_state(spark, tmp_path):
    """Incremental-pipeline composition: stream micro-batches feed a
    foreachBatch MERGE (relational.upsert) into a parquet state table,
    accumulating per-user counts/sums. Addition commutes, so whatever
    the file-arrival order, the final table must equal the batch
    aggregate EXACTLY (decimal accumulation, no float drift)."""
    from alternating_least_squares_spark.operators.relational import upsert

    src = load_table(spark, SF_SMALL, "events").select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props",
    )
    src_path = str(tmp_path / "events_src")
    state_path = str(tmp_path / "profile_state")
    ckpt = str(tmp_path / "merge_ckpt")
    src.repartition(4).write.mode("overwrite").parquet(src_path)

    state_schema = (
        "user_id long, n_events long, total_value decimal(38,10)"
    )

    def merge_batch(batch_df, batch_id):
        sess = batch_df.sparkSession
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast(
                "decimal(38,10)"
            ).alias("total_value"),
        )
        try:
            base = sess.read.parquet(state_path)
        except Exception:
            base = sess.createDataFrame([], state_schema)
        combined = (
            agg.join(
                base.select(
                    "user_id",
                    F.col("n_events").alias("_bn"),
                    F.col("total_value").alias("_bv"),
                ),
                "user_id",
                "left",
            )
            .select(
                "user_id",
                (F.col("n_events") + F.coalesce("_bn", F.lit(0)))
                .cast("long")
                .alias("n_events"),
                (
                    F.col("total_value")
                    + F.coalesce("_bv", F.lit(0).cast("decimal(38,10)"))
                )
                .cast("decimal(38,10)")
                .alias("total_value"),
            )
        )
        # localCheckpoint breaks lineage so overwriting the path we
        # just read from is legal and the merge is materialized first
        out = upsert(base, combined, "user_id").localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(state_path)

    (
        spark.readStream.schema(RAW_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(state_path).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast(
                "decimal(38,10)"
            ).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_stream_snapshot_sink_incremental_merge(spark, tmp_path):
    """foreachBatch → snapshot-table MERGE, forced through TWO
    micro-batches (two source files, maxFilesPerTrigger=1): final
    profiles must equal the one-shot batch aggregate (exactly-once,
    batch-boundary independent), and the table history must show one
    version per batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.sources.catalog import (
        normalize_events,
    )
    from alternating_least_squares_spark.streaming import (
        stream_upsert_profiles_to_snapshot,
    )

    src = tmp_path / "src"
    src.mkdir()
    # users 1/2 span both files; user 3 only in the second
    batches = [
        [(0, 1_000_000, 1, "view", 1.5, "{}"), (1, 2_000_000, 2, "view", 2.0, "{}")],
        [(2, 3_000_000, 1, "view", 0.25, "{}"), (3, 4_000_000, 3, "view", 4.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        pq.write_table(t, str(src / f"events_{i}.parquet"))

    schema = spark.read.parquet(str(src / "events_0.parquet")).schema
    stream = normalize_events(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    table_path = str(tmp_path / "profiles")
    out = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in stream_upsert_profiles_to_snapshot(
            stream, table_path
        ).collect()
    }
    assert out == {1: (2, 1.75), 2: (1, 2.0), 3: (1, 4.0)}
    hist = SN.history(table_path)
    assert len(hist) == 2  # one version per micro-batch
    assert hist[0]["operation"] == "create"
    assert hist[1]["operation"] == "merge"
    # time travel to the first batch boundary
    v0 = {
        r["user_id"]: r["n_events"]
        for r in SN.read_snapshot(spark, table_path, 0).collect()
    }
    assert v0 == {1: 1, 2: 1}


def test_incremental_ingest_ledger_processes_only_new_files(spark, tmp_path):
    """Run 1 ingests wave 1; run 2 (same checkpoint) must ingest
    EXACTLY the newly-arrived files; run 3 with nothing new ingests 0."""
    import os

    from alternating_least_squares_spark.streaming.events import (
        incremental_file_ingest,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    w1 = spark.range(0, 40).selectExpr("id", "id * 2 AS v")
    w2 = spark.range(40, 65).selectExpr("id", "id * 2 AS v")
    schema = w1.schema

    w1.write.mode("overwrite").parquet(src)
    assert incremental_file_ingest(spark, src, sink, ckpt, schema) == 40
    w2.write.mode("append").parquet(src)
    assert incremental_file_ingest(spark, src, sink, ckpt, schema) == 25
    assert incremental_file_ingest(spark, src, sink, ckpt, schema) == 0
    got = {r["id"] for r in spark.read.parquet(sink).collect()}
    assert got == set(range(65))


def test_late_data_beyond_watermark_is_dropped(spark, tmp_path):
    """The NEGATIVE watermark property (replay==batch only proves the
    happy path): an event arriving in a later micro-batch, older than
    the watermark, must be DROPPED — its already-finalized window is
    not re-opened and its value appears nowhere. At 100 TB this is
    what bounds state; without it every straggler reopens history."""
    from datetime import datetime

    path = str(tmp_path / "late_src")
    batch1 = [
        (datetime(2024, 1, 1, 10, 15), 1.0),
        (datetime(2024, 1, 1, 12, 0), 1.0),
    ]
    spark.createDataFrame(batch1, "ts timestamp, v double").coalesce(
        1
    ).write.mode("append").parquet(path)

    stream = spark.readStream.schema("ts timestamp, v double").parquet(path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark is now 11:00 (max 12:00 - 1h); the 09:30 event's
        # window closed an hour ago — it must be dropped, not re-emitted
        batch2 = [
            (datetime(2024, 1, 1, 9, 30), 100.0),
            (datetime(2024, 1, 1, 13, 0), 1.0),
        ]
        spark.createDataFrame(batch2, "ts timestamp, v double").coalesce(
            1
        ).write.mode("append").parquet(path)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM late_drop_test").collect()
    emitted = {r["w"]["start"].hour: (r["n"], r["total"]) for r in rows}
    assert emitted.get(10) == (1, 1.0)     # on-time window finalized once
    assert 9 not in emitted                # late event never reopens 09:00
    assert all(r["total"] < 100.0 for r in rows)  # 100.0 appears nowhere
    spark.catalog.dropTempView("late_drop_test")


def test_stream_admission_corpus_grows_between_runs(spark, tmp_path):
    """streaming/admission.py: a wave-2 doc that near-duplicates a doc
    ADMITTED in wave 1 (but absent from the base corpus) must be
    rejected — the admitted sink is part of the corpus state for later
    runs. Fresh wave-2 docs still land."""
    from alternating_least_squares_spark.streaming.admission import (
        admit_stream_run,
    )

    base = " ".join(f"tok{i}" for i in range(100))
    newdoc = " ".join(f"new{i}" for i in range(100))
    newdoc_var = " ".join(f"new{i}" for i in range(100)).replace(" ", "  ")
    corpus = spark.createDataFrame(
        [(1000, base)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    wave1 = spark.createDataFrame(
        [(0, base), (1, newdoc)], "doc_id long, text string"
    )
    wave1.write.parquet(src)
    n1 = admit_stream_run(spark, corpus, src, sink, ckpt)
    assert n1 == 1  # 0 duplicates the corpus; 1 is new

    wave2 = spark.createDataFrame(
        [(2, newdoc_var), (3, "entirely different text here okay")],
        "doc_id long, text string",
    )
    wave2.write.mode("append").parquet(src)
    n2 = admit_stream_run(spark, corpus, src, sink, ckpt)
    assert n2 == 1  # 2 duplicates wave-1-admitted doc 1; 3 is new

    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    )
    assert admitted == [1, 3]


def test_stream_drift_gate_matches_per_wave_batch_recompute(spark):
    """st12: the streamed two-wave drift gate must equal a BATCH
    recomputation of the same machinery per wave (shared _psi_terms,
    nano-floored terms, same gate), and each wave's verdicts must be
    independent — computed from that wave's population only."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark import registry as R
    from alternating_least_squares_spark.registry import (
        P04_DRIFT_GATE_NANO,
        _psi_terms,
        _quality_bucket,
    )
    from alternating_least_squares_spark.sources import load_table
    from tests.conftest import SF_SMALL

    got = {
        (r["doc_id"], r["wave"]): (r["source"], r["drift_nano"])
        for r in R.q_st12_stream_drift_gate(spark, SF_SMALL).collect()
    }
    assert got
    assert {w for _, w in got} == {0, 1}

    docs = load_table(spark, SF_SMALL, "documents").filter(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "doc_id", "source", _quality_bucket().alias("bucket")
    )
    batch = keyed.filter(F.col("doc_id") % 3 == 0)
    ref = keyed.filter(F.col("doc_id") % 3 != 0).select("bucket")
    want = {}
    for wave in (0, 1):
        wdf = batch.filter(F.col("doc_id") % 2 == wave)
        g, pa, pc = _psi_terms(wdf.select("source", "bucket"), ref)
        term = F.floor(
            (pa - pc) * F.col("lp_us") * 1_000
        ).cast("long")
        drift = {
            r["source"]: r["d"]
            for r in g.select("source", term.alias("t"))
            .groupBy("source")
            .agg(F.sum("t").cast("long").alias("d"))
            .collect()
        }
        for r in wdf.collect():
            d = drift[r["source"]]
            if d <= P04_DRIFT_GATE_NANO:
                want[(r["doc_id"], wave)] = (r["source"], d)
    assert got == want


def test_stream_drift_gate_all_rejected_returns_zero_rows(
    spark, monkeypatch
):
    """ADVICE r11: if the gate rejects EVERY source in both waves
    (plausible at untested SFs — the nano threshold's meaning shifts
    with scale factor), foreachBatch appends no data files; the final
    read must return the honest zero-row answer with the output
    schema, not a missing-path error."""
    from alternating_least_squares_spark import registry as R
    from tests.conftest import SF_SMALL

    monkeypatch.setattr(
        R, "P04_DRIFT_GATE_NANO", -1_000_000_000_000
    )
    out = R.q_st12_stream_drift_gate(spark, SF_SMALL)
    assert out.columns == ["doc_id", "source", "wave", "drift_nano"]
    assert out.count() == 0


def test_stream_budget_admission_matches_python_replay(spark):
    """st13: two availableNow waves spending one per-source token
    budget — wave 1's cut must start from wave 0's spend (arrival
    order trumps hash order across waves), and within each wave the
    x22 hash-order admission rule holds exactly."""
    import hashlib

    from pyspark.sql import functions as F

    from alternating_least_squares_spark import registry as R
    from alternating_least_squares_spark.sources import load_table
    from tests.conftest import SF_SMALL

    got = {
        r["doc_id"]: (r["source"], r["n_tok"], r["wave"])
        for r in R.q_st13_stream_budget_admission(
            spark, SF_SMALL
        ).collect()
    }

    docs = [
        (r["doc_id"], r["source"], len(r["text"].split()))
        for r in load_table(spark, SF_SMALL, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
        .collect()
    ]
    want = {}
    spent: dict[str, int] = {}
    for wave in (0, 1):
        by_source: dict[str, list] = {}
        for doc_id, source, n_tok in docs:
            if doc_id % 2 == wave:
                h = hashlib.md5(f"budget:{doc_id}".encode()).hexdigest()
                by_source.setdefault(source, []).append(
                    (h, doc_id, n_tok)
                )
        for source, rows in by_source.items():
            cum = 0
            for h, doc_id, n_tok in sorted(rows):
                if spent.get(source, 0) + cum >= R.X22_BUDGET_TOKENS:
                    break
                want[doc_id] = (source, n_tok, wave)
                cum += n_tok
            spent[source] = spent.get(source, 0) + cum
    assert got == want
    # wave 0 must have consumed budget wave 1 can no longer use
    assert {w for _, _, w in got.values()} == {0, 1}


def test_st14_ledger_is_wave_partition_invariant_and_idempotent(
    spark, tmp_path
):
    """Bottom-k is a mergeable sketch: a 3-way wave split must yield
    the same ledger as the one-shot batch draw, and re-applying a
    wave (at-least-once redelivery) must leave the ledger unchanged."""
    from alternating_least_squares_spark.registry import (
        _st14_apply_wave,
        _x23_keyed,
        X23_K,
    )
    from alternating_least_squares_spark.sources import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    sink = str(tmp_path / "ledger")
    spark.createDataFrame(
        [], "doc_id long, w long, sample_key string"
    ).write.mode("overwrite").parquet(sink)

    waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for wdf in waves:
        _st14_apply_wave(spark, sink, wdf)

    def ledger():
        return sorted(
            (r["doc_id"], r["w"], r["sample_key"])
            for r in spark.read.parquet(sink).collect()
        )

    want = sorted(
        (r["doc_id"], r["w"], r["sample_key"])
        for r in _x23_keyed(docs)
        .orderBy("sample_key", "doc_id")
        .limit(X23_K)
        .collect()
    )
    three_way = ledger()
    assert three_way == want  # split-invariance (replay == batch)

    _st14_apply_wave(spark, sink, waves[1])  # redeliver wave 1
    assert ledger() == three_way  # idempotent


def test_st14_ledger_swap_commit_recovers_every_crash_point(
    spark, tmp_path
):
    """ADVICE r14 regression: the ledger commit is write-tmp +
    atomic rename swap, never overwrite-in-place — a crash at ANY
    point of the protocol must leave a complete ledger that
    _st14_read_ledger recovers. Simulates the three post-crash
    states directly."""
    import os
    import shutil

    from alternating_least_squares_spark.registry import (
        _ST14_LEDGER_SCHEMA,
        _st14_apply_wave,
        _st14_read_ledger,
    )
    from alternating_least_squares_spark.sources import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    sink = str(tmp_path / "ledger")
    spark.createDataFrame([], _ST14_LEDGER_SCHEMA).write.mode(
        "overwrite"
    ).parquet(sink)
    _st14_apply_wave(spark, sink, docs.filter(F.col("doc_id") % 2 == 0))

    def rows(df):
        return sorted(
            (r["doc_id"], r["w"], r["sample_key"]) for r in df.collect()
        )

    committed = rows(spark.read.parquet(sink))
    assert committed  # wave 0 actually landed

    # crash state 1: mid tmp-write (no _SUCCESS yet) — sink intact,
    # partial tmp must be ignored
    os.makedirs(sink + ".tmp", exist_ok=True)
    open(sink + ".tmp/part-partial.parquet", "wb").write(b"junk")
    assert rows(_st14_read_ledger(spark, sink)) == committed
    shutil.rmtree(sink + ".tmp")

    # crash state 2: between the renames — sink gone, complete
    # NEWER tmp (with _SUCCESS) present, old holds the previous state
    spark.createDataFrame(
        [(1, 7, "aa")], _ST14_LEDGER_SCHEMA
    ).write.mode("overwrite").parquet(sink + ".tmp")
    os.rename(sink, sink + ".old")
    assert rows(_st14_read_ledger(spark, sink)) == [(1, 7, "aa")]
    assert os.path.exists(sink) and not os.path.exists(sink + ".tmp")
    shutil.rmtree(sink + ".old")

    # crash state 3: tmp write died before job commit AND sink was
    # already renamed (cannot happen in protocol order, but recovery
    # must still prefer the complete .old over the junk tmp)
    os.rename(sink, sink + ".old")
    os.makedirs(sink + ".tmp", exist_ok=True)
    open(sink + ".tmp/part-partial.parquet", "wb").write(b"junk")
    assert rows(_st14_read_ledger(spark, sink)) == [(1, 7, "aa")]
    shutil.rmtree(sink + ".tmp")


def test_st15_late_rows_are_dropped_and_the_delta_is_exactly_them(
    spark,
):
    """VERDICT r14 #5 regression: the watermark must actually DROP
    the planted late wave. Three-way pin: (1) the streaming sink
    equals the batch aggregate over the on-time universe alone;
    (2) the batch aggregate over (on-time + late) differs from the
    sink ONLY in the earliest window; (3) the dropped row count is
    exactly ST15_N_LATE."""
    from alternating_least_squares_spark.registry import (
        ST15_N_LATE,
        _st15_late_rows,
        _st15_real_events,
        q_st15_watermark_late_drop,
    )
    from tests.conftest import SF_SMALL

    def agg(df):
        return {
            (r["win_start_us"], r["win_end_us"], r["event_type"]): (
                r["n_events"], r["total_value"],
            )
            for r in df.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
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
            .collect()
        }

    got = {
        (r["win_start_us"], r["win_end_us"], r["event_type"]): (
            r["n_events"], r["total_value"],
        )
        for r in q_st15_watermark_late_drop(spark, SF_SMALL).collect()
    }
    ev = _st15_real_events(spark, SF_SMALL)
    mn = ev.agg(F.min("ts").alias("mn")).collect()[0]["mn"]
    late = _st15_late_rows(ev, mn)

    batch_on_time = agg(ev)
    assert got == batch_on_time  # (1) stream == on-time batch

    batch_all = agg(ev.unionByName(late))
    changed = {
        k for k in batch_all
        if batch_all[k] != batch_on_time.get(k)
    }
    win_start_of_mn = min(k[0] for k in batch_on_time)
    assert changed and all(k[0] == win_start_of_mn for k in changed)  # (2)
    dropped = sum(
        batch_all[k][0] - batch_on_time.get(k, (0, 0.0))[0]
        for k in changed
    )
    assert dropped == ST15_N_LATE  # (3)


def test_st16_outer_nulls_are_deferred_to_the_watermark(spark, tmp_path):
    """VERDICT r15 #3 pin: in the watermarked LEFT OUTER stream-stream
    join, an unmatched click's NULL row is emitted by watermark
    EVICTION, not at arrival — so after wave 1 (all real events,
    watermark = max(ts) − 1 h) the sink holds NULL rows only for
    unmatched clicks whose match window closed (click_ts < max − 2 h),
    none for the deferred tail, and after wave 2 (the sentinel push)
    the sink equals the full batch left join with exactly one row per
    deferred click. Both premise sets are vacuity-guarded."""
    import datetime

    from alternating_least_squares_spark.streaming import (
        attribution_join_stream,
    )

    real = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b = real.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    mn, mx = b["mn"], b["mx"]
    # two planted clicks under users that never purchase, so each is
    # provably unmatched: one inside the deferred tail (mx − 30 min,
    # its window still open at wave-1's watermark) and one far before
    # the cutoff (mn, evicted in wave 1) — the guards below then pin
    # real semantics instead of depending on where sf0.001's
    # regenerated rows happen to fall
    planted = spark.createDataFrame(
        [
            (999_000_001, mx - datetime.timedelta(minutes=30), -99,
             "click", 0.0),
            (999_000_002, mn, -98, "click", 0.0),
        ],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    ev = real.unionByName(planted)

    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    full = {
        (r["click_id"], r["purchase_id"])
        for r in clicks_b.alias("c")
        .join(
            purch_b.alias("p"),
            F.expr(
                "c.user_id = p.user_id AND p.ts >= c.ts "
                "AND p.ts <= c.ts + interval 1 hour"
            ),
            "left_outer",
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
        .collect()
    }
    unmatched = {c for c, p in full if p is None}
    cutoff = mx - datetime.timedelta(hours=2)
    click_ts = {
        r["event_id"]: r["ts"] for r in clicks_b.collect()
    }
    deferred = {c for c in unmatched if click_ts[c] > cutoff}
    early = {c for c in unmatched if click_ts[c] < cutoff}
    assert deferred, "no unmatched click in the last 2 h: vacuous"
    assert early, "no unmatched click before max-2h: vacuous"

    src, sink, ckpt = (
        str(tmp_path / d) for d in ("src", "sink", "_ckpt")
    )
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )

    def run():
        c = (
            spark.readStream.schema(schema).parquet(src)
            .filter(F.col("event_type") == "click")
        )
        p = (
            spark.readStream.schema(schema).parquet(src)
            .filter(F.col("event_type") == "purchase")
        )
        q = (
            attribution_join_stream(c, p, horizon="1 hour", how="left_outer")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["click_id"], r["purchase_id"])
            for r in spark.read.parquet(sink).collect()
        }

    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(nodata_key)
    try:
        spark.conf.set(nodata_key, "true")
        ev.write.mode("append").parquet(src)
        wave1 = run()
        # matches all emitted at arrival; deferred tail absent
        assert {pr for pr in full if pr[1] is not None} <= wave1
        wave1_nulls = {c for c, p in wave1 if p is None}
        assert wave1_nulls.isdisjoint(deferred)
        assert wave1_nulls  # early eviction DID emit in wave 1
        sentinels = spark.createDataFrame(
            [
                (-1, mx + datetime.timedelta(hours=3), -1, "click", 0.0),
                (-2, mx + datetime.timedelta(hours=3), -2, "purchase", 0.0),
            ],
            schema,
        )
        sentinels.write.mode("append").parquet(src)
        wave2 = run()
    finally:
        spark.conf.set(nodata_key, saved)
    # the flush completes the batch left join exactly — every deferred
    # click now has its single NULL row, no sentinel leaked, no dupes
    assert wave2 == full
    assert {c for c, p in wave2 if p is None} == unmatched


def test_erasure_batch_redelivery_is_idempotent(spark, tmp_path):
    """st17's ledger (VERDICT r16 #6): foreachBatch is at-least-once —
    re-applying an already-committed erasure batch id commits nothing
    (no new version), an empty batch commits nothing, and out-of-order
    stale ids are skipped."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming.events import (
        _apply_erasure_batch,
    )

    path = str(tmp_path / "t")
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, path, key="k")
    b0 = spark.createDataFrame([(3,), (5,)], "k long")
    b1 = spark.createDataFrame([(7,)], "k long")
    empty = spark.createDataFrame([], "k long")

    def erase(batch, batch_id, feed):
        ledger = fresh_ledger(path, "erasure", feed)
        return _apply_erasure_batch(batch, batch_id, ledger)

    assert erase(b0, 0, "feedA") is True
    assert erase(b0, 0, "feedA") is False  # redelivered
    assert erase(empty, 1, "feedA") is False  # no-data
    assert erase(b1, 2, "feedA") is True
    assert erase(b1, 1, "feedA") is False  # stale id
    assert SN._list_versions(path) == [0, 1, 2]
    live = {r["k"] for r in SN.read_snapshot(spark, path).collect()}
    assert live == set(range(20)) - {3, 5, 7}
    # a NEW checkpoint lineage restarts batch ids at 0 — its batches
    # must NOT be skipped against feedA's stamps (review r17: a
    # table-scoped bare batch id silently dropped them); the re-apply
    # of already-erased keys is a harmless idempotent no-op commit,
    # and genuinely new keys erase
    b2 = spark.createDataFrame([(7,), (11,)], "k long")
    assert erase(b2, 0, "feedB") is True
    live = {r["k"] for r in SN.read_snapshot(spark, path).collect()}
    assert live == set(range(20)) - {3, 5, 7, 11}
    # and feedA's OWN ledger is untouched by feedB's commit
    assert erase(b1, 2, "feedA") is False


def test_streaming_erasure_equals_batch_delete(spark, tmp_path):
    """Replayed erasure feed == one-shot copy-on-write delete_keys on
    the same key set — and every streaming commit was merge-on-read
    (creation file list carried byte-identical)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_erase_keys_from_snapshot,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    SN.create_table(base.repartitionByRange(4, "k"), mor, key="k")
    SN.create_table(base.repartitionByRange(4, "k"), cow, key="k")
    files0 = [f["path"] for f in SN._read_manifest(mor, 0)["files"]]

    keys = base.filter(F.col("k") % 9 == 4).select("k")
    req = str(tmp_path / "req")
    for w in range(2):
        keys.filter(F.col("k") % 2 == w).repartition(1).write.mode(
            "append"
        ).parquet(req)
    n = stream_erase_keys_from_snapshot(
        spark, req, str(tmp_path / "ckpt"), mor,
        T.StructType([T.StructField("k", T.LongType())]),
    )
    assert n == 2
    SN.delete_keys(cow, keys)
    got = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, mor).collect()}
    want = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, cow).collect()}
    assert got == want
    for v in SN._list_versions(mor)[1:]:
        m = SN._read_manifest(mor, v)
        assert [f["path"] for f in m["files"]] == files0
        assert m["operation"] == "delete_dv"


def test_ledger_legacy_bare_stamp_fallback(spark, tmp_path):
    """Migration gap (ADVICE r18): a table written by the pre-r17 sink
    stamped a bare batch id with no feed key. A CONTINUING legacy
    checkpoint can only redeliver exactly the stamped id, so the
    fallback skips equality — and only equality — instead of
    re-applying (double-summing) or skipping a fresh lineage's work."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming.events import (
        _apply_erasure_batch,
        _apply_profile_batch,
    )

    # --- erasure sink over a legacy-stamped table
    path = str(tmp_path / "legacy_erasure")
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, path, key="k")
    SN.delete_keys_dv(
        path,
        spark.createDataFrame([(1,)], "k long"),
        extra={"erasure_batch_id": 4},  # pre-r17 bare stamp
    )
    b = spark.createDataFrame([(3,)], "k long")
    # exact legacy redelivery: skipped
    assert _apply_erasure_batch(
        b, 4, fresh_ledger(path, "erasure", "feedX")
    ) is False
    # the continuing feed's NEXT batch applies and stamps feed-scoped
    assert _apply_erasure_batch(
        b, 5, fresh_ledger(path, "erasure", "feedX")
    ) is True
    m = SN._read_manifest(path, SN._list_versions(path)[-1])
    assert m["erasure_feed"] == "feedX" and m["erasure_batch_id"] == 5
    # a different id against the legacy stamp is a fresh lineage:
    # applies (harmless idempotent re-erase), never silently dropped
    path2 = str(tmp_path / "legacy_erasure2")
    SN.create_table(base, path2, key="k")
    SN.delete_keys_dv(
        path2,
        spark.createDataFrame([(1,)], "k long"),
        extra={"erasure_batch_id": 4},
    )
    assert _apply_erasure_batch(
        b, 0, fresh_ledger(path2, "erasure", "feedY")
    ) is True

    # --- profile sink: the dangerous direction is double-summing
    ppath = str(tmp_path / "legacy_profile")
    ev = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "user_id long, value double"
    )
    dec = "decimal(38,10)"
    prof = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(dec)).cast(dec).alias("total_value"),
    )
    SN.create_table(prof, ppath, key="user_id", extra={"batch_id": 4})
    before = {
        (r["user_id"], r["n_events"])
        for r in SN.read_snapshot(spark, ppath).collect()
    }
    # redelivered legacy batch: skipped, nothing double-summed
    _apply_profile_batch(ev, 4, fresh_ledger(ppath, "profile", "newfeed"))
    assert SN._list_versions(ppath) == [0]
    after = {
        (r["user_id"], r["n_events"])
        for r in SN.read_snapshot(spark, ppath).collect()
    }
    assert after == before
    # the next batch applies normally and stamps feed-scoped
    _apply_profile_batch(ev, 5, fresh_ledger(ppath, "profile", "newfeed"))
    m = SN._read_manifest(ppath, SN._list_versions(ppath)[-1])
    assert m["profile_feed"] == "newfeed" and m["batch_id"] == 5


def test_ledger_cold_scan_bounded(spark, tmp_path, monkeypatch):
    """The ledger's per-run bounds cap its walk — a fresh feed over a
    DEEP version history pays the cold O(versions) manifest scan at
    most once per run, and after the feed's first commit the steady
    state is ZERO manifest reads."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import events as EV

    path = str(tmp_path / "deep")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, path, key="k")
    for i in range(12):  # deep history from another writer
        SN.delete_keys_dv(path, spark.createDataFrame([(i,)], "k long"))
    nversions = len(SN._list_versions(path))
    assert nversions == 13

    reads = []
    real = SN._read_manifest
    monkeypatch.setattr(
        SN, "_read_manifest", lambda p, v: reads.append(v) or real(p, v)
    )
    ledger = fresh_ledger(path, "erasure", "f1")
    b = spark.createDataFrame([(30,)], "k long")
    # no-stamp cold scan: walks the full history once...
    assert ledger.applied(0) is False
    cold = len(reads)
    assert cold == nversions
    # ...and the floor makes the next pre-commit check read nothing new
    assert ledger.applied(0) is False
    assert len(reads) == cold
    # after the feed's own first commit the ledger answers directly
    assert EV._apply_erasure_batch(b, 0, ledger) is True
    reads.clear()
    assert ledger.applied(0) is True
    assert ledger.applied(1) is False
    assert reads == []  # steady state: zero manifest reads


def test_cdc_batch_redelivery_is_idempotent(spark, tmp_path):
    """st18's ledger: re-applying an already-committed CDC batch id
    commits nothing; the stamp rides the batch's FINAL commit so a
    merge-without-delete crash never marks the batch done; and a
    fresh feed's re-apply is CONTENT-idempotent (feed rows carry
    materialized values, not expressions)."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming.events import (
        _apply_cdc_batch,
    )

    path = str(tmp_path / "replica")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, path, key="k")
    batch = spark.createDataFrame(
        [(3, "update", 333), (99, "insert", 990), (5, "delete", None)],
        "k long, change_type string, v long",
    )

    def apply(batch, batch_id, feed):
        ledger = fresh_ledger(path, "cdc", feed)
        return _apply_cdc_batch(batch, batch_id, ledger)

    assert apply(batch, 0, "feedA") is True
    vs = SN._list_versions(path)
    assert [SN._read_manifest(path, v)["operation"] for v in vs[1:]] == [
        "merge", "delete_dv",
    ]
    state = {
        (r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()
    }
    assert (3, 333) in state and (99, 990) in state
    assert 5 not in {k for k, _ in state}
    # redelivered and stale ids: nothing committed
    assert apply(batch, 0, "feedA") is False
    assert SN._list_versions(path) == vs
    empty = spark.createDataFrame([], "k long, change_type string, v long")
    assert apply(empty, 1, "feedA") is False
    # a fresh checkpoint lineage re-applies the same materialized
    # values: new versions, UNCHANGED content
    assert apply(batch, 0, "feedB") is True
    assert {
        (r["k"], r["v"]) for r in SN.read_snapshot(spark, path).collect()
    } == state


def test_cdc_stream_fresh_checkpoint_reapply(spark, tmp_path):
    """End-to-end st18 property: replaying the whole change feed from
    a FRESH checkpoint over an already-synced replica applies every
    batch again (new feed id — never compared to the old lineage) and
    leaves the content exactly where it was."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_cdc_apply_to_snapshot,
    )

    src = str(tmp_path / "src")
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, src, key="k")
    SN.merge_upsert(
        spark.createDataFrame([(2, 222), (40, 400)], "k long, v long"), src
    )
    SN.delete_keys(src, spark.createDataFrame([(7,), (8,)], "k long"))

    replica = str(tmp_path / "replica")
    SN.create_table(SN.read_snapshot(spark, src, version=0), replica, key="k")
    req = str(tmp_path / "changes")
    os.makedirs(req)
    for i, (a, b) in enumerate([(0, 1), (1, 2)]):
        wave = SN.diff_versions(spark, src, a, b).select(
            "k", "change_type", F.col("v_new").alias("v")
        )
        tmp = str(tmp_path / f"_w{i}")
        wave.repartition(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(req, f"wave{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i,) * 2)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("change_type", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    n1 = stream_cdc_apply_to_snapshot(
        spark, req, str(tmp_path / "ck1"), replica, schema
    )
    assert n1 == 2
    want = {(r["k"], r["v"]) for r in SN.read_snapshot(spark, src).collect()}
    got = {
        (r["k"], r["v"]) for r in SN.read_snapshot(spark, replica).collect()
    }
    assert got == want
    # same checkpoint: everything already applied, zero new batches
    assert stream_cdc_apply_to_snapshot(
        spark, req, str(tmp_path / "ck1"), replica, schema
    ) == 0
    # fresh checkpoint: re-applies all waves, content unchanged
    n2 = stream_cdc_apply_to_snapshot(
        spark, req, str(tmp_path / "ck2"), replica, schema
    )
    assert n2 == 2
    assert {
        (r["k"], r["v"]) for r in SN.read_snapshot(spark, replica).collect()
    } == want


def test_ledger_feed_stamp_wins_over_newer_legacy(spark, tmp_path):
    """Review r18: a mixed-version deployment interleaves feed-scoped
    and legacy bare stamps. The feed's OWN stamp deeper in the walk
    must win over a legacy stamp above it (else a redelivered summing
    batch re-applies), and only the NEWEST legacy stamp participates
    in the equality fallback."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming.events import (
        _apply_erasure_batch,
    )

    path = str(tmp_path / "t")
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    SN.create_table(base, path, key="k")

    def erase(key, batch_id):
        return _apply_erasure_batch(
            spark.createDataFrame([(key,)], "k long"),
            batch_id,
            fresh_ledger(path, "erasure", "F"),
        )

    # upgraded sink commits feed-scoped batch 5...
    assert erase(1, 5) is True
    # ...then a not-yet-upgraded writer stamps a bare batch_id above it
    SN.delete_keys_dv(
        path,
        spark.createDataFrame([(2,)], "k long"),
        extra={"erasure_batch_id": 3},
    )
    # F's batch 5 redelivered: must be SKIPPED (scoped stamp wins)
    assert erase(1, 5) is False
    # and F's next batch still applies
    assert erase(3, 6) is True

    # only the NEWEST legacy stamp participates: legacy stamps 3 (old)
    # then 7 (new); a fresh feed's batch 3 must NOT match the deep one
    path2 = str(tmp_path / "t2")
    SN.create_table(base, path2, key="k")
    SN.delete_keys_dv(
        path2, spark.createDataFrame([(1,)], "k long"),
        extra={"erasure_batch_id": 3},
    )
    SN.delete_keys_dv(
        path2, spark.createDataFrame([(2,)], "k long"),
        extra={"erasure_batch_id": 7},
    )
    assert fresh_ledger(path2, "erasure", "G").applied(3) is False
    assert fresh_ledger(path2, "erasure", "G").applied(7) is True


def test_cdc_batch_rejects_unclassifiable_change_type(spark, tmp_path):
    """Review r18: NULL or misspelled change_type must fail the batch
    loudly before anything commits — a NULL row would vanish from
    both filters and a 'DELETE' would merge as an upsert."""
    from pyspark.sql import functions as F

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming.events import (
        _apply_cdc_batch,
    )

    path = str(tmp_path / "replica")
    SN.create_table(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        path,
        key="k",
    )
    import pytest

    for bad_type in (None, "DELETE", "remove"):
        batch = spark.createDataFrame(
            [(1, "update", 11), (2, bad_type, 22)],
            "k long, change_type string, v long",
        )
        with pytest.raises(
            ValueError, match=f"unclassifiable change_type {bad_type!r} "
        ):
            _apply_cdc_batch(batch, 0, fresh_ledger(path, "cdc", "feedA"))
    assert SN._list_versions(path) == [0]  # nothing committed


def test_streaming_fold_policy_redelivery_and_content(spark, tmp_path):
    """st19: the fold commit (no feed stamp) must not break the
    erasure ledger — a redelivered batch after a fold is still
    skipped because the walk passes the cluster_optimize manifest to
    the stamped delete below — and fold-under-streaming is
    content-neutral vs the one-shot batch erasure."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from alternating_least_squares_spark.sources import snapshot as SN
    from alternating_least_squares_spark.streaming import (
        stream_erase_with_auto_fold,
    )
    from alternating_least_squares_spark.streaming.events import (
        _apply_erasure_batch,
    )

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    table = str(tmp_path / "t")
    SN.create_table(base.repartitionByRange(4, "k"), table, key="k")
    req = str(tmp_path / "req")
    # waves of 5, 20, 3 keys; threshold = wave-1 debt (5%) so wave 2
    # folds (25% > 5%) and waves 1/3 decline (wave 3 is 3/75 = 4%
    # of the post-fold live rows — the denominator SHRINKS at a fold)
    waves = [range(0, 5), range(10, 30), range(40, 43)]
    seen: set[str] = set()
    for i, w in enumerate(waves):
        spark.createDataFrame([(k,) for k in w], "k long").repartition(
            1
        ).write.mode("append").parquet(req)
        # stamp the file THIS wave wrote, so the file source lists the
        # waves in write order
        listing = set(os.listdir(req))
        (new,) = [f for f in listing - seen if f.endswith(".parquet")]
        seen = listing
        os.utime(os.path.join(req, new), (1_700_000_000 + i,) * 2)
    n, folds = stream_erase_with_auto_fold(
        spark, req, str(tmp_path / "ck"), table,
        T.StructType([T.StructField("k", T.LongType())]),
        threshold_ppm=5 * 1_000_000 // 100, n_files=4,
    )
    assert n == 3
    assert [b for b, _ in folds] == [1]  # only the 20-key wave folds
    ops = [
        SN._read_manifest(table, v)["operation"]
        for v in SN._list_versions(table)[1:]
    ]
    assert ops == ["delete_dv", "delete_dv", "cluster_optimize", "delete_dv"]
    # content == one-shot erasure of all 30 keys
    live = {r["k"] for r in SN.read_snapshot(spark, table).collect()}
    erased = set(range(0, 5)) | set(range(10, 30)) | set(range(40, 43))
    assert live == set(range(100)) - erased
    # redelivery of the LAST batch (stamped delete sits under nothing)
    # and of a batch whose stamp sits BELOW the fold commit: both skip
    b2 = spark.createDataFrame([(42,)], "k long")
    feed = _feed(tmp_path)
    assert _apply_erasure_batch(
        b2, 2, fresh_ledger(table, "erasure", feed)
    ) is False
    b1 = spark.createDataFrame([(29,)], "k long")
    assert _apply_erasure_batch(
        b1, 1, fresh_ledger(table, "erasure", feed)
    ) is False


def _feed(tmp_path) -> str:
    """The checkpoint feed id minted by the stream above."""
    from alternating_least_squares_spark.streaming.events import (
        _checkpoint_feed_id,
    )

    return _checkpoint_feed_id(str(tmp_path / "ck"))


def test_foreach_batch_runs_only_in_the_runner():
    """Every foreachBatch query in the package starts in
    ``streaming.events.run_available_now``: ``.foreachBatch(`` appears
    nowhere else in its sources."""
    import ast
    import pathlib

    import alternating_least_squares_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        defs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            for _ in range(line.count(".foreachBatch(")):
                inner = max(
                    (d for d in defs if d.lineno <= i <= d.end_lineno),
                    key=lambda d: d.lineno,
                    default=None,
                )
                sites.append(
                    (
                        path.relative_to(root).as_posix(),
                        inner.name if inner else None,
                    )
                )
    assert sites == [("streaming/events.py", "run_available_now")]


def test_pair_scoring_lives_only_in_similarity():
    """Every vector search scores pairs through
    ``similarity.pair_cosine``: no other package module calls
    ``vec_dot``, and no per-pair-norm ``cosine`` is defined."""
    import ast
    import pathlib

    import alternating_least_squares_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    dot_calls, cosine_defs = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name == "vec_dot" and rel != "functions/similarity.py":
                    dot_calls.append((rel, node.lineno))
            elif (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name == "cosine"
            ):
                cosine_defs.append((rel, node.lineno))
    assert dot_calls == [] and cosine_defs == []


# Spark jobs each streaming query starts at SF_SMALL, its result's
# collect included.
STREAM_QUERY_JOBS = {
    "st08_stream_snapshot_sink": 6,
    "st09_incremental_ingest": 15,
    "st10_stream_admission": 45,
    "st12_stream_drift_gate": 24,
    "st13_stream_budget_admission": 14,
    "st14_stream_weighted_sample": 15,
    "st17_streaming_erasure": 40,
    "st18_streaming_cdc_apply": 87,
    "st19_streaming_fold_policy": 60,
}


@pytest.mark.parametrize("name", sorted(STREAM_QUERY_JOBS))
def test_streaming_query_job_count(spark, name):
    """Pins each streaming query's job count. foreachBatch jobs run in
    the stream's own job group, so the count is taken over the call's
    window from the status store, after the listener bus drains."""
    from alternating_least_squares_spark.registry import queries

    jsc = spark.sparkContext._jsc.sc()

    def job_ids() -> set[int]:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    rows = queries()[name](spark, SF_SMALL).collect()
    assert rows
    assert len(job_ids() - before) == STREAM_QUERY_JOBS[name]
