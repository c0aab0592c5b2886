"""Structured Streaming over the ``events`` table.

The reference has no streaming surface (verified across all 12 files —
SURVEY.md §2.D); this module is the net-new extension the brief asks
for, built on Spark's native machinery:

* file-source stream (``readStream.parquet``) with the batch
  catalog's read schema and timestamp handling,
* event-time **watermarks** so state for late data is bounded,
* **tumbling windows** (``F.window``) for time-bucketed aggregates,
* **session windows** (``F.session_window``) for gap-based
  sessionization — the stateful operator Spark provides natively, no
  ``applyInPandasWithState`` needed for these semantics.

Everything is expressed so that replaying the whole table through the
stream (``Trigger.AvailableNow``) produces byte-identical results to
the batch query — that property is oracle-checked by the driver
(``st01``/``st02`` in the registry run the stream to completion and
compare against plain DuckDB SQL).

At scale: the stream shuffles once per aggregation on the grouping
key; state lives in the executor state store keyed by (window, key)
and the watermark evicts closed windows, so state size is bounded by
(active windows × keys), not by history length.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import events_read_schema, normalize_events


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with the catalog's column
    contract: ``ts`` (micros TimestampType) + ``ts_ns`` (raw long), read
    with the batch catalog's schema (``events_read_schema``)."""
    schema = events_read_schema(spark, os.path.join(sf_dir, "events.parquet"))
    return normalize_events(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def hourly_value_stream(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time windows: per (window, event_type) totals.

    The watermark bounds aggregation state: windows older than
    (max event time − watermark) are finalized and evicted. Decimal
    accumulation + final round, same as the batch e01 query, so the
    result is independent of partial-aggregation order.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hopping_value_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Hopping (sliding) event-time windows: per (window, event_type)
    totals where windows of length ``window`` start every ``slide`` —
    the rolling-metrics shape every dashboard pipeline hits (e.g. a
    1-hour metric refreshed every 30 minutes).

    Each event belongs to ``window/slide`` overlapping windows;
    ``F.window`` with a slide expands them ONCE per event before the
    aggregation (a narrow generator — the shuffle stays one exchange
    keyed by (window, event_type), and state is bounded by the
    watermark exactly as in the tumbling case, just ×(window/slide)
    active windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based sessionization with ``F.session_window`` — Spark's
    native stateful session operator (state = one open session per
    user, merged on overlap, closed by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,10)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def attribution_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with event-time bounds: each purchase
    matched to the same user's clicks in the preceding ``horizon``
    (click-attribution topology).

    Both sides are watermarked and the join condition bounds purchase
    time to [click_ts, click_ts + horizon], so Spark can evict join
    state once the watermark passes a row's match window — state is
    O(events per horizon), not O(stream history). That bound is what
    makes a stream-stream join runnable on an unbounded feed; without
    the time condition Spark must buffer both streams forever.
    Stream-stream joins support append mode only.

    ``how="left_outer"`` adds watermark-DEFERRED NULL emission: an
    unmatched click is held in state until the global watermark
    passes ``click_ts + horizon`` (only then is "no purchase can
    still arrive" provable), at which point eviction emits it once
    with NULL purchase columns. Matched rows still emit immediately —
    the deferral applies only to the outer NULLs, which is exactly
    the semantics st16 certifies wave-by-wave.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {horizon}"
        ),
        how,
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
    )


def run_available_now(
    stream: DataFrame, checkpoint_dir: str, on_batch
) -> None:
    """Run ``on_batch(batch_df, batch_id)`` over every batch ``stream``
    holds that the checkpoint has not seen (``Trigger.AvailableNow``),
    then return. The package's one foreachBatch query."""
    (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )


# (feed_key, id_key) stamp of each ledgered snapshot sink
_PROFILE_STAMP = ("profile_feed", "batch_id")
_ERASURE_STAMP = ("erasure_feed", "erasure_batch_id")
_CDC_STAMP = ("cdc_feed", "cdc_batch_id")


class _FeedLedger:
    """Exactly-once batch ledger of one feed on one snapshot table.

    foreachBatch is at-least-once, so each commit carries
    :meth:`stamp` — ``{feed_key: feed_id, id_key: batch_id}``, Delta's
    ``(txnAppId, txnVersion)`` — and :meth:`applied` skips a batch id
    at or below the feed's newest stamp. The feed id is the
    checkpoint's query id, so a new checkpoint (batch ids restart at 0)
    re-applies instead of being compared to another feed's stamps.

    The walk goes newest-first, and the feed's own stamp anywhere in it
    wins. Without one, only the NEWEST bare ``id_key`` stamp (no
    ``feed_key``: the pre-feed format) counts, and only on equality: a
    continuing legacy checkpoint can redeliver exactly that id.
    ``last`` (the feed's newest stamp, once seen or recorded) makes
    the steady state zero manifest reads; ``floor`` (newest version
    walked without a stamp) holds the cold walk to once per run."""

    def __init__(
        self, table_path: str, feed_key: str, id_key: str, feed_id: str
    ) -> None:
        self.table_path = table_path
        self.feed_key, self.id_key, self.feed_id = feed_key, id_key, feed_id
        self.last: int | None = None
        self.floor = -1

    def applied(self, batch_id: int) -> bool:
        from ..sources import snapshot as SN

        if self.last is not None:
            return batch_id <= self.last
        versions = SN._list_versions(self.table_path)
        legacy_skip = None
        feed_key, id_key = self.feed_key, self.id_key
        for v in reversed(versions):
            if v <= self.floor:
                break
            m = SN._read_manifest(self.table_path, v)
            if m.get(feed_key) == self.feed_id:
                self.last = m[id_key]
                return batch_id <= self.last
            if legacy_skip is None and feed_key not in m and id_key in m:
                legacy_skip = batch_id == m[id_key]
        if legacy_skip is not None:
            return legacy_skip
        self.floor = versions[-1] if versions else -1
        return False

    def stamp(self, batch_id: int) -> dict:
        return {self.feed_key: self.feed_id, self.id_key: batch_id}

    def record(self, batch_id: int) -> None:
        self.last = batch_id


def _checkpoint_feed_id(checkpoint_dir: str) -> str:
    """The checkpoint's query id: Spark writes it to
    ``<checkpoint>/metadata`` when the stream first starts and keeps it
    for the checkpoint's lifetime. ``file:`` URIs are accepted."""
    import json

    from ..sources.snapshot import _local_path

    with open(os.path.join(_local_path(checkpoint_dir), "metadata")) as fh:
        return json.load(fh)["id"]


def _run_ledgered(
    stream: DataFrame,
    checkpoint_dir: str,
    table_path: str,
    keys: tuple[str, str],
    apply,
) -> list[int]:
    """:func:`run_available_now` with ``apply(batch_df, batch_id,
    ledger)`` per batch; returns the ids of the batches it committed.
    The ledger is built on the first batch, once Spark has written the
    checkpoint's metadata."""
    ledger: _FeedLedger | None = None
    applied: list[int] = []

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal ledger
        if ledger is None:
            ledger = _FeedLedger(
                table_path, *keys, _checkpoint_feed_id(checkpoint_dir)
            )
        if apply(batch_df, batch_id, ledger):
            applied.append(batch_id)

    run_available_now(stream, checkpoint_dir, on_batch)
    return applied


def _one_file_per_batch(
    spark: SparkSession, schema: T.StructType, src_dir: str
) -> DataFrame:
    """A file-source stream that makes each file its own micro-batch,
    so each arriving wave commits on its own."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def stream_upsert_profiles_to_snapshot(
    events: DataFrame, path: str
) -> DataFrame:
    """Stream → versioned snapshot table: per-user profile rows
    (n_events, total_value) kept by one ledgered MERGE per micro-batch
    (:func:`_apply_profile_batch`), so the table history is one
    snapshot per batch and time travel reads any batch boundary. State
    lives in the table, not the streaming state store.

    Returns the final profiles after an AvailableNow replay. Decimal
    accumulation makes the result independent of batch boundaries."""
    from ..sources import snapshot as SN

    _run_ledgered(
        events,
        os.path.join(path, "_stream_checkpoint"),
        path,
        _PROFILE_STAMP,
        _apply_profile_batch,
    )
    return SN.read_snapshot(events.sparkSession, path).select(
        "user_id",
        "n_events",
        F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
    )


def _apply_profile_batch(
    batch_df: DataFrame, batch_id: int, ledger: _FeedLedger
) -> bool:
    """One profile micro-batch: create the table on the first batch,
    else skip a batch the ledger has applied, else MERGE the batch's
    per-user sums onto the current rows of the touched keys. Returns
    whether it committed."""
    from ..sources import snapshot as SN

    path = ledger.table_path
    spark = batch_df.sparkSession
    # pin the decimal scale: Spark types dec(38,10)+dec(38,10) as
    # dec(38,9), and a scale-9 file beside scale-10 files makes the
    # table unreadable (PARQUET_COLUMN_DATA_TYPE_MISMATCH) — every
    # write below must land at exactly dec(38,10)
    dec = "decimal(38,10)"
    prof = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(dec)).cast(dec).alias("_v"),
    )
    if not SN._list_versions(path):
        SN.create_table(
            prof.withColumnRenamed("_v", "total_value"),
            path,
            key="user_id",
            extra=ledger.stamp(batch_id),
        )
        ledger.record(batch_id)
        return True
    if ledger.applied(batch_id):
        return False
    cur = SN.read_snapshot(spark, path).select(
        "user_id",
        F.col("n_events").alias("_n0"),
        F.col("total_value").alias("_v0"),
    )
    combined = prof.join(cur, "user_id", "left").select(
        "user_id",
        (F.col("n_events") + F.coalesce("_n0", F.lit(0))).alias("n_events"),
        (F.col("_v") + F.coalesce("_v0", F.lit(0).cast(dec)))
        .cast(dec)
        .alias("total_value"),
    )
    SN.merge_upsert(combined, path, extra=ledger.stamp(batch_id))
    ledger.record(batch_id)
    return True


def incremental_file_ingest(
    spark: SparkSession,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
) -> int:
    """One incremental-ingest run (``Trigger.AvailableNow``): append
    exactly the files under ``src_dir`` that the checkpoint's
    file-source ledger has not seen to ``sink_dir``, then stop. Returns
    the number of rows ingested by THIS run. Arrival tracking is
    O(new files); the append sink is at-least-once under a mid-batch
    crash (the ledgered snapshot sinks are exactly-once)."""
    ingested: list[int] = []

    def _append(batch_df: DataFrame, _bid: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)
        ingested.append(batch_df.count())

    stream = spark.readStream.schema(schema).parquet(src_dir)
    run_available_now(stream, checkpoint_dir, _append)
    return sum(ingested)


def stream_erase_keys_from_snapshot(
    spark: SparkSession,
    requests_dir: str,
    checkpoint_dir: str,
    table_path: str,
    key_schema: T.StructType,
) -> int:
    """The streaming erasure feed: each request file under
    ``requests_dir`` is one micro-batch, applied to the snapshot table
    as ONE ledgered merge-on-read ``delete_keys_dv`` commit (a position
    sidecar, never a file rewrite). Returns the number of erasure
    commits this run made; empty and redelivered batches make none."""
    return len(
        _run_ledgered(
            _one_file_per_batch(spark, key_schema, requests_dir),
            checkpoint_dir,
            table_path,
            _ERASURE_STAMP,
            _apply_erasure_batch,
        )
    )


def _apply_erasure_batch(
    batch_df: DataFrame, batch_id: int, ledger: _FeedLedger
) -> bool:
    """One erasure micro-batch: one stamped ``delete_keys_dv`` unless
    the batch is empty (no no-op versions) or the ledger has applied
    it. Returns whether it committed."""
    from ..sources import snapshot as SN

    if batch_df.isEmpty() or ledger.applied(batch_id):
        return False
    SN.delete_keys_dv(
        ledger.table_path, batch_df, extra=ledger.stamp(batch_id)
    )
    ledger.record(batch_id)
    return True


def stream_erase_with_auto_fold(
    spark: SparkSession,
    requests_dir: str,
    checkpoint_dir: str,
    table_path: str,
    key_schema: T.StructType,
    threshold_ppm: int,
    n_files: int,
) -> tuple[int, list]:
    """:func:`stream_erase_keys_from_snapshot` with the compaction
    policy: after each applied batch, ``auto_fold(threshold_ppm)``
    reads the DV debt gauge from manifests and runs
    ``cluster_optimize`` only when the debt exceeds the threshold.
    Returns ``(applied_batches, [(batch_id, folded_version), ...])``.

    Folding is content-neutral, and the fold's commit carries no stamp,
    so the ledger walk passes it to the stamped delete below."""
    from ..sources import snapshot as SN

    folds: list[tuple[int, int]] = []

    def _apply(batch_df: DataFrame, batch_id: int, ledger) -> bool:
        if not _apply_erasure_batch(batch_df, batch_id, ledger):
            return False
        res = SN.auto_fold(spark, table_path, threshold_ppm, n_files)
        if res["folded"]:
            folds.append((batch_id, res["version"]))
        return True

    applied = _run_ledgered(
        _one_file_per_batch(spark, key_schema, requests_dir),
        checkpoint_dir,
        table_path,
        _ERASURE_STAMP,
        _apply,
    )
    return len(applied), folds


def stream_cdc_apply_to_snapshot(
    spark: SparkSession,
    changes_dir: str,
    checkpoint_dir: str,
    table_path: str,
    change_schema: T.StructType,
) -> int:
    """The streaming replication feed: change rows (the table key, a
    ``change_type`` of insert/update/delete, and the NEW column values;
    the ``diff_versions`` shape) stream into a replica snapshot table,
    one file per micro-batch, each applied by :func:`_apply_cdc_batch`.
    Returns the number of change batches this run applied.

    Batch order is load-bearing (an update must not overtake the
    delete before it): the file source takes the oldest modification
    time first, so a producer writing one file per wave in commit
    order keeps apply order."""
    return len(
        _run_ledgered(
            _one_file_per_batch(spark, change_schema, changes_dir),
            checkpoint_dir,
            table_path,
            _CDC_STAMP,
            _apply_cdc_batch,
        )
    )


def _apply_cdc_batch(
    batch_df: DataFrame, batch_id: int, ledger: _FeedLedger
) -> bool:
    """One CDC micro-batch, unless empty or already applied: MERGE the
    non-delete rows (``change_type`` dropped), then one
    ``delete_keys_dv`` of the delete rows' keys. The stamp rides the
    delete, issued even with no deletes, so a batch whose merge landed
    before a crash is redelivered (its values re-merge unchanged) and
    never marked done. Returns whether it committed."""
    from ..sources import snapshot as SN

    # one pass over the batch answers every question asked before the
    # commits: a NULL change_type vanishes from both filters below
    # (NULL comparisons) and a misspelled type would merge as an upsert
    # carrying NULL payloads, so either must fail LOUD before anything
    # commits instead of silently diverging the replica
    bad_type = F.col("change_type").isNull() | ~F.col("change_type").isin(
        "insert", "update", "delete"
    )
    n_rows, n_bad, bad_sample, n_upserts = batch_df.agg(
        F.count(F.lit(1)),
        F.count_if(bad_type),
        F.first(F.when(bad_type, F.struct("change_type")), ignorenulls=True),
        F.count_if(F.col("change_type") != "delete"),
    ).first()
    if n_rows == 0 or ledger.applied(batch_id):
        return False
    table_path = ledger.table_path
    versions = SN._list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshot table at {table_path}")
    key = SN._read_manifest(table_path, versions[-1])["key"]
    if n_bad:
        raise ValueError(
            f"cdc apply: unclassifiable change_type "
            f"{bad_sample['change_type']!r} in batch {batch_id} (expected "
            "insert/update/delete)"
        )
    upserts = batch_df.filter(F.col("change_type") != "delete").drop(
        "change_type"
    )
    deletes = batch_df.filter(F.col("change_type") == "delete").select(key)
    if n_upserts:
        SN.merge_upsert(upserts, table_path)
    SN.delete_keys_dv(table_path, deletes, extra=ledger.stamp(batch_id))
    ledger.record(batch_id)
    return True


#: Number of STATE partitions for replayed streams. Streaming shuffles
#: are exempt from AQE coalescing and the count is FROZEN into the
#: checkpoint at first start, so unlike batch it cannot self-correct:
#: every stateful micro-batch pays a fixed per-partition cost (state
#: store open + delta commit + task round) regardless of data. It is
#: sized to the keyed-state volume (≈ state_bytes / target partition
#: size), not to the core count — the watermark bounds live state to
#: (active windows × keys), so the bench fixtures' state is KB-scale
#: and 8 partitions already over-provisions it. Measured at
#: sf0.1/local[32], alternating: st01 micro-batch 3.1–4.7 s at 32
#: state partitions vs 0.7–1.2 s at 8 with identical results; st11
#: 6.5 s vs 3.8 s.
STREAM_STATE_PARTITIONS = 8


def run_stream_to_batch(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Replay the stream to completion (``Trigger.AvailableNow``) into
    an in-memory sink and return the final result as a batch DataFrame.

    This is the exactly-once replay property made testable: the driver
    compares the returned DataFrame against plain batch SQL. Complete
    output mode emits every window regardless of watermark progress
    (append mode would hold the final windows open — there is no
    later batch to close them in a replay).

    The replay pins the stream's state-partition count to
    :data:`STREAM_STATE_PARTITIONS` — ``spark.sql.shuffle.partitions``
    is set for the query's lifetime and restored after (the value a
    stream starts with is the one its checkpoint keeps forever, so it
    must be chosen deliberately; see the constant's docstring for the
    sizing rule). Partitioning never changes WHAT a keyed aggregation
    computes — replay == batch holds at any count — only how many
    state-store tasks each micro-batch schedules."""
    spark = stream_df.sparkSession
    name = f"stream_replay_{uuid.uuid4().hex[:12]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
