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


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table with the catalog's column
    contract: ``ts`` (micros TimestampType) + ``ts_ns`` (raw long), read
    with the batch catalog's schema (``events_read_schema``).

    ``maxFilesPerTrigger`` paces ingestion for a live run; the
    registry's replay path leaves it unset and uses AvailableNow.
    """
    schema = events_read_schema(spark, os.path.join(sf_dir, "events.parquet"))
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", "events.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_events(reader.parquet(sf_dir))


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


def stream_upsert_profiles_to_snapshot(
    events: DataFrame, path: str
) -> DataFrame:
    """Stream → versioned snapshot table: per-user profile rows
    (n_events, total_value) maintained by an incremental MERGE per
    micro-batch — the lakehouse streaming-upsert sink (Delta's
    ``foreachBatch`` + ``MERGE`` pattern) wired to
    :mod:`..sources.snapshot`.

    Each batch aggregates ONLY its own rows, combines them with the
    current table state for the touched keys (sum of counts/values),
    and commits one MERGE version — so the table history is one
    snapshot per micro-batch, each a consistent prefix of the stream,
    and time travel reads any batch boundary. State lives in the
    TABLE, not the streaming state store: the aggregation inside a
    batch is bounded by batch size, and the merge is file-pruned by
    the snapshot manifest — O(touched files), not O(table).

    Returns the final profiles (latest snapshot) after an
    AvailableNow replay. Decimal accumulation end-to-end so the result
    is independent of batch boundaries (replay == batch is asserted in
    tests/test_streaming.py with a forced multi-batch run)."""
    from ..sources import snapshot as SN

    spark = events.sparkSession
    ckpt = os.path.join(path, "_stream_checkpoint")
    memo: dict = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # the checkpoint's query id is immutable for its lifetime —
        # read it once per run, not per micro-batch (review r17)
        if "feed" not in memo:
            memo["feed"] = _checkpoint_feed_id(ckpt)
        _apply_profile_batch(batch_df, batch_id, path, memo["feed"], memo)

    query = (
        events.writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    query.awaitTermination()
    return SN.read_snapshot(spark, path).select(
        "user_id",
        "n_events",
        F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
    )


def _ledger_already_applied(
    table_path: str,
    feed_key: str,
    id_key: str,
    feed_id: str,
    batch_id: int,
    memo: dict | None = None,
) -> bool:
    """Shared txn-ledger check for every foreachBatch snapshot sink
    (profile MERGE, erasure DV, CDC apply): True iff ``batch_id`` was
    already committed FOR THIS FEED, by walking manifests newest-first
    until this feed's ``(feed_key, id_key)`` stamp.

    Migration fallback (ADVICE r17): a manifest carrying the bare
    ``id_key`` with NO ``feed_key`` is a pre-feed-scope stamp (the
    pre-r17 sink format). The only id a CONTINUING legacy checkpoint
    can redeliver is exactly the stamped one — foreachBatch redelivers
    only the last batch whose checkpoint write didn't land; every
    earlier id is behind the committed offset and every later id is
    new work — so equality, and only equality, skips; only the
    NEWEST legacy stamp participates (deeper ones are older lineage
    history), and the feed's OWN scoped stamp anywhere in the walk
    takes precedence over a legacy stamp above it (review r18: a
    mixed-version deployment interleaves both, and stopping at the
    first bare stamp would shadow the scoped ledger and double-apply
    a redelivered summing batch). A FRESH checkpoint's batch 0
    against a legacy table therefore re-applies (the compliance-safe
    direction for erasure; for the summing profile sink the one
    ambiguous case — a new feed whose batch 0 meets a legacy stamp of
    exactly 0 — re-applies too, matching the documented
    new-feed-re-ingests contract).

    Scan bound (ADVICE r17 / VERDICT r17 #8): ``memo`` (per-run
    dict, shared with the caller's feed-id cache) caps the walk.
    ``_ledger_last`` caches the newest stamp once found — steady
    state is ZERO manifest reads after the feed's first commit of the
    run (callers record their own commits there too). ``_ledger_floor``
    records the highest version already scanned WITHOUT a stamp, so a
    fresh feed over a deep table history pays the O(versions) cold
    scan at most once per run, not per micro-batch."""
    from ..sources import snapshot as SN

    if memo is None:
        memo = {}
    last = memo.get("_ledger_last")
    if last is not None:
        return batch_id <= last
    versions = SN._list_versions(table_path)
    floor = memo.get("_ledger_floor", -1)
    legacy_skip = None
    for v in reversed(versions):
        if v <= floor:
            break
        m = SN._read_manifest(table_path, v)
        if m.get(feed_key) == feed_id:
            # this feed's own stamp wins even when a legacy (or other
            # writer's) commit sits ABOVE it — the walk must not stop
            # at the first bare stamp or a mixed-version deployment
            # (upgraded sink + not-yet-upgraded writer) would shadow
            # the scoped ledger and double-apply (review r18)
            memo["_ledger_last"] = m[id_key]
            return batch_id <= m[id_key]
        if legacy_skip is None and feed_key not in m and id_key in m:
            # NEWEST legacy bare stamp only: equality-only fallback
            # (see above). Deeper legacy stamps are older lineage
            # history — matching them would wrongly skip fresh work.
            # Recorded, not returned: the feed's own stamp deeper in
            # the history still takes precedence. Not memoized — the
            # feed's own first commit will be.
            legacy_skip = batch_id == m[id_key]
    if legacy_skip is not None:
        return legacy_skip
    memo["_ledger_floor"] = versions[-1] if versions else -1
    return False


def _apply_profile_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    feed_id: str,
    memo: dict | None = None,
) -> None:
    """One micro-batch of the snapshot-sink MERGE (module-level so the
    redelivery path is unit-testable).

    Idempotence: foreachBatch is AT-LEAST-once — a batch whose commit
    completed but whose checkpoint write did not is redelivered on
    restart. The manifest therefore records ``(profile_feed,
    batch_id)`` — the Delta ``(txnAppId, txnVersion)`` pattern, scoped
    by the checkpoint's query id like the erasure ledger (review r17:
    a table-scoped bare batch id silently DROPPED a fresh checkpoint's
    batches, whose ids restart at 0 — for a summing MERGE sink that is
    data loss). A redelivered batch (id ≤ the last committed id FOR
    THIS FEED) is skipped instead of double-summed. Within one feed
    the newest commit is this feed's own, so the ledger walk is O(1)
    in steady state; a new feed against an existing table re-ingests
    by design — exactly-once is a per-checkpoint-lineage contract, as
    in Delta. Redelivery detection (including the pre-r17 bare
    ``batch_id`` migration fallback and the per-run scan memo) lives
    in :func:`_ledger_already_applied`."""
    from ..sources import snapshot as SN

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
    versions = SN._list_versions(path)
    if not versions:
        SN.create_table(
            prof.withColumnRenamed("_v", "total_value"),
            path,
            key="user_id",
            extra={"profile_feed": feed_id, "batch_id": batch_id},
        )
        if memo is not None:
            memo["_ledger_last"] = batch_id
        return
    if _ledger_already_applied(
        path, "profile_feed", "batch_id", feed_id, batch_id, memo
    ):
        return  # redelivered batch: already applied
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
    SN.merge_upsert(
        combined, path,
        extra={"profile_feed": feed_id, "batch_id": batch_id},
    )
    if memo is not None:
        memo["_ledger_last"] = batch_id


def incremental_file_ingest(
    spark: SparkSession,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
) -> int:
    """One incremental-ingest run (``Trigger.AvailableNow``): process
    exactly the files under ``src_dir`` that the checkpoint's
    file-source ledger has not seen yet, append them to ``sink_dir``,
    then stop. Returns the number of rows ingested by THIS run.

    This is the nightly/hourly "pick up only the new files" pattern —
    at 100 TB the alternative (re-scanning the landing zone and
    anti-joining against the warehouse) costs a full table read per
    run; the streaming checkpoint makes arrival tracking O(new files)
    and survives process restarts. The per-run row count accumulates
    inside the batch callback (the count re-reads only that batch's
    files — O(new files), never a scan of the sink). The plain append
    sink here is at-least-once under a mid-batch crash; pair with the
    snapshot MERGE sink (:func:`stream_upsert_profiles_to_snapshot`,
    batch_id-idempotent) when exactly-once matters."""
    ingested: list[int] = []

    def _append(batch_df: DataFrame, _bid: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)
        ingested.append(batch_df.count())

    stream = spark.readStream.schema(schema).parquet(src_dir)
    query = (
        stream.writeStream.foreachBatch(_append)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    query.awaitTermination()
    return sum(ingested)


def stream_erase_keys_from_snapshot(
    spark: SparkSession,
    requests_dir: str,
    checkpoint_dir: str,
    table_path: str,
    key_schema: T.StructType,
    max_files_per_trigger: int | None = 1,
) -> int:
    """The streaming GDPR erasure feed (VERDICT r16 #6): erasure
    requests land as files under ``requests_dir``; each micro-batch's
    key set is applied to the snapshot table as ONE merge-on-read
    ``delete_keys_dv`` commit — a position sidecar, never a file
    rewrite. Composes the two newest subsystems: the st09 incremental
    file ledger decides WHAT arrived, the ac14 DV path decides HOW it
    is erased. Returns the number of erasure COMMITS applied by this
    run (empty and redelivered batches apply nothing).

    Exactly-once: foreachBatch is at-least-once, so each DV commit
    records ``(erasure_feed, erasure_batch_id)`` in its manifest (the
    st08 txn-ledger discipline via delete_keys_dv's ``extra``, scoped
    like Delta's ``(txnAppId, txnVersion)``); a redelivered batch (id
    ≤ the last recorded FOR THIS FEED) is skipped instead of
    re-committing. The feed id is the checkpoint's own query id
    (``<checkpoint>/metadata``, minted by Spark at stream start), so
    batch ids from a NEW or recreated checkpoint — which restart at 0
    — are never compared against another feed's stamps: they re-apply
    harmlessly (key-set deletes are idempotent) instead of being
    silently skipped, the compliance failure a table-scoped bare
    batch id would invite (review r17). The ledger scan walks
    manifests newest-first until it finds this feed's stamp; a
    per-run memo bounds the cold walk over a deep version history to
    one pass per run (ADVICE r17 / VERDICT r17 #8) and makes the
    steady state zero manifest reads.

    At 100 TB this is the production erasure pipeline shape: requests
    stream in continuously, each batch costs one distributed semi-join
    position capture + one tiny sidecar write against a table that is
    never rewritten; compaction folds the accumulated DVs on its own
    cadence."""
    applied: list[int] = []
    memo: dict = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # read lazily (Spark writes <checkpoint>/metadata at stream
        # start, before the first batch fires) and ONCE — the id is
        # immutable for the checkpoint's lifetime (review r17)
        if "feed" not in memo:
            memo["feed"] = _checkpoint_feed_id(checkpoint_dir)
        if _apply_erasure_batch(
            batch_df, batch_id, table_path, memo["feed"], memo
        ):
            applied.append(batch_id)

    reader = spark.readStream.schema(key_schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    query = (
        reader.parquet(requests_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    query.awaitTermination()
    return len(applied)


def _checkpoint_feed_id(checkpoint_dir: str) -> str:
    """The streaming checkpoint's unique query id — Spark writes it to
    ``<checkpoint>/metadata`` when the stream starts and reuses it on
    every restart FROM that checkpoint; a deleted/recreated checkpoint
    mints a new one. Exactly the scope an exactly-once batch ledger
    needs (Delta's txnAppId). ``file:``-URI checkpoint locations (the
    checkpointLocation option accepts them) are normalized to plain
    paths (review r17)."""
    import json

    from ..sources.snapshot import _local_path

    with open(os.path.join(_local_path(checkpoint_dir), "metadata")) as fh:
        return json.load(fh)["id"]


def _apply_erasure_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    feed_id: str,
    memo: dict | None = None,
) -> bool:
    """One erasure micro-batch (module-level so the redelivery path is
    unit-testable, like :func:`_apply_profile_batch`): skip if this
    ``batch_id`` was already committed BY THIS FEED, else one
    ``delete_keys_dv`` stamped with (feed, batch id). Batch ids are
    only meaningful within one checkpoint lineage — comparing across
    feeds would silently drop a fresh checkpoint's erasures (review
    r17). Redelivery detection (legacy bare ``erasure_batch_id``
    fallback + the per-run scan memo bounding the cold walk over a
    deep history) lives in :func:`_ledger_already_applied`. No-data
    micro-batches (the engine may fire one at availableNow shutdown)
    commit nothing — an empty erasure set has nothing to be
    idempotent about, and a no-op version per run would pollute the
    table history."""
    from ..sources import snapshot as SN

    if batch_df.isEmpty():
        return False
    if _ledger_already_applied(
        table_path, "erasure_feed", "erasure_batch_id", feed_id, batch_id,
        memo,
    ):
        return False  # redelivered batch: already applied
    SN.delete_keys_dv(
        table_path,
        batch_df,
        extra={"erasure_feed": feed_id, "erasure_batch_id": batch_id},
    )
    if memo is not None:
        memo["_ledger_last"] = batch_id
    return True


def stream_erase_with_auto_fold(
    spark: SparkSession,
    requests_dir: str,
    checkpoint_dir: str,
    table_path: str,
    key_schema: T.StructType,
    threshold_ppm: int,
    n_files: int,
    max_files_per_trigger: int | None = 1,
) -> tuple[int, list]:
    """The erasure feed with the compaction POLICY wired in (the
    st17 + ac16 composition): after each applied erasure batch,
    ``auto_fold(threshold_ppm)`` reads the debt gauge from manifests
    (O(files) metadata) and triggers ``cluster_optimize`` only when
    the accumulated DV debt exceeds the threshold — the steady-state
    shape of a 100 TB erasure pipeline, where requests stream all day
    and the table folds itself exactly as often as reads start
    bleeding, never per-batch. Returns ``(applied_batches,
    [(batch_id, folded_version), ...])``.

    Folding is CONTENT-neutral (the fold rewrites the DV-applied live
    rows), so replay == one-shot batch erasure still holds — the st19
    registry entry hash-proves it while asserting the fold fired
    exactly when the simulated gauge crossed the threshold. Redelivery
    stays exactly-once: the fold's own commit carries no feed stamp,
    and the ledger walk skips past it to the stamped delete below."""
    applied: list[int] = []
    folds: list[tuple[int, int]] = []
    memo: dict = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources import snapshot as SN

        if "feed" not in memo:
            memo["feed"] = _checkpoint_feed_id(checkpoint_dir)
        if _apply_erasure_batch(
            batch_df, batch_id, table_path, memo["feed"], memo
        ):
            applied.append(batch_id)
            res = SN.auto_fold(spark, table_path, threshold_ppm, n_files)
            if res["folded"]:
                folds.append((batch_id, res["version"]))

    reader = spark.readStream.schema(key_schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    query = (
        reader.parquet(requests_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    query.awaitTermination()
    return len(applied), folds


def stream_cdc_apply_to_snapshot(
    spark: SparkSession,
    changes_dir: str,
    checkpoint_dir: str,
    table_path: str,
    change_schema: T.StructType,
    max_files_per_trigger: int | None = 1,
) -> int:
    """The streaming replication feed (VERDICT r17 #4) — CDC APPLY:
    change rows (the ac08 ``diff_versions`` shape, materialized as
    files: the table key, a ``change_type`` of insert/update/delete,
    and the NEW column values) stream into a replica snapshot table.
    Each micro-batch applies its inserts+updates as ONE ``merge_upsert``
    and its deletes as ONE merge-on-read ``delete_keys_dv`` (the ac09
    batch-apply path under a streaming driver). Returns the number of
    change batches APPLIED by this run (empty and redelivered batches
    apply nothing).

    Exactly-once: the ledger stamp ``(cdc_feed, cdc_batch_id)`` —
    checkpoint-scoped via :func:`_checkpoint_feed_id`, the st17/st08
    discipline — rides the batch's FINAL commit (the delete, which is
    issued even when the batch has no deletes: a no-op DV version
    whose only job is carrying the stamp). Crash ordering is safe in
    both directions: a crash between merge and delete redelivers the
    batch, whose MERGE re-applies the same materialized values
    (content-idempotent — feed rows carry values, not expressions)
    before the delete lands with the stamp; a crash after the delete
    is a plain redelivery, skipped by :func:`_ledger_already_applied`.

    Batch ORDER is load-bearing (an update must not overtake the
    delete that precedes it): the file source processes files oldest
    modification time first, so a producer appending change waves in
    commit order preserves apply order; ``maxFilesPerTrigger`` keeps
    waves from merging into one batch when per-wave commits matter.

    At 100 TB this is cross-region table sync without full copies:
    each batch costs one file-pruned MERGE over the touched keys +
    one position-sidecar delete, both O(batch), never O(table)."""
    applied: list[int] = []
    memo: dict = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if "feed" not in memo:
            memo["feed"] = _checkpoint_feed_id(checkpoint_dir)
        if _apply_cdc_batch(
            batch_df, batch_id, table_path, memo["feed"], memo
        ):
            applied.append(batch_id)

    reader = spark.readStream.schema(change_schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    query = (
        reader.parquet(changes_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    query.awaitTermination()
    return len(applied)


def _apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    feed_id: str,
    memo: dict | None = None,
) -> bool:
    """One CDC micro-batch (module-level so the redelivery path is
    unit-testable): skip if this ``batch_id`` was already committed BY
    THIS FEED; else MERGE the non-delete rows (key + new values,
    ``change_type`` dropped) and delete the delete-rows' keys via one
    stamped ``delete_keys_dv``. The stamp rides the delete — always
    issued, possibly as a no-op DV version — so a partially-applied
    batch (merge landed, crash before delete) is never marked done."""
    from ..sources import snapshot as SN

    if batch_df.isEmpty():
        return False
    if _ledger_already_applied(
        table_path, "cdc_feed", "cdc_batch_id", feed_id, batch_id, memo
    ):
        return False  # redelivered batch: already applied
    versions = SN._list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshot table at {table_path}")
    key = SN._read_manifest(table_path, versions[-1])["key"]
    # fail LOUD on unclassifiable rows before anything commits: a NULL
    # change_type vanishes from both filters below (NULL comparisons)
    # and a misspelled type would merge as an upsert carrying NULL
    # payloads — both silently diverge the replica (review r18). The
    # probe is O(batch) and short-circuits at the first bad row.
    bad = (
        batch_df.filter(
            F.col("change_type").isNull()
            | ~F.col("change_type").isin("insert", "update", "delete")
        )
        .select("change_type")
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"cdc apply: unclassifiable change_type "
            f"{bad[0]['change_type']!r} in batch {batch_id} (expected "
            "insert/update/delete)"
        )
    upserts = batch_df.filter(F.col("change_type") != "delete").drop(
        "change_type"
    )
    deletes = batch_df.filter(F.col("change_type") == "delete").select(key)
    if not upserts.isEmpty():
        SN.merge_upsert(upserts, table_path)
    SN.delete_keys_dv(
        table_path,
        deletes,
        extra={"cdc_feed": feed_id, "cdc_batch_id": batch_id},
    )
    if memo is not None:
        memo["_ledger_last"] = batch_id
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
