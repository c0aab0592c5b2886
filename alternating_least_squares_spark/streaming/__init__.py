"""Structured Streaming surface (net-new vs the reference — SURVEY.md
§2.D records the reference has no streaming anywhere; this is the
extension surface over the driver's ``events`` stream table)."""

from alternating_least_squares_spark.streaming.events import (  # noqa: F401
    attribution_join_stream,
    hopping_value_stream,
    hourly_value_stream,
    read_events_stream,
    run_available_now,
    run_stream_to_batch,
    sessionize_stream,
    stream_cdc_apply_to_snapshot,
    stream_erase_keys_from_snapshot,
    stream_erase_with_auto_fold,
    stream_upsert_profiles_to_snapshot,
)
from alternating_least_squares_spark.streaming.stateful import (  # noqa: F401
    ewma_stream,
    user_profile_stream,
)
