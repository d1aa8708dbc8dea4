"""Structured Streaming jobs over the event stream.

The reference has no streaming operators (SURVEY.md §2.10) — its cadence
is cron-triggered batch. These jobs are the engine-surface extension:
the same event-table shape consumed incrementally, with watermarks for
late data and ``Trigger.AvailableNow`` for the reference's
"micro-batch-by-schedule" pattern (process everything that has landed,
then stop — a cron-safe streaming run).

Surface: adaptive-encoding source (``read_event_stream``), stateless and
stateful transforms (windowed counts — tumbling and sliding, session
windows, stream dedup, stream-static enrichment, watermarked
stream-stream interval join, ``applyInPandasWithState`` /
``transformWithStateInPandas`` running totals), and five sinks — memory
(test/demo), idempotent partition-overwrite parquet (production),
additive inventory registration (catalog), histogram rollup
(mergeable sketch), and lake-side ingest dedup (bloom classify,
replay-idempotent).
"""

from .jobs import (  # noqa: F401
    read_event_stream,
    run_available_now_to_memory,
    run_available_now_to_memory_many,
    run_available_now_index_vectors,
    run_available_now_ingest_dedup,
    run_available_now_register_inventory,
    run_available_now_to_parquet,
    run_available_now_histogram_rollup,
    running_user_totals,
    running_user_totals_tws,
    sessionized_user_activity,
    stream_dedup,
    stream_static_enrich,
    stream_stream_join,
    windowed_event_counts,
)
