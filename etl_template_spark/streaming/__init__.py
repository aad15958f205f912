"""Structured Streaming flavors of the batch operators (SURVEY.md §2B
streaming rows; batch-equivalent twins live in queries/streaming_batch.py).
"""

from .jobs import (  # noqa: F401
    attribution_fold,
    attribution_tws_stream,
    dedup_stream,
    dedup_stream_within_watermark,
    distinct_users_stream,
    funnel_stream,
    interval_join_fold,
    interval_join_tws_stream,
    heavy_hitters_tws_stream,
    join_streams,
    mg_fold,
    read_events_stream,
    retention_stream,
    run_available_now,
    running_totals_stream,
    session_agg_stream,
    sliding_agg_stream,
    transitions_stream,
    tumbling_agg_stream,
    versioned_stream_sink,
)
