from .incremental import (
    EVENTS_SCHEMA,
    deduped,
    drain,
    read_events_stream,
    run_enriched_append,
    run_incremental_upsert,
    run_running_user_stats,
    run_streaming_daily_counts,
    run_streaming_scd2,
    run_streaming_sessions,
    running_user_stats,
    streaming_daily_counts,
    streaming_session_rollup,
)
from .joins import (
    run_view_purchase_attribution,
    view_purchase_attribution,
)
from .kafka_shaped import (
    KAFKA_WIRE_SCHEMA,
    decode_events,
    encode_events_to_wire,
    read_kafka_shaped_stream,
)

__all__ = [
    "EVENTS_SCHEMA",
    "KAFKA_WIRE_SCHEMA",
    "decode_events",
    "deduped",
    "drain",
    "encode_events_to_wire",
    "read_events_stream",
    "read_kafka_shaped_stream",
    "run_enriched_append",
    "run_incremental_upsert",
    "run_running_user_stats",
    "run_view_purchase_attribution",
    "view_purchase_attribution",
    "run_streaming_daily_counts",
    "run_streaming_scd2",
    "run_streaming_sessions",
    "running_user_stats",
    "streaming_daily_counts",
    "streaming_session_rollup",
]
