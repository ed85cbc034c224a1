"""Structured Streaming demonstrations over the events table."""

from multi_threaded_mapreduce_framework_spark.streaming.kafka_shim import (
    KafkaConnectorUnavailable,
    kafka_wire_stream,
    parse_events,
    real_kafka_stream,
    write_kafka_replay,
)
from multi_threaded_mapreduce_framework_spark.streaming.joins import (
    funnel_daily_counts,
    stream_static_join,
    stream_stream_join,
)
from multi_threaded_mapreduce_framework_spark.streaming.matview import (
    compact_matview,
    read_matview,
    start_incremental_matview,
)
from multi_threaded_mapreduce_framework_spark.streaming.sinks import (
    foreach_batch_fanout,
    foreach_batch_parquet,
)
from multi_threaded_mapreduce_framework_spark.streaming.stateful import (
    running_user_totals,
)
from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
    append_far_future_event,
    append_wave,
    drain_to_convergence,
    events_stream,
    replay_events,
    run_to_convergence,
    session_counts,
    sliding_window_counts,
    stream_dedup,
    stream_dedup_within_watermark,
    tumbling_window_counts,
)

__all__ = [
    "KafkaConnectorUnavailable",
    "kafka_wire_stream",
    "parse_events",
    "real_kafka_stream",
    "write_kafka_replay",
    "funnel_daily_counts",
    "stream_static_join",
    "stream_stream_join",
    "foreach_batch_fanout",
    "foreach_batch_parquet",
    "compact_matview",
    "read_matview",
    "start_incremental_matview",
    "running_user_totals",
    "append_far_future_event",
    "append_wave",
    "drain_to_convergence",
    "events_stream",
    "replay_events",
    "run_to_convergence",
    "session_counts",
    "sliding_window_counts",
    "stream_dedup",
    "stream_dedup_within_watermark",
    "tumbling_window_counts",
]
