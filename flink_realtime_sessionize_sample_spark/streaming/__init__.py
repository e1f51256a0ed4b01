"""Structured Streaming: per-event stateful sessionization, sources, sinks."""

from flink_realtime_sessionize_sample_spark.streaming.sessionize_stream import sessionize_stream_bucketed
from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
    build_events_file_stream,
    dedup_stream,
    build_kafka_line_source,
    encode_json,
    enrich_stream_static,
    join_streams_interval,
    join_streams_interval_outer,
    run_sessionize_pipeline,
    windowed_user_counts,
    write_foreach_batch_dedup,
    write_foreach_batch_partition_overwrite,
    write_kafka_sink,
)

__all__ = [
    "sessionize_stream_bucketed",
    "build_events_file_stream",
    "build_kafka_line_source",
    "dedup_stream",
    "encode_json",
    "enrich_stream_static",
    "run_sessionize_pipeline",
    "windowed_user_counts",
    "join_streams_interval",
    "join_streams_interval_outer",
    "write_foreach_batch_dedup",
    "write_foreach_batch_partition_overwrite",
    "write_kafka_sink",
]
