"""Sources: table registry and the raw access-log text source."""

from flink_realtime_sessionize_sample_spark.sources.registry import TABLES, load_table
from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs, synthesize_access_log_lines

__all__ = ["TABLES", "load_table", "parse_access_logs", "synthesize_access_log_lines"]
