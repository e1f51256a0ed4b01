"""Query plans: the driver-facing registry of (PySpark query, DuckDB oracle SQL) pairs.

Importing this package imports every query module, which registers its
queries as a side effect of the ``@query`` decorators. Registry order is
import order.
"""

from flink_realtime_sessionize_sample_spark.plans.registry import QUERIES, ORACLES, query

# Registration imports (order = SURVEY.md §7 build phases).
from flink_realtime_sessionize_sample_spark.plans import sessionize_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import relational_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import llm_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import coverage_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import temporal_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import pipeline_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import analytics_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import tpch_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import feature_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import ml_eval_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r8  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import round9_queries  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r10  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r11  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r12  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r13  # noqa: F401
from flink_realtime_sessionize_sample_spark.plans import staging_r14  # noqa: F401

__all__ = ["QUERIES", "ORACLES", "query"]
