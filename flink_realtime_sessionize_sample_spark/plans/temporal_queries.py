"""Temporal-join queries: as-of join and interval (range) join over ``events``.

Beyond-parity scope (SURVEY.md §2.9 — the reference has zero joins); the
operators live in ``operators/temporal_join.py``. Oracles use DuckDB's
native ``ASOF JOIN`` and a plain inequality join, so correctness of the
Spark-side merge/bucket formulations is checked against an independent
implementation of the semantics, not against themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.operators.temporal_join import (
    asof_join,
    bucketed_interval_join,
)
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.sources.registry import load_table


@query(
    "asof_clicks_views",
    oracle="""
WITH v AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
),
c AS (
  SELECT event_id, user_id, ts, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(v.ts) AS view_us,
       v.view_value, c.click_value
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
""",
)
def asof_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the latest at-or-before view of the same user
    (backward inclusive as-of). Views are pre-aggregated to unique
    (user_id, ts) so the match is deterministic in both engines. The Spark
    side is the union-merge formulation — one sort on (user_id, ts), no
    row blowup; the oracle is DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(clicks, views, on="user_id", ts="ts", right_payload=["view_value"], right_ts_alias="view_ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("view_ts").alias("view_us"),
        "view_value",
        "click_value",
    )


@query(
    "range_join_error_windows",
    oracle="""
WITH w AS (
  SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end
  FROM events WHERE event_type = 'error' AND event_id % 97 = 0
)
SELECT w.window_id,
       count(*)::BIGINT AS n_events,
       sum(e.value) AS sum_value
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
""",
)
def range_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity inside 5-minute windows opened by (a deterministic sample
    of) error events: a point-in-interval join with NO equi key. The Spark
    side is the bucketed formulation (equi join on a 300 s time-bucket key,
    exact range filter after) — a shuffle hash join instead of the
    BroadcastNestedLoopJoin a naive inequality join plans to; the oracle is
    DuckDB's plain inequality join."""
    ev = load_table(spark, sf_dir, "events")
    windows = (
        ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 97 == 0))
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("w_end"),
        )
    )
    joined = bucketed_interval_join(
        ev.select("ts", "value"), windows, point_ts="ts", bucket_seconds=300
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )


@query(
    "stream_stream_interval_join",
    oracle="""
WITH c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
), v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
  FROM events WHERE event_type = 'view'
)
SELECT c.click_id, v.view_id
FROM c JOIN v ON c.user_id = v.user_id
 AND v.v_us >= c.c_us - 600000000
 AND v.v_us <= c.c_us
""",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner interval join run as a real Structured Streaming
    query (streaming/pipeline.py::join_streams_interval): clicks paired
    with same-user views in the preceding 10 minutes, both sides
    watermarked so buffered join state evicts — the two requirements
    without which Spark's stream-stream join state grows unboundedly.

    The driver's value hash compares the STREAMED pair set against the
    plain batch interval join in DuckDB — stream ≡ batch on bounded input,
    the same consistency bar the stateful sessionizer meets
    (``README.md:31``). The reference has no joins at all (SURVEY §2.9);
    this is the streaming member of the beyond-parity join family
    (batch as-of / range joins in ``operators/temporal_join.py``).
    """
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        join_streams_interval,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        drain_to_memory,
        scratch_dir,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    with scratch_dir("ssj_") as base:
        cdir, vdir = f"{base}/clicks", f"{base}/views"
        clicks.coalesce(1).write.parquet(cdir)
        views.coalesce(1).write.parquet(vdir)
        cs = spark.readStream.schema(clicks.schema).parquet(cdir)
        vs = spark.readStream.schema(views.schema).parquet(vdir)
        pairs = join_streams_interval(
            cs, vs, on="user_id", left_ts="c_ts", right_ts="v_ts"
        ).select("click_id", "view_id")
        return drain_to_memory(pairs, "stream_stream_interval_join")
