"""Sessionize query family — the reference's own workload as driver queries.

Covers SURVEY.md §2.6 (X1 stateful sessionize, batch formulation), §2.7
(A1/A2/A3 downstream aggregations) and §2.2 (P1/P2 parse) over the driver's
``events`` table (``user_id`` plays the reference's ``ip``, ``ts`` its event
time — SURVEY §1.3).

Oracle notes: outputs avoid raw TIMESTAMP columns (integer ``*_us`` epochs
instead) so value hashing is engine-neutral. The full-semantics oracle uses
a recursive CTE because the size/duration caps make exact sessionization
sequential within a gap-session; DuckDB executes it breadth-first per row
rank. The Spark side uses the one-shuffle window formulation with the rare
capped-session refinement (operators/sessionize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.operators.sessionize import (
    sessionize,
    sessionize_gap_only,
    session_durations,
    user_total_durations,
)
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs, synthesize_access_log_lines
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

# Shared recursive-CTE prelude implementing the §2.6 decision procedure in
# ANSI SQL (DuckDB). State carried per (user_id, rn): session start instant
# (start_us/start_sec) and event count; gap is measured against the previous
# event (batch order is event-time-sorted, so prev == last == max).
_SESSIONIZE_CTE = """
WITH RECURSIVE ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, epoch_us(ts)//1000000 AS sec,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
sess AS (
  SELECT user_id, rn, event_id, us, sec, us AS start_us, sec AS start_sec, 1 AS cnt
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.event_id, e.us, e.sec,
         CASE WHEN c.cut THEN e.us ELSE s.start_us END,
         CASE WHEN c.cut THEN e.sec ELSE s.start_sec END,
         CASE WHEN c.cut THEN 1 ELSE s.cnt + 1 END
  FROM sess s
  JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
  CROSS JOIN LATERAL (SELECT (e.sec - s.sec > 1800)
                          OR (s.cnt + 1 >= 1500)
                          OR (e.sec - s.start_sec > 43200) AS cut) c
),
sessionized AS (
  SELECT event_id, user_id, us AS ts_us,
         user_id::VARCHAR || '-' || start_us::VARCHAR AS session_id,
         (sec - start_sec)::INT AS duration
  FROM sess
)
"""


def _events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Project to the needed columns BEFORE sessionize: the fast/refine
    # branches then share an identical (narrow) subplan, so AQE reuses one
    # scan+shuffle for both, and the shuffle moves 3 columns instead of 6.
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, key="user_id", ts="ts", tiebreakers=("event_id",))


@query(
    "sessionize_events",
    oracle=_SESSIONIZE_CTE + """
SELECT event_id, user_id, ts_us, session_id, duration FROM sessionized
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 batch formulation: per-event session_id + running duration."""
    return _events_sessionized(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "session_id",
        "duration",
    )


@query(
    "sessionize_gap_only",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, epoch_us(ts)//1000000 AS sec,
         lag(epoch_us(ts)//1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new
  FROM e
),
g AS (
  SELECT *,
         max(CASE WHEN is_new = 1 THEN us END) OVER
           (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS start_us,
         max(CASE WHEN is_new = 1 THEN sec END) OVER
           (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS start_sec
  FROM f
)
SELECT event_id, user_id, us AS ts_us,
       user_id::VARCHAR || '-' || start_us::VARCHAR AS session_id,
       (sec - start_sec)::INT AS duration
FROM g
""",
)
def sessionize_gap_only_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure window-function gap sessionization (single shuffle, zero Python)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize_gap_only(ev, key="user_id", ts="ts", tiebreakers=("event_id",)).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "session_id",
        "duration",
    )


@query(
    "session_durations",
    oracle=_SESSIONIZE_CTE + """
SELECT user_id, session_id, max(duration) AS session_duration
FROM sessionized GROUP BY user_id, session_id
""",
)
def session_durations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (README.md:42-50): final duration per session via MAX collapse."""
    return session_durations(_events_sessionized(spark, sf_dir), key="user_id")


@query(
    "user_total_durations",
    oracle=_SESSIONIZE_CTE + """
SELECT user_id, sum(session_duration)::BIGINT AS total_duration
FROM (
  SELECT user_id, session_id, max(duration) AS session_duration
  FROM sessionized GROUP BY user_id, session_id
) GROUP BY user_id
""",
)
def user_total_durations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2, the flagship: total time-on-site per user (README.md:42-50)."""
    return user_total_durations(_events_sessionized(spark, sf_dir), key="user_id")


@query(
    "session_stats",
    oracle=_SESSIONIZE_CTE + """
SELECT user_id, session_id,
       count(*) AS n_events,
       max(duration) AS session_duration,
       min(ts_us) AS first_us,
       max(ts_us) AS last_us
FROM sessionized GROUP BY user_id, session_id
""",
)
def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-style ongoing-session analytics: per-session event count + bounds."""
    return (
        sessionize_events(spark, sf_dir)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("duration").alias("session_duration"),
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
        )
    )


@query(
    "sessionize_stateful",
    oracle=_SESSIONIZE_CTE + """
SELECT event_id, user_id, session_id, duration FROM sessionized
""",
)
def sessionize_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 STREAMING formulation, oracle-checked: the stateful per-event
    sessionizer (streaming/sessionize_stream.py) run over a bounded file
    stream with availableNow into a memory sink. Proves the stateful
    streaming operator computes the same sessions as the batch kernel AND
    the recursive-CTE oracle — the reference's own batch/realtime
    consistency goal (README.md:31)."""
    return _bucketed_replay(spark, sf_dir, "sessionize_stateful")


@query(
    "sessionize_bucketed",
    oracle=_SESSIONIZE_CTE + """
SELECT event_id, user_id, session_id, duration FROM sessionized
""",
)
def sessionize_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 STREAMING formulation with the reference's COARSE-KEY state
    layout, oracle-checked: ``sessionize_stream_bucketed`` groups by
    ``pmod(xxhash64(user_id), N)`` (≙ ``Sessionize.scala:5``'s
    ``hashCode % 1200``) and keeps a per-user map within each bucket
    (≙ ``SessionizeGroupMapFunction.scala:13``'s
    ``MapState[ip, SessionState]``), amortizing the per-group Arrow
    exchange over all of a bucket's users."""
    return _bucketed_replay(spark, sf_dir, "sessionize_bucketed")


def _bucketed_replay(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replay ``events`` as a bounded file stream through
    ``sessionize_stream_bucketed`` (availableNow) into a memory sink."""
    import shutil

    from flink_realtime_sessionize_sample_spark.streaming import (
        build_events_file_stream,
        sessionize_stream_bucketed,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        drain_to_memory,
        scratch_dir,
    )

    with scratch_dir(f"{name}_src_") as src:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
        stream = build_events_file_stream(spark, src)
        out = sessionize_stream_bucketed(stream.withWatermark("ts", "60 seconds")).select(
            "event_id", "user_id", "session_id", "duration"
        )
        return drain_to_memory(out, name)


# --- parse path (P1/P2): render events into the reference's 15-field wire
# format, then parse back; malformed (14-field) lines must be dropped. ---

_SYNTH_LINES_SQL = """
lines AS (
  SELECT CASE WHEN event_id % 50 = 0
    THEN concat_ws(' ', tsstr, 'elb-1', client, 'f0','f1','f2','f3','f4','f5','f6','f7','f8','f9','f10')
    ELSE concat_ws(' ', tsstr, 'elb-1', client, 'f0','f1','f2','f3','f4','f5','f6','f7','f8','f9','f10','f11')
    END AS value
  FROM (
    SELECT event_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.' ||
             lpad((epoch_us(ts) % 1000000)::VARCHAR, 6, '0') || 'Z' AS tsstr,
           '10.0.' || (user_id % 250)::VARCHAR || '.' || (user_id % 97)::VARCHAR ||
             ':' || (40000 + event_id % 20000)::VARCHAR AS client
    FROM events
  )
)
"""


@query(
    "session_window_durations",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
o AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new FROM o),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sess FROM f)
SELECT user_id, min(us) AS window_start_us, max(us) + 1800000000 AS window_end_us,
       count(*) AS n_events
FROM g GROUP BY user_id, sess
""",
)
def session_window_durations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN ``session_window`` (the north-star API): per-session
    aggregation with the 30-min gap rule, one hash aggregate — no window
    functions, no Python. Semantics differences vs the reference's X1,
    both deliberate (SURVEY §2.6): emission is per *closed window* not per
    event (which the reference rejects — the per-event operators above are
    the parity path), gaps compare raw event time with a ``>=`` boundary
    (the reference floors to seconds and cuts strictly ``>``), and
    ``window.end`` = last event + gap. The oracle mirrors session_window's
    own rules, proving the built-in's semantics are exactly characterized."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("window_start_us"),
            F.unix_micros("session_window.end").alias("window_end_us"),
            "n_events",
        )
    )


@query(
    "sessionize_access_logs",
    oracle="WITH RECURSIVE " + _SYNTH_LINES_SQL + """
, toks AS (SELECT string_split(value, ' ') AS t FROM lines),
parsed AS (
  SELECT split_part(t[3], ':', 1) AS host, t[3] AS ip,
         strptime(t[1], '%Y-%m-%dT%H:%M:%S.%fZ') AS tsp
  FROM toks WHERE len(t) = 15
),
ev AS (
  SELECT host, ip, epoch_us(tsp) AS us, epoch_us(tsp)//1000000 AS sec,
         row_number() OVER (PARTITION BY host ORDER BY tsp, ip) AS rn
  FROM parsed
),
sess AS (
  SELECT host, ip, rn, us, sec, us AS start_us, sec AS start_sec, 1 AS cnt
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.host, e.ip, e.rn, e.us, e.sec,
         CASE WHEN c.cut THEN e.us ELSE s.start_us END,
         CASE WHEN c.cut THEN e.sec ELSE s.start_sec END,
         CASE WHEN c.cut THEN 1 ELSE s.cnt + 1 END
  FROM sess s
  JOIN ev e ON e.host = s.host AND e.rn = s.rn + 1
  CROSS JOIN LATERAL (SELECT (e.sec - s.sec > 1800)
                          OR (s.cnt + 1 >= 1500)
                          OR (e.sec - s.start_sec > 43200) AS cut) c
)
SELECT host, ip, us AS ts_us,
       host || '-' || start_us::VARCHAR AS session_id,
       (sec - start_sec)::INT AS duration
FROM sess
""",
)
def sessionize_access_logs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's TRUE end-to-end shape: raw 15-field access-log lines
    → parse (malformed dropped) → per-event sessionize keyed by client
    host. The reference keys on field 2 verbatim (``client:port``,
    ``Parse.scala:15``); the synthesized lines derive the port from the
    event id, which would make every event its own session, so the session
    key here is the host part — the analytically meaningful grouping for
    this rendering (real ELB traffic keeps one client:port across a
    session). Full parse→sessionize chain, one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    lines = synthesize_access_log_lines(ev, malformed_every=50)
    parsed = parse_access_logs(lines).withColumn(
        "host", F.split(F.col("ip"), ":")[0]
    )
    out = sessionize(parsed, key="host", ts="ts", tiebreakers=("ip",))
    return out.select(
        "host", "ip", F.unix_micros("ts").alias("ts_us"), "session_id", "duration"
    )


@query(
    "parse_access_logs",
    oracle="WITH " + _SYNTH_LINES_SQL + """
, toks AS (SELECT string_split(value, ' ') AS t FROM lines)
SELECT t[1] AS timestamp,
       epoch_us(strptime(t[1], '%Y-%m-%dT%H:%M:%S.%fZ')) AS ts_us,
       t[3] AS ip
FROM toks WHERE len(t) = 15
""",
)
def parse_access_logs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: tokenize, drop malformed lines, project + parse timestamp."""
    ev = load_table(spark, sf_dir, "events")
    lines = synthesize_access_log_lines(ev, malformed_every=50)
    parsed = parse_access_logs(lines)
    return parsed.select("timestamp", F.unix_micros("ts").alias("ts_us"), "ip")


@query(
    "session_event_features",
    oracle=_SESSIONIZE_CTE + """
SELECT event_id, user_id, ts_us, session_id, duration,
       row_number() OVER w AS event_idx,
       ts_us // 1000000 - lag(ts_us // 1000000) OVER w AS gap_sec,
       count(*) OVER (PARTITION BY user_id, session_id)::BIGINT AS session_n_events,
       max(duration) OVER (PARTITION BY user_id, session_id) AS session_total_sec
FROM sessionized
WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts_us, event_id)
""",
)
def session_event_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event training features over sessionized output: index within
    session, gap to the previous event, and session-level size/duration
    broadcast onto every event — the feature-extraction step a
    behavioral-model pipeline runs on exactly this session stream.

    Scale shape: TWO exchanges total — the sessionizer's own user_id
    shuffle, plus one (user_id, session_id) exchange for the feature
    windows. The second is unavoidable here because the sessionizer's Arrow
    kernel (applyInPandas) erases output-partitioning lineage, so Catalyst
    cannot prove the rows are still clustered by user_id; it moves only the
    narrow already-sessionized projection, and both feature windows (ordered
    + unordered frames) share it.
    """
    s = _events_sessionized(spark, sf_dir)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id", "session_id")
    sec = (F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
    return s.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "session_id",
        "duration",
        F.row_number().over(w).alias("event_idx"),
        (sec - F.lag(sec).over(w)).alias("gap_sec"),
        F.count(F.lit(1)).over(wp).alias("session_n_events"),
        F.max("duration").over(wp).alias("session_total_sec"),
    )


@query(
    "session_window_stream_durations",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
o AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new FROM o),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sess FROM f)
SELECT user_id, min(us) AS window_start_us, max(us) + 1800000000 AS window_end_us,
       count(*) AS n_events
FROM g GROUP BY user_id, sess
""",
)
def session_window_stream_durations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` aggregation run as an ACTUAL
    STREAM (file replay, 60 s watermark, append mode) — the windowed
    alternative the reference rejected for per-event emission
    (``README.md:69-76``), here proven equal to the batch formulation's
    oracle through the real watermark-driven emission path.

    Append-mode session windows only emit once the WATERMARK passes their
    end, and the watermark for micro-batch N is the max event time through
    batch N-1 minus the delay — so a bounded replay would withhold every
    session within (gap + delay) of the stream's end forever. The replay
    therefore appends two far-future sentinel events for a synthetic user in
    separate files: batch 2's sentinel advances the watermark past every
    real window, batch 3's forces one more batch in which they all emit
    (``maxFilesPerTrigger=1`` pins the file→batch mapping). Sentinels are
    filtered from the result. This is the standard bounded-replay flush
    pattern for watermark-gated emission; in production the stream is
    unbounded and no sentinels exist.
    """
    import glob as _glob
    import os as _os
    import shutil
    import time as _time

    from flink_realtime_sessionize_sample_spark.streaming import (
        build_events_file_stream,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        drain_to_memory,
        scratch_dir,
    )

    sentinel_user = -1
    with scratch_dir("swin_stream_") as base:
        src = f"{base}/src"
        _os.mkdir(src)
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/0_events.parquet")
        # The file source orders by modification time at MILLISECOND
        # granularity; pin explicit strictly-increasing mtimes so the
        # events→sentinel-1→sentinel-2 batch order can never collapse on a
        # fast filesystem.
        base_mtime = _time.time() - 60
        _os.utime(f"{src}/0_events.parquet", (base_mtime, base_mtime))
        ev_schema = spark.read.parquet(f"{src}/0_events.parquet")
        for i, days in ((1, 370), (2, 740)):
            # The file source lists plain files, not nested Spark output
            # dirs — write each sentinel aside and move its single
            # part-file in.
            aside = f"{base}/w{i}"
            ev_schema.limit(1).select(
                F.lit(10_000_000_000 + i).alias("event_id"),
                (F.lit("2025-01-01").cast("timestamp") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
                F.lit(sentinel_user).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            ).coalesce(1).write.parquet(aside)
            dest = f"{src}/{i}_sentinel.parquet"
            shutil.move(_glob.glob(f"{aside}/part-*.parquet")[0], dest)
            _os.utime(dest, (base_mtime + 10 * i, base_mtime + 10 * i))
        stream = build_events_file_stream(spark, src, max_files_per_trigger=1)
        out = (
            stream.withWatermark("ts", "60 seconds")
            .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_micros("session_window.start").alias("window_start_us"),
                F.unix_micros("session_window.end").alias("window_end_us"),
                "n_events",
            )
        )
        rows = drain_to_memory(out, "session_window_stream_durations")
    return rows.filter(F.col("user_id") != sentinel_user)


@query(
    "sessionize_dynamic_gap",
    oracle="""
WITH pol AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, epoch_us(ts)//1000000 AS sec,
         CASE user_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1800 ELSE 3600 END AS gap_seconds
  FROM events
),
o AS (
  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_sec
  FROM pol
),
f AS (
  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > gap_seconds THEN 1 ELSE 0 END AS is_new
  FROM o
),
g AS (
  SELECT *,
         max(CASE WHEN is_new = 1 THEN us END) OVER
           (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS start_us,
         max(CASE WHEN is_new = 1 THEN sec END) OVER
           (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS start_sec
  FROM f
)
SELECT event_id, user_id, us AS ts_us, gap_seconds,
       user_id::VARCHAR || '-' || start_us::VARCHAR AS session_id,
       (sec - start_sec)::INT AS duration
FROM g
""",
)
def sessionize_dynamic_gap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tenant sessionization: the inactivity gap is POLICY DATA —
    each user's segment maps to its own threshold (600/1800/3600 s here, a
    stand-in for a broadcast policy dimension) — applied per-row inside the
    same single-shuffle window formulation
    (operators/sessionize.py::sessionize_dynamic_gap). What the reference
    hard-codes as SESSION_TIMEOUT (SessionizeGroupMapFunction.scala:113)
    becomes a joinable column with zero plan change."""
    from flink_realtime_sessionize_sample_spark.operators.sessionize import (
        sessionize_dynamic_gap,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pol = ev.withColumn(
        "gap_seconds",
        F.when(F.col("user_id") % 3 == 0, 600)
        .when(F.col("user_id") % 3 == 1, 1800)
        .otherwise(3600),
    )
    out = sessionize_dynamic_gap(pol, key="user_id", ts="ts", tiebreakers=("event_id",))
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "gap_seconds",
        "session_id",
        "duration",
    )


@query(
    "session_funnel_conversion",
    oracle=_SESSIONIZE_CTE + """
, enriched AS (
  SELECT s.user_id, s.session_id, s.ts_us, e.event_type
  FROM sessionized s JOIN events e USING (event_id)
), s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
               OVER (PARTITION BY user_id, session_id) AS t_view
  FROM enriched
), s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > t_view THEN ts_us END)
               OVER (PARTITION BY user_id, session_id) AS t_click
  FROM s1
), s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > t_click THEN ts_us END)
               OVER (PARTITION BY user_id, session_id) AS t_purchase
  FROM s2
), per_session AS (
  SELECT user_id, session_id, max(t_view) AS tv, max(t_click) AS tc, max(t_purchase) AS tp
  FROM s3 GROUP BY user_id, session_id
)
SELECT count(*)::BIGINT AS sessions_total,
       count(tv)::BIGINT AS sessions_view,
       count(tc)::BIGINT AS sessions_view_click,
       count(tp)::BIGINT AS sessions_view_click_purchase
FROM per_session
""",
)
def session_funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel WITHIN sessions: view → click → purchase must complete inside
    one session (the reference's full gap/size/duration semantics), the
    composition a product team actually runs on sessionized output — a
    cross-session funnel overstates conversion whenever intent resets.

    Scale shape: the sessionizer's shuffle + one (user, session) exchange
    for the three chained window aggregates (the Arrow kernel erases
    partitioning lineage — same contract as session_event_features); the
    per-session collapse and 1-row count reuse that partitioning.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    s = sessionize(ev, key="user_id", ts="ts", tiebreakers=("event_id",))
    wp = Window.partitionBy("user_id", "session_id")
    us = F.unix_micros("ts")
    s1 = s.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", us)).over(wp)
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when((F.col("event_type") == "click") & (us > F.col("t_view")), us)
        ).over(wp),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when((F.col("event_type") == "purchase") & (us > F.col("t_click")), us)
        ).over(wp),
    )
    per_session = s3.groupBy("user_id", "session_id").agg(
        F.max("t_view").alias("tv"),
        F.max("t_click").alias("tc"),
        F.max("t_purchase").alias("tp"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("sessions_total"),
        F.count("tv").alias("sessions_view"),
        F.count("tc").alias("sessions_view_click"),
        F.count("tp").alias("sessions_view_click_purchase"),
    )


@query(
    "pipeline_json_sink_roundtrip",
    oracle=_SESSIONIZE_CTE + """
SELECT user_id, sum(session_duration)::BIGINT AS total_duration
FROM (
  SELECT user_id, session_id, max(duration) AS session_duration
  FROM sessionized GROUP BY user_id, session_id
) GROUP BY user_id
""",
)
def pipeline_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE production pipeline as one driver-checkable
    round trip: file source → 60 s watermark (W1,
    ``RealtimeSessionize.scala:130-136``) → bucketed stateful sessionize
    (X1) → JSON encode (K1, ``:158,174``) → checkpointed file sink (K2/K3
    discipline, ``:150-159``) — then the sink's JSON lines are read BACK,
    schema-inferred, and collapsed with the README's own OLAP query
    (``README.md:42-50``), so the driver's value hash certifies the
    serialized bytes round-trip losslessly, not just the in-memory rows.

    The sink side is the K3 exactly-once story in miniature: Spark's file
    sink commits files through the checkpoint's manifest, so a re-run
    against the same checkpoint cannot double-write (the Kafka variant
    substitutes the dedup-key/foreachBatch sinks of
    streaming/pipeline.py:215,270 — broker-gated here). The oracle is the
    batch recursive-CTE sessionizer: stream bytes ≡ batch semantics, the
    reference's batch/realtime consistency goal (``README.md:31``).
    """
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    from flink_realtime_sessionize_sample_spark.streaming import (
        build_events_file_stream,
    )
    from flink_realtime_sessionize_sample_spark.streaming.pipeline import (
        run_sessionize_pipeline,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        await_stream,
        scratch_dir,
    )

    # The returned DataFrame reads the sink's JSON lazily: its dir lives
    # until the process exits.
    out_dir = tempfile.mkdtemp(prefix="pipe_rt_out_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    with scratch_dir("pipe_rt_") as base:
        os.mkdir(f"{base}/src")
        shutil.copy(f"{sf_dir}/events.parquet", f"{base}/src/events.parquet")
        q = run_sessionize_pipeline(
            spark,
            build_events_file_stream(spark, f"{base}/src"),
            checkpoint_dir=f"{base}/ckpt",
            out_path=out_dir,
            trigger_available_now=True,
            queryName=f"pipe_rt_{uuid.uuid4().hex[:8]}",
        )
        await_stream(q, "pipeline_json_sink_roundtrip")
    decoded = spark.read.json(out_dir)
    return (
        decoded.groupBy("user_id", "session_id")
        .agg(F.max("duration").alias("session_duration"))
        .groupBy("user_id")
        .agg(F.sum("session_duration").cast("long").alias("total_duration"))
    )


@query(
    "session_markov_transitions",
    oracle=_SESSIONIZE_CTE + """
, typed AS (
  SELECT s.user_id, s.session_id, s.ts_us, s.event_id, e.event_type
  FROM sessionized s JOIN events e USING (event_id)
), pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id, session_id
                                ORDER BY ts_us, event_id) AS nxt
  FROM typed
), cnt AS (
  SELECT cur, nxt, count(*)::BIGINT AS n FROM pairs
  WHERE nxt IS NOT NULL GROUP BY cur, nxt
)
SELECT cur, nxt, n,
       round(n / (sum(n) OVER (PARTITION BY cur)), 6) + 0.0 AS p
FROM cnt
""",
)
def session_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types WITHIN sessions
    — P(next | current) estimated only across consecutive events of the
    same session, so cross-session (returning-user) jumps never pollute
    the chain. The behavioral-model counterpart of
    ``event_sequence_trigrams``, composed on the flagship sessionizer
    (gap/size/duration cuts define the chain boundaries).

    One user_id exchange drives both the sessionizer and the lead()
    window (same partitioning, Catalyst reuses the sort); transition
    counts collapse to an O(|event types|²) table, on which the
    row-normalization window is bounded by construction (25 rows here) —
    the same defended shape as the BPE alphabet² ranking.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    sess = sessionize(ev, key="user_id", ts="ts", tiebreakers=("event_id",))
    w = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    pairs = sess.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    w_cur = W.partitionBy("cur")
    return cnt.select(
        "cur",
        "nxt",
        "n",
        (F.round(F.col("n") / F.sum("n").over(w_cur), 6) + F.lit(0.0)).alias("p"),
    )
