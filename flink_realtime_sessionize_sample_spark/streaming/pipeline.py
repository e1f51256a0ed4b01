"""End-to-end streaming pipeline assembly — the reference's main job, Spark-first.

Reference assembly (``RealtimeSessionize.scala:82-178``):
Kafka/file source → parse → (debug ts-shift) → watermark → keyBy →
stateful sessionize → JSON encode → Kafka/file sink.

Spark assembly: ``readStream`` → identical batch column expressions →
``withWatermark`` → ``sessionize_stream_bucketed`` → ``to_json(struct(*))`` →
``writeStream``. Each piece is usable à la carte; ``run_sessionize_pipeline``
wires the whole thing.

Kafka parity notes (S1/K3): option passthrough mirrors
``KafkaConfig.scala:29-40`` incl. SASL; the reference requests EXACTLY_ONCE
from its Kafka producer (``RealtimeSessionize.scala:170``) — Spark's Kafka
sink is at-least-once, so exactly-once parity requires an idempotent reader
keyed on (session_id, ts) or a ``foreachBatch`` transactional writer; the
reference's own sink is also broken-as-written (bootstrap servers hardcoded
empty — quirk Q5). The Kafka paths require the spark-sql-kafka connector jar
on the classpath; they construct lazily so file-based deployments never need
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs
from flink_realtime_sessionize_sample_spark.sources.registry import read_normalized
from flink_realtime_sessionize_sample_spark.streaming.sessionize_stream import (
    STATE_TTL_MS,
    sessionize_stream_bucketed,
)

WATERMARK_DELAY = "60 seconds"  # W1: RealtimeSessionize.scala:131


def build_events_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S2 analog: file-replay source of the events table (parquet dir/glob),
    with ``load_table``'s ts normalization (``sources.registry.read_normalized``)."""

    def read() -> DataFrame:
        reader = spark.readStream.schema(spark.read.parquet(path).schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(path)

    return read_normalized(spark, read)


def build_kafka_line_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """S1: Kafka UTF-8 line source, latest offsets like the reference
    (``FlinkKafkaConsumer...setStartFromLatest``, ``RealtimeSessionize.scala:94-102``)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (extra_options or {}).items():
        # SASL/Kerberos passthrough ≙ KafkaConfig.scala:34-38
        reader = reader.option(k if k.startswith("kafka.") else f"kafka.{k}", v)
    return reader.load().select(F.col("value").cast("string").alias("value"))


def encode_json(df: DataFrame) -> DataFrame:
    """K1: record → JSON string (json4s ``write`` ≙ ``to_json(struct(*))``,
    ``RealtimeSessionize.scala:147,158,174``)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def write_kafka_sink(df: DataFrame, bootstrap_servers: str, topic: str, checkpoint_dir: str):
    """K3: Kafka JSON sink (at-least-once; see module docstring)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def enrich_stream_static(
    stream: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a (small) static
    dimension. The dim side is broadcast so enrichment never re-shuffles
    the stream — the standard pattern for user/geo lookup tables
    (SURVEY.md §2.9 join scope, streaming variant)."""
    return stream.join(F.broadcast(dim), on, how)


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = WATERMARK_DELAY,
) -> DataFrame:
    """Stream-stream inner join: pair each left event with the right events
    of the same key within ``[left_ts - max_delay, left_ts]``.

    Both sides get watermarks and the join condition carries the explicit
    time bound — the two things Structured Streaming needs to know when
    buffered join state can be evicted (without them the state store grows
    unboundedly). ``left_ts``/``right_ts`` must be distinct column names.
    SURVEY.md §2.9: the reference has no joins; this is the streaming
    member of the beyond-parity join family (batch as-of/interval joins
    live in ``operators/temporal_join.py``).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {max_delay}"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, "inner").drop(r[on])


def join_streams_interval_outer(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = WATERMARK_DELAY,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: like ``join_streams_interval``
    but left rows with no matching right row are still emitted (right columns
    null) — once the watermark guarantees no match can arrive. That guarantee
    is exactly why outer stream joins REQUIRE the watermark + time-bound
    condition: an unmatched row is only provably unmatched when event time
    has moved past its join window, so null-padded results trail the inner
    results by up to (max_delay + watermark). State stays bounded by the same
    eviction rule as the inner join."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {max_delay}"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, "leftOuter").drop(r[on])


def windowed_user_counts(
    stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    window: str = "1 hour",
    watermark: str = WATERMARK_DELAY,
) -> DataFrame:
    """A3-style ongoing analytics on the raw stream: per-user event counts
    in tumbling event-time windows, late data bounded by the watermark.
    Emits in update mode (the reference's per-event-progress stance) or
    append after window close."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key,
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    stream: DataFrame, keys: list[str], ts_col: str, watermark: str = WATERMARK_DELAY
) -> DataFrame:
    """Streaming exact dedup bounded by a watermark:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts the
    key's dedup state once the watermark passes it — state stays O(keys in
    the watermark horizon), not O(all keys ever), which is what makes
    at-least-once upstream (e.g. the Kafka source replaying a micro-batch)
    safe to run unattended at 100 TB/day. The batch analog is
    ``dropDuplicates`` (queries(): ``dedup_exact``)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_foreach_batch_dedup(
    df: DataFrame, out_dir: str, checkpoint_dir: str, dedup_keys: list[str]
):
    """Exactly-once-style sink via ``foreachBatch``: each micro-batch is
    deduplicated on ``dedup_keys`` before an idempotent parquet append.

    This is the documented Spark answer to the reference's EXACTLY_ONCE
    Kafka producer (``RealtimeSessionize.scala:170``): Spark's Kafka sink
    is at-least-once, so exactly-once delivery = deterministic dedup keys
    (session_id, event identity) + an idempotent/transactional writer.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.dropDuplicates(dedup_keys)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def write_foreach_batch_partition_overwrite(
    df: DataFrame, out_dir: str, checkpoint_dir: str, partition_col: str
):
    """Idempotent ``foreachBatch`` sink via DYNAMIC partition overwrite:
    each micro-batch rewrites exactly the hive partitions it touches
    (``partitionOverwriteMode=dynamic``), so a replayed batch (failure
    between sink write and checkpoint commit — the at-least-once window)
    lands byte-identical instead of appending duplicates. This is the
    scalable exactly-once recipe when rows carry no natural dedup key:
    correctness comes from write-path idempotence, not read-path dedup, and
    a 1000-executor job only ever rewrites the micro-batch's own partitions,
    never the table."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(out_dir)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def write_foreach_batch_batchdir_overwrite(
    df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Idempotent ``foreachBatch`` sink #3: micro-batch N writes to its OWN
    directory ``out_dir/batch_id=N`` with overwrite. The offset log pins
    batch N to a fixed input slice, so a replayed batch (crash in the
    at-least-once window: sink wrote, commit log entry missing) re-lands
    byte-identical instead of appending duplicates — the classic
    per-batch-directory exactly-once file-sink recipe, ≙ the reference's
    EXACTLY_ONCE checkpoint contract (``FlinkConfig.scala:46-59``,
    ``RealtimeSessionize.scala:170``). Readers see ``out_dir`` as a
    hive-partitioned table (partition column ``batch_id``). Exercised by
    the kill-and-resume drill in ``tests/test_streaming.py``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def run_sessionize_pipeline(
    spark: SparkSession,
    source: DataFrame,
    checkpoint_dir: str,
    out_path: str | None = None,
    raw_lines: bool = False,
    key: str = "user_id",
    ts: str = "ts",
    tiebreakers=("event_id",),
    trigger_available_now: bool = False,
    queryName: str = "realtime-sessionize",
):
    """Assemble parse → watermark → sessionize → JSON → sink and start it.

    ``raw_lines=True`` runs the reference's actual input shape (access-log
    lines, key=ip); otherwise the events-table shape. Sessionizes with the
    reference's coarse-key state layout (``sessionize_stream_bucketed``).
    Returns the started ``StreamingQuery``.
    """
    if raw_lines:
        parsed = parse_access_logs(source)
        key, ts, tiebreakers = "ip", "ts", ()
    else:
        parsed = source
    # 12 h idle-state TTL only for continuous runs: processing-time timers
    # prevent an availableNow replay from ever terminating.
    sessionized = sessionize_stream_bucketed(
        parsed.withWatermark(ts, WATERMARK_DELAY),
        key=key,
        ts=ts,
        tiebreakers=tiebreakers,
        state_ttl_ms=None if trigger_available_now else STATE_TTL_MS,
    )
    out = encode_json(sessionized)
    writer = out.writeStream.queryName(queryName).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    if out_path is None:
        writer = writer.format("console")
    else:
        writer = writer.format("text").option("path", out_path)
    return writer.outputMode("append").start()
