"""Streaming per-event sessionization — the reference's X1 operator on
Structured Streaming.

Reference: ``SessionizeGroupMapFunction.scala:10-117`` — a ``RichMapFunction``
over TTL'd keyed ``MapState`` that emits EVERY event immediately, enriched
with its session id and running duration (per-event emission is the
reference's explicit design goal; it rejects window-close emission,
``README.md:69-76``).

Spark mapping: ``applyInPandasWithState`` grouped by a coarse hash bucket of
the key, with a per-user state map inside each bucket — the reference's own
layout (``Sessionize.scala:5`` keys by ``ip.hashCode % 1200``,
``SessionizeGroupMapFunction.scala:13`` keeps ``MapState[ip, SessionState]``
within each coarse key). State entry ≙ ``SessionState.scala:3-9``:
``(start_us, first_sec, last_sec, count)``. The cut chain itself is the
batch operator's kernel, ``operators.sessionize.make_session_kernel``. The
12 h state TTL (``SessionizeGroupMapFunction.scala:93-104``) maps to a
processing-time timeout plus per-user pruning.

Ordering semantics (SURVEY §2.4): the reference's watermark is inert for a
map-only pipeline — it sessionizes in ARRIVAL order with a monotonic-max
guard on ``lastTimestamp`` (``:72-77``), and its own docs reconcile the
resulting duration dips downstream with MAX(duration). We keep exactly that:
arrival order across micro-batches, deterministic (ts, tiebreaker) order
within a micro-batch, same monotonic-max guard. On in-order input this
equals the batch formulation event-for-event; on late data it matches after
the MAX-collapse, which is the reference's own contract.

Scale: state is one fixed-size tuple per active key, partitioned by the
shuffle; RocksDB state store + changelog checkpointing handle 100 M+ keys
per the standard Structured Streaming deployment recipe (see session conf in
``rocksdb_state_conf``).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_realtime_sessionize_sample_spark.operators.sessionize import (
    MAX_SESSION_DURATION_SECONDS,
    make_session_kernel,
)

STATE_TTL_MS = MAX_SESSION_DURATION_SECONDS * 1000  # 12 h, :93-104

# Coarse-key bucket count of sessionize_stream_bucketed. The
# reference keys by ``ip.hashCode % 1200`` with parallelism 120 (10 buckets
# per subtask, conf/sessionize.conf:19); we use 4 buckets per local
# core at 32 shuffle partitions. The bucket count does NOT affect results
# (state is still per user within a bucket) — only parallelism granularity
# and per-batch Arrow-channel amortization.
DEFAULT_SESSION_BUCKETS = 128


# Stored as parallel arrays (one GroupState row per bucket): ``keys[i]`` ↔
# the i-th user's SessionState fields, sorted by key.
_BUCKET_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("start_us", ArrayType(LongType())),
        StructField("first_sec", ArrayType(LongType())),
        StructField("last_sec", ArrayType(LongType())),
        StructField("count", ArrayType(IntegerType())),
    ]
)


def sessionize_stream_bucketed(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreakers: Iterable[str] = ("event_id",),
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming DataFrame → per-event (all columns + session_id + duration),
    with the reference's COARSE-KEY state layout: group by
    ``pmod(xxhash64(key), DEFAULT_SESSION_BUCKETS)`` (≙ ``Sessionize.scala:5``'s
    ``hashCode % 1200``, non-negative) and keep a per-user map within each
    bucket (≙ ``SessionizeGroupMapFunction.scala:13``'s
    ``MapState[ip, SessionState]``).

    Each input row is emitted exactly once (a stateful flatMap, not a
    windowed aggregate), so **append** mode is the natural fit and enables
    file sinks. Works on bounded batch DataFrames too. The bucket count is
    pure physical layout; the win is throughput: ``applyInPandasWithState``
    pays a per-GROUP Arrow round trip, so grouping by bucket instead of by
    user amortizes that cost over all the bucket's users (measured 124.7 k
    against 12.0 k ev/s for one group per user, local[4]).

    Per micro-batch, all of a bucket's Arrow chunks are concatenated and
    sorted once by (key, ts, tiebreakers), each user's carry is looked up in
    the bucket's sorted state, and the shared kernel
    (``make_session_kernel``) runs once — so a user whose rows straddle
    Arrow chunks is still processed in event-time order within the batch.
    State keys are stored as strings (``str(key_value)``) — stable for the
    int/string key types this engine supports.

    TTL (``state_ttl_ms``): a processing-time timeout on each BUCKET's state
    (refreshed every batch it sees data), plus per-USER pruning — users idle
    longer than the TTL relative to the bucket's max observed event time are
    dropped, mirroring the reference's per-entry 12 h MapState TTL
    (``SessionizeGroupMapFunction.scala:93-104``). Pruning is
    semantics-neutral: any later event for a pruned user is > GAP_SECONDS
    stale by construction, so it would open a new session with or without
    the state entry. Leave ``None`` for bounded replays: with processing-time
    timers armed, an ``availableNow`` run keeps scheduling state-cleanup
    micro-batches until the timers fire.
    """
    sort_cols = [key, "_us", *tiebreakers]
    out_cols = list(df.columns) + ["session_start_us", "duration"]
    # The kernel emits the NUMERIC session start; the session_id string is
    # concatenated JVM-side (codegen), not per row in pandas.
    inner_schema = StructType(
        list(df.schema.fields)
        + [StructField("session_start_us", LongType()), StructField("duration", IntegerType())]
    )
    ttl_sec = (state_ttl_ms // 1000) if state_ttl_ms is not None else None
    key_runs, cut_sessions = make_session_kernel()

    def fn(
        key_tuple: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        k = pdf[key].to_numpy()
        us = pdf.pop("_us").to_numpy()
        sec = us // 1_000_000
        r0 = key_runs(k)
        run_keys = k[r0].astype(str)
        carry = np.zeros((4, len(r0)), dtype=np.int64)
        if state.exists:
            stored = state.get
            s_keys = np.array(stored[0], dtype=str)
            s_vals = np.array(stored[1:], dtype=np.int64)
            at = np.minimum(np.searchsorted(s_keys, run_keys), len(s_keys) - 1)
            hit = s_keys[at] == run_keys
            carry[:, hit] = s_vals[:, at[hit]]
            kept = np.ones(len(s_keys), dtype=bool)
            kept[at[hit]] = False
            s_keys, s_vals = s_keys[kept], s_vals[:, kept]
        else:
            s_keys, s_vals = run_keys[:0], carry[:, :0]
        start_us, dur, carry = cut_sessions(r0, sec, us, carry)
        pdf["session_start_us"] = start_us
        pdf["duration"] = dur.astype("int32")
        yield pdf[out_cols]

        s_keys = np.concatenate((s_keys, run_keys))
        s_vals = np.concatenate((s_vals, carry), axis=1)
        if ttl_sec is not None:
            # Per-user TTL ≙ the reference's per-entry MapState TTL.
            live = s_vals[2] >= int(sec.max()) - ttl_sec
            s_keys, s_vals = s_keys[live], s_vals[:, live]
        if len(s_keys):
            order = np.argsort(s_keys, kind="stable")  # deterministic state bytes
            state.update((s_keys[order].tolist(), *s_vals[:, order].tolist()))
        elif state.exists:
            state.remove()
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    bucketed = df.withColumn("_us", F.unix_micros(F.col(ts))).withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(DEFAULT_SESSION_BUCKETS))
    )
    inner = bucketed.groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=inner_schema,
        stateStructType=_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return inner.select(
        *df.columns,
        F.concat_ws(
            "-", F.col(key).cast("string"), F.col("session_start_us").cast("string")
        ).alias("session_id"),
        "duration",
    )


def rocksdb_state_conf() -> dict[str, str]:
    """Session confs for large-state deployments (RocksDB state store with
    changelog checkpointing) — the Spark analog of the reference's RocksDB
    backend + incremental checkpoints (README.md:92-100)."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
