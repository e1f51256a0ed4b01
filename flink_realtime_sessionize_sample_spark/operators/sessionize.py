"""Batch sessionization — the reference's core operator, rebuilt Spark-native.

Reference: ``processes/sessionize/SessionizeGroupMapFunction.scala:10-117``
(a Flink ``RichMapFunction`` over TTL'd keyed ``MapState``). Decision
procedure per event, for key ``ip`` (SURVEY.md §2.6):

1. no state            → new session, duration 0
2. gap cut             → ``ts_sec − last_sec > 1800``            (``:35,113``)
3. size cut            → ``count + 1 >= 1500`` (max 1499 events)  (``:47,115``)
4. duration cut        → ``ts_sec − first_sec > 43200`` (strict)  (``:59,114``)
5. else continuation   → duration = ``ts_sec − first_sec``        (``:83``)

``session_id = "{key}-{first event's timestamp}"`` (``:107``); duration is
integer whole seconds, 0 on every session-opening event (``:28,43,55,67``).
We implement the *intended* semantics (quirk Q1 in SURVEY §2.10: the literal
code compares millis to seconds, making every event a new session; the
README's stated 30-minute-gap rule is what we build).

Spark-first design — why this shape scales to 100 TB
----------------------------------------------------
The size/duration caps make exact sessionization inherently sequential
*within* a gap-session (each cut moves the anchor the next cut is measured
from) — not expressible in window functions. But the whole cut chain is
**forward-only**, so the operator is ONE shuffle on the key, ONE
in-partition sort, and ONE scalar-iterator ``pandas_udf`` pass with O(1)
state carried across Arrow batches (``sessionize``). Only two columns cross
the Arrow/Python boundary — the key and ``unix_micros(ts)`` — and only two
come back (session start micros, duration); every other column stays in the
JVM, where Catalyst prunes whatever the consumer never reads. The cut chain
itself is one numpy kernel, ``make_session_kernel``: rows sorted by key and
time plus a carried state per key in, per-row session start/duration plus
state out. Batch carries state between Arrow batches; the streaming
sessionizer (``streaming.sessionize_stream_bucketed``) carries it between
micro-batches. The common case is pure vectorized numpy; only cap-tripping
segments loop. The gap-only rule IS window-expressible and ships as the
zero-Python ``sessionize_gap_only`` — the shape Catalyst optimizes
end-to-end — for workloads that don't need the caps.

Late data: batch mode sorts by ``(ts, tiebreaker)`` within key, which is the
deterministic formulation the oracle checks (SURVEY §2.4 — the reference's
watermark is inert and it processes arrival order, compensating downstream
with MAX(duration); after that collapse, both formulations agree).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Constants from SessionizeGroupMapFunction.scala:113-115 (intended units).
GAP_SECONDS = 1800
MAX_SESSION_EVENTS = 1499  # "count + 1 >= 1500" → a session holds ≤ 1499 events (quirk Q3)
MAX_SESSION_DURATION_SECONDS = 43200  # 12 h, strict >


def _sec(col: str | Column) -> Column:
    """Epoch whole seconds (floor), matching the reference's ``ts / 1000``
    integer division on epoch millis and DuckDB's ``epoch_us(ts)//1000000``."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.unix_micros(c) / F.lit(1000000)).cast("long")  # micros are non-negative here; / then cast = floor


def make_session_kernel(
    gap_seconds: int = GAP_SECONDS,
    max_events: int = MAX_SESSION_EVENTS,
    max_duration_seconds: int = MAX_SESSION_DURATION_SECONDS,
):
    """Build THE session cut chain (SessionizeGroupMapFunction.scala:19-84)
    shared by batch ``sessionize`` and ``streaming.sessionize_stream_bucketed``.

    Returns ``(key_runs, cut_sessions)`` as CLOSURES, not module functions:
    the pandas functions that call them ship to Python workers via
    cloudpickle, which serializes dynamically-created functions BY VALUE but
    module-level ones BY REFERENCE — and the workers of a caller-owned
    SparkSession may not be able to import this package.

    * ``key_runs(k)`` → start index of each run of equal keys in ``k``.
    * ``cut_sessions(r0, sec, us, carry)`` takes rows sorted by (key, ts,
      tiebreakers) as epoch ``sec``/``us`` arrays, their key-run starts
      ``r0``, and the carried ``SessionState`` (SessionState.scala:3-9) of
      each run as an int64 ``(4, len(r0))`` array of rows ``start_us,
      first_sec, last_sec, count`` (count 0 = no open session). Returns
      per-row session start micros, per-row duration seconds, and the
      carry-out array of the same shape.

    The carried state may be NEWER than the rows (a late micro-batch): until
    a run's first cut its rows continue the carried session, with the gap
    measured against the monotonic-max guarded ``last_sec``
    (SessionizeGroupMapFunction.scala:72-77) — closed-form in the row index,
    so it vectorizes. From the first cut on, the run is a fresh sorted
    sequence: gap boundaries by shifted compare, cap-clean segments by
    ``np.repeat``, and only segments that trip the 1499-event / 12 h caps
    (rare by construction) take a sequential loop.
    """

    def key_runs(k):
        import numpy as np

        new = np.empty(len(k), dtype=bool)
        new[0] = True
        new[1:] = k[1:] != k[:-1]
        return np.flatnonzero(new)

    def cut_sessions(r0, sec, us, carry):
        import numpy as np

        n = len(sec)
        c_start, c_first, c_last, c_count = carry
        run_len = np.diff(np.append(r0, n))
        prev = np.empty(n, dtype=np.int64)
        prev[0] = sec[0]
        prev[1:] = sec[:-1]
        is_new = sec - prev > gap_seconds  # :31-45
        is_new[r0] = True
        cont = np.zeros(n, dtype=bool)  # row continues its run's carried session
        cr = np.flatnonzero(c_count > 0)
        if len(cr):
            lens = run_len[cr]
            crow = np.repeat(cr, lens)
            pos = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
            ci = r0[crow] + pos
            last = c_last[crow]
            prev_eff = np.where(pos > 0, np.maximum(last, prev[ci]), last)
            cut = (
                (sec[ci] - prev_eff > gap_seconds)
                | (c_count[crow] + pos >= max_events)
                | (sec[ci] - c_first[crow] > max_duration_seconds)
            )
            n_cut = np.cumsum(cut)
            n_cut -= np.repeat(n_cut[pos == 0] - cut[pos == 0], lens)  # cuts so far in the run
            cont[ci] = n_cut == 0
            is_new[ci] = (n_cut > 0) & (is_new[ci] | (cut & (n_cut == 1)))

        # Segments: every session opening, plus each run start (a carried
        # prefix is a segment whose anchor comes from the carry).
        seg = is_new.copy()
        seg[r0] = True
        i0 = np.flatnonzero(seg)
        i1 = np.append(i0[1:], n)
        seg_len = i1 - i0
        fs = sec[i0].copy()
        fu = us[i0].copy()
        c0 = np.zeros(len(i0), dtype=np.int64)
        cs = np.flatnonzero(cont[i0])
        if len(cs):
            rs = np.searchsorted(r0, i0[cs])
            fs[cs], fu[cs], c0[cs] = c_first[rs], c_start[rs], c_count[rs]
        # Cap-clean iff the closing count is within budget and the last
        # (latest) row is inside the 12 h span; a carried prefix always is.
        ok = (c0 + seg_len <= max_events) & (sec[i1 - 1] - fs <= max_duration_seconds)
        row_fs = np.repeat(fs, seg_len)
        row_fu = np.repeat(fu, seg_len)
        c_end = c0 + seg_len
        for si in np.flatnonzero(~ok):
            # Exact sequential cut chain (:47-68); gap cuts cannot fire
            # inside a gap segment.
            f, u, c = int(fs[si]), int(fu[si]), int(c0[si])
            for i in range(i0[si], i1[si]):
                c += 1
                if c > max_events or sec[i] - f > max_duration_seconds:
                    f, u, c = int(sec[i]), int(us[i]), 1
                row_fs[i] = f
                row_fu[i] = u
            fs[si], fu[si], c_end[si] = f, u, c

        ls = np.searchsorted(i0, r0 + run_len) - 1  # last segment of each run
        last = sec[r0 + run_len - 1]
        last = np.where(cont[i0[ls]], np.maximum(c_last, last), last)
        return row_fu, sec - row_fs, np.stack((fu[ls], fs[ls], last, c_end[ls]))

    return key_runs, cut_sessions


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreakers: Iterable[str] = ("event_id",),
    gap_seconds: int = GAP_SECONDS,
    max_events: int = MAX_SESSION_EVENTS,
    max_duration_seconds: int = MAX_SESSION_DURATION_SECONDS,
) -> DataFrame:
    """Attach ``session_id`` (string) and ``duration`` (int seconds) to every event.

    Output: all input columns + ``session_id`` + ``duration``. Session ids are
    ``{key}-{unix_micros(first event ts)}`` — deterministic per input like the
    reference's ``"{ip}-{timestamp}"`` (quirk Q8), using the numeric instant so
    Spark and DuckDB render identically.

    Implementation: ONE shuffle on ``key``, ONE in-partition sort on
    ``(key, ts, *tiebreakers)``, then ONE scalar-iterator ``pandas_udf``
    over just ``(key, unix_micros(ts))`` that returns
    ``struct<start_us bigint, duration int>`` per row through
    ``make_session_kernel``. The cut chain (SessionizeGroupMapFunction.scala:35-83)
    is **forward-only** — every event's session assignment depends only on
    earlier events of the same key — so a single streaming pass that hands
    the last key run's carry-out to the next Arrow batch computes it exactly;
    nothing ever needs to look ahead or buffer. ``session_id``'s string
    concat happens JVM-side after the pass.

    The UDF is a projection, so the other input columns never cross the
    Arrow boundary and Catalyst prunes the ones the consumer drops (a
    ``mapInPandas`` pass would hide its columns from Catalyst and ship them
    all through Python and back). The UDF is marked nondeterministic because
    its result depends on row ORDER, which Catalyst does not model for a
    deterministic expression: with a deterministic UDF, ``EliminateSorts``
    removes the in-partition ``Sort`` under an order-insensitive consumer
    such as ``user_total_durations`` and the kernel silently sessionizes
    rows in file order. Nondeterminism also keeps a filter on the output
    above the kernel, where it cannot change which events a session sees.
    """
    key_runs, cut_sessions = make_session_kernel(gap_seconds, max_events, max_duration_seconds)

    def run(batches: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ck = carry = None  # last key of the previous batch and its carry-out
        for keys, us in batches:
            if len(keys) == 0:
                yield pd.DataFrame({"start_us": us, "duration": us.astype("int32")})
                continue
            k = keys.to_numpy()
            us = us.to_numpy()
            # floor-division == the reference's ts/1000 integer math (_sec)
            sec = us // 1_000_000
            r0 = key_runs(k)
            c = np.zeros((4, len(r0)), dtype=np.int64)
            if carry is not None and k[0] == ck:
                c[:, 0] = carry
            start_us, dur, c = cut_sessions(r0, sec, us, c)
            ck, carry = k[-1], c[:, -1]
            yield pd.DataFrame({"start_us": start_us, "duration": dur.astype("int32")})

    kernel = F.pandas_udf(run, "start_us bigint, duration int").asNondeterministic()
    s = (
        df.repartition(F.col(key))
        .sortWithinPartitions(key, ts, *tiebreakers)
        .withColumn("_session", kernel(F.col(key), F.unix_micros(F.col(ts))))
    )
    return s.select(
        *df.columns,
        F.concat_ws("-", F.col(key).cast("string"), F.col("_session.start_us").cast("string")).alias(
            "session_id"
        ),
        # The kernel never returns a null; coalesce only restores the
        # non-nullable ``duration`` of the output schema.
        F.coalesce(F.col("_session.duration"), F.lit(0)).alias("duration"),
    )


def _gap_window(df: DataFrame, key: str, ts: str, tiebreakers: Iterable[str], gap: Column) -> DataFrame:
    """Gap-only sessionization as one window pass: a row opens a session when
    its predecessor is more than ``gap`` seconds earlier."""
    order_asc = [F.col(ts).asc()] + [F.col(c).asc() for c in tiebreakers]
    w = Window.partitionBy(key).orderBy(*order_asc)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = (
        df.withColumn("_sec", _sec(ts))
        .withColumn("_us", F.unix_micros(F.col(ts)))
        .withColumn("_prev_sec", F.lag("_sec").over(w))
        .withColumn(
            "_is_new",
            F.col("_prev_sec").isNull() | (F.col("_sec") - F.col("_prev_sec") > gap),
        )
    )
    start = F.max(F.when(F.col("_is_new"), F.struct("_sec", "_us"))).over(run)
    return (
        base.withColumn("session_id", F.concat_ws("-", F.col(key).cast("string"), start["_us"].cast("string")))
        .withColumn("duration", (F.col("_sec") - start["_sec"]).cast("int"))
        .select(*df.columns, "session_id", "duration")
    )


def sessionize_gap_only(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreakers: Iterable[str] = ("event_id",),
    gap_seconds: int = GAP_SECONDS,
) -> DataFrame:
    """Pure window-function sessionization with only the inactivity-gap rule.

    This is the canonical single-shuffle, zero-Python formulation — the shape
    Catalyst optimizes end-to-end — and matches the reference whenever no
    session reaches the 1499-event / 12 h caps.
    """
    return _gap_window(df, key, ts, tiebreakers, F.lit(gap_seconds))


def session_durations(sessionized: DataFrame, key: str = "user_id") -> DataFrame:
    """A1 (``README.md:42-50``): collapse per-event running durations to the
    session's final duration — ``MAX(duration) GROUP BY key, session_id``.

    Partial aggregation (map-side combine) is automatic; the shuffle key
    (key, session_id) is strictly finer than the sessionize shuffle's (key),
    so at scale this coalesces well under AQE.
    """
    return sessionized.groupBy(key, "session_id").agg(F.max("duration").alias("session_duration"))


def user_total_durations(sessionized: DataFrame, key: str = "user_id") -> DataFrame:
    """A2, the flagship: total time-on-site per user (``README.md:42-50``)."""
    return (
        session_durations(sessionized, key)
        .groupBy(key)
        .agg(F.sum("session_duration").alias("total_duration"))
    )


def sessionize_dynamic_gap(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreakers: Iterable[str] = ("event_id",),
    gap_col: str = "gap_seconds",
) -> DataFrame:
    """Gap sessionization with a PER-ROW gap policy: the inactivity
    threshold comes from a column (e.g. joined from a per-tenant/segment
    policy dimension) instead of a global constant — multi-tenant session
    semantics in the same single-shuffle window formulation as
    ``sessionize_gap_only`` (the gap predicate is per-row codegen; nothing
    about the plan changes, which is the point of keeping policy as data).

    A NULL gap (a tenant missing from the policy dimension after a left
    join) fails fast: without the guard, ``sec - prev_sec > NULL`` is NULL,
    the boundary predicate silently holds the session open, and a missing
    policy row becomes silently-wrong sessions instead of an error.
    """
    checked_gap = F.when(F.col(gap_col).isNotNull(), F.col(gap_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"sessionize_dynamic_gap: NULL {gap_col} for key="),
                F.col(key).cast("string"),
                F.lit(" — missing policy row; supply a default before sessionizing"),
            )
        )
    )
    return _gap_window(df, key, ts, tiebreakers, checked_gap)
