"""Property-based sessionization tests (SURVEY.md §5): the window-function
formulation must equal a direct Python transcription of the reference's
decision procedure (SessionizeGroupMapFunction.scala:19-84, intended-unit
semantics) on arbitrary event sequences — including exact boundary hits
(gap == 1800 s, duration == 43200 s) and duplicate timestamps."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_realtime_sessionize_sample_spark.operators.sessionize import (
    make_session_kernel,
    sessionize,
)
from session_reference import reference_sessionize

BASE_US = 1_500_000_000_000_000  # 2017-07-14, arbitrary


# Deltas engineered to hit the cut boundaries exactly: 1800 s (no cut,
# strict >), 1801 s (cut), 0 (duplicate instant), 43200/43201 via sums.
_DELTAS = st.sampled_from(
    [0, 1, 37, 1_799_999_999, 1_800_000_000, 1_800_000_001, 7_200_000_000, 21_600_000_000]
)


@st.composite
def event_sets(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    eid = 0
    for _ in range(draw(st.integers(1, 3))):  # keys
        key = draw(st.integers(1, 5))
        t = BASE_US + draw(st.integers(0, 10**9))
        for _ in range(n):
            t += draw(_DELTAS)
            rows.append((key, t, eid))
            eid += 1
    return rows


_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(params=[None, 3], ids=["default", "3"])
def max_records_per_batch(request, spark):
    """Run with the default Arrow batch size, and with 3 rows per batch so the
    kernel's carry between Arrow batches is exercised."""
    old = spark.conf.get(_ARROW_BATCH, None)
    if request.param is not None:
        spark.conf.set(_ARROW_BATCH, str(request.param))
    yield request.param
    if old is None:
        spark.conf.unset(_ARROW_BATCH)
    else:
        spark.conf.set(_ARROW_BATCH, old)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_sets())
def test_window_formulation_matches_reference_procedure(spark, max_records_per_batch, events):
    df = spark.createDataFrame(
        [
            (k, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us), e)
            for k, us, e in events
        ],
        "user_id long, ts timestamp, event_id long",
    )
    got = {
        r["event_id"]: (r["session_id"], r["duration"])
        for r in sessionize(df).collect()
    }
    ref = reference_sessionize(events)
    assert got == ref


def _kernel_in_arrival_order(chunks, **caps):
    """Drive the shared kernel the way the streaming layer does: one call per
    chunk, rows sorted by (key, ts, event_id), per-key state carried across
    calls. Returns ``{event_id: (session_id, duration)}``."""
    key_runs, cut_sessions = make_session_kernel(**caps)
    state: dict = {}
    out = {}
    for chunk in chunks:
        if not chunk:
            continue
        rows = sorted(chunk, key=lambda r: (r[0], r[1], r[2]))
        k = np.array([r[0] for r in rows])
        us = np.array([r[1] for r in rows], dtype=np.int64)
        r0 = key_runs(k)
        carry = np.array(
            [state.get(int(k[i]), (0, 0, 0, 0)) for i in r0], dtype=np.int64
        ).T
        start_us, dur, carry = cut_sessions(r0, us // 1_000_000, us, carry)
        for i, ri in enumerate(r0):
            state[int(k[ri])] = tuple(carry[:, i])
        for (key, _, eid), s, d in zip(rows, start_us, dur):
            out[eid] = (f"{key}-{s}", int(d))
    return out


@st.composite
def late_arrivals(draw):
    """Small caps so every cut fires often, and event-time-ordered rows
    delivered in chunks where some rows arrive one or two chunks late."""
    caps = {
        "gap_seconds": draw(st.sampled_from([2, 3, 5])),
        "max_events": draw(st.sampled_from([1, 2, 3, 4])),
        "max_duration_seconds": draw(st.sampled_from([3, 4, 7])),
    }
    n = draw(st.integers(1, 60))
    t = 0
    rows = []
    for eid in range(n):
        t += draw(st.sampled_from([0, 0, 400_000, 1_000_000, 2_000_000, 3_000_001, 6_000_000]))
        rows.append((draw(st.integers(1, 3)), t, eid))
    n_chunks = draw(st.integers(1, 6))
    chunks = [[] for _ in range(n_chunks)]
    for i, r in enumerate(rows):
        late = draw(st.sampled_from([0, 0, 0, 1, 2]))
        chunks[min(n_chunks - 1, i * n_chunks // n + late)].append(r)
    return caps, rows, chunks


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(late_arrivals())
def test_kernel_carry_matches_arrival_order_reference(case):
    """The shared kernel, fed call by call with carried state, equals the
    one-event-at-a-time procedure in arrival order — late rows included."""
    caps, rows, chunks = case
    assert _kernel_in_arrival_order(chunks, **caps) == reference_sessionize(
        rows, chunks=chunks, **caps
    )


def test_kernel_late_row_cap_cut_drops_carried_last():
    """A late row trips the event cap while the carried ``last_sec`` (200) is
    newer than it (50). After that cut the session restarts at 50, so the
    next row (1851) is a gap cut measured from 50, not from the carried 200.
    (The 12 h cap cannot fire on such a row: a session's last is never more
    than 12 h past its first.)"""
    s = 1_000_000
    chunks = [[(1, 0, 0), (1, 100 * s, 1), (1, 200 * s, 2)], [(1, 50 * s, 3), (1, 1851 * s, 4)]]
    rows = [r for c in chunks for r in c]
    got = _kernel_in_arrival_order(chunks, max_events=3)
    assert got == reference_sessionize(rows, chunks=chunks, max_events=3)
    assert got[3] == (f"1-{50 * s}", 0)
    assert got[4] == (f"1-{1851 * s}", 0)


@pytest.mark.parametrize(
    "key_type, keys",
    [("string", ["10.0.0.7:80", "10.0.0.8:443", "10.0.1.7:80"]), ("long", [7, 8, 1007])],
)
def test_key_run_straddling_arrow_batches_matches_reference(spark, key_type, keys):
    """With 3 rows per Arrow batch, every key's 11-row run spans 4 batches,
    and gap, event-cap and duration-cap cuts fall inside and across them;
    the carry between batches must make that invisible."""
    caps = {"max_events": 4, "max_duration_seconds": 6}
    deltas_s = [0, 1, 1801, 5, 5, 0, 3000, 2, 2, 2, 2]
    events, eid = [], 0
    for key in keys:
        us = BASE_US
        for d in deltas_s:
            us += d * 1_000_000
            events.append((key, us, eid))
            eid += 1
    df = spark.createDataFrame(
        [(k, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us), e) for k, us, e in events],
        f"user_id {key_type}, ts timestamp, event_id long",
    )
    old = spark.conf.get(_ARROW_BATCH, None)
    spark.conf.set(_ARROW_BATCH, "3")
    try:
        rows = sessionize(df, **caps).collect()
    finally:
        if old is None:
            spark.conf.unset(_ARROW_BATCH)
        else:
            spark.conf.set(_ARROW_BATCH, old)
    got = {r["event_id"]: (r["session_id"], r["duration"]) for r in rows}
    assert got == reference_sessionize(events, **caps)
    assert len({s for s, _ in got.values()}) > 3 * len(keys)
