"""FIXTURES.md §4 — handcrafted boundary cases for the sessionize decision
procedure (SURVEY.md §2.6, intended semantics):

gap cut strict > 1800 s; size cap 1499 events (count+1 >= 1500); duration
cap strict > 43200 s; deterministic session ids; per-key isolation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, epoch seconds


def make_events(spark, offsets_by_user):
    """offsets_by_user: {user_id: [seconds_offset, ...]} → events-shaped df."""
    rows = []
    eid = 0
    for uid, offs in offsets_by_user.items():
        for off in offs:
            rows.append((eid, uid, int((T0 + off) * 1_000_000)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long")
    return df.select("event_id", "user_id", F.timestamp_micros("us").alias("ts"))


def run(spark, offsets_by_user):
    out = (
        sessionize(make_events(spark, offsets_by_user), key="user_id", ts="ts")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    return by_user


def session_indexes(rows):
    """Map session_id sequence to 0-based session index per user."""
    seen: dict[str, int] = {}
    idx = []
    for r in rows:
        if r.session_id not in seen:
            seen[r.session_id] = len(seen)
        idx.append(seen[r.session_id])
    return idx


def test_f1_first_event(spark):
    rows = run(spark, {1: [0]})[1]
    assert [r.duration for r in rows] == [0]
    assert rows[0].session_id == f"1-{T0 * 1_000_000}"


def test_f2_continuation(spark):
    rows = run(spark, {1: [0, 10, 600]})[1]
    assert session_indexes(rows) == [0, 0, 0]
    assert [r.duration for r in rows] == [0, 10, 600]


def test_f3_gap_exactly_1800_same_session(spark):
    rows = run(spark, {1: [0, 1800]})[1]
    assert session_indexes(rows) == [0, 0]
    assert [r.duration for r in rows] == [0, 1800]


def test_f4_gap_1801_cuts(spark):
    rows = run(spark, {1: [0, 1801]})[1]
    assert session_indexes(rows) == [0, 1]
    assert [r.duration for r in rows] == [0, 0]


def test_f5_gap_measured_from_previous_event(spark):
    rows = run(spark, {1: [0, 1700, 3400]})[1]
    assert session_indexes(rows) == [0, 0, 0]
    assert [r.duration for r in rows] == [0, 1700, 3400]


def test_f6_size_cap_1499(spark):
    rows = run(spark, {1: [i for i in range(1500)]})[1]  # 1 s apart
    idx = session_indexes(rows)
    assert idx[:1499] == [0] * 1499
    assert idx[1499] == 1
    assert rows[1498].duration == 1498
    assert rows[1499].duration == 0
    assert rows[1499].session_id == f"1-{(T0 + 1499) * 1_000_000}"


def test_f7_duration_cap_12h(spark):
    # 25 events 1800 s apart: no gap cut ever; event k is at 1800k seconds.
    # Cut at the first event with ts - first_ts > 43200 → 1800k > 43200 →
    # k = 25th event (offset 45000)... use 26 events so the cut lands inside.
    offs = [1800 * i for i in range(26)]
    rows = run(spark, {1: offs})[1]
    idx = session_indexes(rows)
    # events 0..24 (offsets 0..43200) in session 0 (43200 is NOT > 43200);
    # event 25 (offset 45000) opens session 1
    assert idx == [0] * 25 + [1]
    assert rows[24].duration == 43200
    assert rows[25].duration == 0


def test_f8_out_of_order_batch_sorts(spark):
    # Arrival order [0, 100, 50]; batch mode sorts by ts → durations 0,50,100.
    rows = run(spark, {1: [0, 100, 50]})[1]
    assert [r.duration for r in rows] == [0, 50, 100]
    assert len({r.session_id for r in rows}) == 1


def test_f9_key_isolation(spark):
    by_user = run(spark, {1: [0, 10], 2: [5]})
    assert [r.duration for r in by_user[1]] == [0, 10]
    assert [r.duration for r in by_user[2]] == [0]
    assert {r.session_id for r in by_user[1]}.isdisjoint({r.session_id for r in by_user[2]})


def test_f10_session_id_determinism(spark):
    a = run(spark, {7: [0, 10, 2000]})[7]
    b = run(spark, {7: [0, 10, 2000]})[7]
    assert [r.session_id for r in a] == [r.session_id for r in b]
    assert a[0].session_id == f"7-{T0 * 1_000_000}"
    assert a[2].session_id == f"7-{(T0 + 2000) * 1_000_000}"


def test_f11_cap_interactions_in_refined_path(spark):
    # A gap-session long enough to need TWO duration cuts: events every
    # 1800 s for 30 h → cuts at >12 h boundaries, chained from each new anchor.
    offs = [1800 * i for i in range(61)]  # 0 .. 108000 s (30 h)
    rows = run(spark, {1: offs})[1]
    idx = session_indexes(rows)
    # session 0: offsets 0..43200 (indexes 0..24); session 1 anchors at 45000,
    # runs while off-45000 <= 43200 → offsets 45000..88200 (indexes 25..49);
    # session 2 anchors at 90000 → offsets 90000..108000 (indexes 50..60).
    assert idx == [0] * 25 + [1] * 25 + [2] * 11
    assert rows[25].duration == 0 and rows[49].duration == 43200
    assert rows[50].duration == 0 and rows[60].duration == 18000


def test_f12_malformed_lines_dropped(spark):
    from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

    lines = spark.createDataFrame(
        [
            ("2024-01-01T00:00:00.000000Z a 1.2.3.4:80 " + " ".join(f"f{i}" for i in range(12)),),  # 15 ✓
            ("2024-01-01T00:00:01.000000Z a 1.2.3.4:80 " + " ".join(f"f{i}" for i in range(11)),),  # 14 ✗
            ("2024-01-01T00:00:02.000000Z a 1.2.3.4:80 " + " ".join(f"f{i}" for i in range(13)),),  # 16 ✗
        ],
        "value string",
    )
    out = parse_access_logs(lines).collect()
    assert len(out) == 1
    assert out[0].ip == "1.2.3.4:80"
    assert out[0].timestamp == "2024-01-01T00:00:00.000000Z"
    assert out[0].ts is not None


def test_parse_drops_15_field_lines_whose_timestamp_does_not_parse(spark):
    """A 15-field line with an empty or non-time field 0 is dropped like a
    wrong-field-count line instead of failing the job under ANSI casts, and
    the valid line parses exactly as ``to_timestamp`` parses it."""
    from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

    rest = "a 1.2.3.4:80 " + " ".join(f"f{i}" for i in range(12))
    valid = "2024-01-01T00:00:00.123456Z " + rest
    lines = spark.createDataFrame(
        [(" " + rest,), ("not-a-time " + rest,), (valid,)], "value string"
    )
    got = parse_access_logs(lines).collect()
    toks = F.split("value", " ")
    want = spark.createDataFrame([(valid,)], "value string").select(
        toks[0].alias("timestamp"), F.to_timestamp(toks[0]).alias("ts"), toks[2].alias("ip")
    ).collect()
    assert got == want
    assert got[0].ts is not None


def test_parse_keeps_exactly_the_lines_a_full_split_keeps(spark):
    """The one-split filter and the ``substring_index`` fields agree with
    splitting every line on single spaces: 14, 15 and 16 fields, empty fields
    from double spaces, and a trailing space (one more, empty, field)."""
    from flink_realtime_sessionize_sample_spark.sources.logs import parse_access_logs

    ts = "2024-01-01T00:00:00.000000Z"
    fill = [f"f{i}" for i in range(13)]
    values = [
        " ".join([ts, "a", "1.2.3.4:80"] + fill[:n - 3]) for n in (14, 15, 16)
    ] + [
        " ".join([ts, "a", "1.2.3.4:81"] + fill[:11]) + " ",  # 14 + trailing space: 15
        " ".join([ts, "a", "1.2.3.4:82"] + fill[:12]) + " ",  # 15 + trailing space: 16
        " ".join([ts, "", "1.2.3.4:83"] + fill[:12]),  # empty field 1
        " ".join([ts, "a", ""] + fill[:12]),  # empty field 2
        " ".join([ts, "a", "1.2.3.4:85", ""] + fill[:11]),  # 15, empty field 3
        " ".join([ts, "a", "1.2.3.4:86", "", ""] + fill[:11]),  # 16, two empty
        " ".join([ts, "a", "1.2.3.4:87"] + fill[:12]).replace(" f5 ", "  "),  # double space: 15
        " ".join([ts, "a", "1.2.3.4:88"] + fill[:11]).replace(" f5 ", "  "),  # double space: 14
        "",
    ]
    lines = spark.createDataFrame([(v,) for v in values], "value string")
    toks = F.split("value", " ")
    old = lines.filter(F.size(toks) == 15).select(
        toks[0].alias("timestamp"), F.to_timestamp(toks[0]).alias("ts"), toks[2].alias("ip")
    )
    got = sorted(parse_access_logs(lines).collect(), key=repr)
    assert got == sorted(old.collect(), key=repr)
    assert {r.ip for r in got} == {
        "1.2.3.4:80", "1.2.3.4:81", "1.2.3.4:83", "", "1.2.3.4:85", "1.2.3.4:87"
    }


def test_mixed_gap_and_caps_across_users(spark):
    # user 1: plain gap cut; user 2: size-cap path; both in one frame so the
    # fast/refined union is exercised together.
    offsets = {1: [0, 100, 5000, 5100], 2: list(range(1600))}
    by_user = run(spark, offsets)
    assert session_indexes(by_user[1]) == [0, 0, 1, 1]
    idx2 = session_indexes(by_user[2])
    assert idx2[1498] == 0 and idx2[1499] == 1 and idx2[-1] == 1


def test_dynamic_gap_strict_boundary_per_segment(spark):
    """Dynamic-gap sessionize: the gap is strict `>` against each row's own
    policy column — an event exactly AT its segment's threshold continues
    the session; one second past it opens a new one; and the same delta can
    cut one user while not cutting another whose policy is looser."""
    from flink_realtime_sessionize_sample_spark.operators.sessionize import (
        sessionize_dynamic_gap,
    )

    rows = [
        # user 1: gap policy 600 s → +600 continues, +1201 (delta 601) cuts
        (1, 1, "2024-01-01 00:00:00", 600),
        (2, 1, "2024-01-01 00:10:00", 600),
        (3, 1, "2024-01-01 00:20:01", 600),
        # user 2: same deltas, policy 3600 s → never cuts
        (4, 2, "2024-01-01 00:00:00", 3600),
        (5, 2, "2024-01-01 00:10:00", 3600),
        (6, 2, "2024-01-01 00:20:01", 3600),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, gap_seconds int"
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "gap_seconds")
    out = {
        r["event_id"]: (r["session_id"], r["duration"])
        for r in sessionize_dynamic_gap(df).collect()
    }
    # user 1: events 1-2 share a session (delta == gap, strict >), 3 is new
    assert out[1][0] == out[2][0]
    assert out[3][0] != out[1][0]
    assert out[2][1] == 600 and out[3][1] == 0
    # user 2: all three in one session
    assert out[4][0] == out[5][0] == out[6][0]
    assert out[6][1] == 1201


def test_dynamic_gap_null_policy_fails_fast(spark):
    """A NULL gap column (tenant missing from the policy dimension) must
    raise when it would decide a session boundary — never silently hold
    the session open. A single-event key never consults the gap and is
    allowed through."""
    import pytest

    from flink_realtime_sessionize_sample_spark.operators.sessionize import (
        sessionize_dynamic_gap,
    )

    two = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", None), (2, 1, "2024-01-01 00:10:00", None)],
        "event_id long, user_id long, ts_s string, gap_seconds int",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "gap_seconds")
    with pytest.raises(Exception, match="missing policy row"):
        sessionize_dynamic_gap(two).select("session_id").collect()

    one = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", None)],
        "event_id long, user_id long, ts_s string, gap_seconds int",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "gap_seconds")
    assert len(sessionize_dynamic_gap(one).select("session_id").collect()) == 1
