"""Pure-Python transcription of the reference's decision procedure
(SessionizeGroupMapFunction.scala:19-84, intended-unit semantics; SURVEY.md
§2.6), shared by the sessionization tests as their oracle."""

from __future__ import annotations

from flink_realtime_sessionize_sample_spark.operators.sessionize import (
    GAP_SECONDS,
    MAX_SESSION_DURATION_SECONDS,
    MAX_SESSION_EVENTS,
)


def reference_sessionize(
    events,
    chunks=None,
    gap_seconds=GAP_SECONDS,
    max_events=MAX_SESSION_EVENTS,
    max_duration_seconds=MAX_SESSION_DURATION_SECONDS,
):
    """Sessionize (key, ts_us, event_id) rows one event at a time.

    ``chunks`` (a list of row lists) gives the arrival order: chunks are
    processed in order, each sorted by (key, ts, event_id) — the engine's
    within-call order — with per-key state carried across chunks, so a late
    row meets a session whose ``last`` is newer than it (the monotonic-max
    guard, :72-77). Without ``chunks`` all ``events`` form one chunk: the
    batch formulation. Returns ``{event_id: (session_id, duration)}``."""
    out = {}
    by_key: dict = {}
    for chunk in [events] if chunks is None else chunks:
        for key, us, eid in sorted(chunk, key=lambda r: (r[0], r[1], r[2])):
            sec = us // 1_000_000
            st_ = by_key.get(key)
            if (
                st_ is None
                or sec - st_["last"] > gap_seconds
                or st_["count"] + 1 >= max_events + 1
                or sec - st_["first"] > max_duration_seconds
            ):
                st_ = {"start_us": us, "first": sec, "last": sec, "count": 1}
                by_key[key] = st_
                out[eid] = (f"{key}-{us}", 0)
            else:
                st_["last"] = max(st_["last"], sec)
                st_["count"] += 1
                out[eid] = (f"{key}-{st_['start_us']}", int(sec - st_["first"]))
    return out
