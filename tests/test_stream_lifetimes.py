"""Lifetimes of the registered queries that start a stream.

Each of these queries replays a bounded input through a real streaming
query (``streaming/replay.py``). After the call returns, the scratch dirs,
memory-sink views and streaming queries it used must be gone, and the
returned DataFrame must still match its oracle. A replay that does not
terminate must raise, never return partial rows.
"""

from __future__ import annotations

import inspect
import os
import tempfile

import pytest
from pyspark.sql.streaming.query import StreamingQuery

from flink_realtime_sessionize_sample_spark import plans
from tests.oracle_util import compare_query

STREAM_QUERIES = (
    "sessionize_stateful",
    "sessionize_bucketed",
    "session_window_stream_durations",
    "pipeline_json_sink_roundtrip",
    "stream_incremental_index_dedup",
    "stream_index_update_roundtrip",
    "stream_stream_interval_join",
    "dedup_stream_events",
    "heavy_hitters_stream_events",
    "stream_gopher_filter",
    "stream_naive_bayes_score",
    "stream_ab_guardrail_welch",
    "stream_cusum_hourly_monitor",
    "sprt_purchase_rate_monitor",
    "stream_page_hinkley_monitor",
    "stream_e_value_monitor",
    "stream_dist_drift_monitor",
    "stream_delta_ratio_guardrail",
    "stream_dersimonian_laird_monitor",
    "stream_tost_guardrail",
    "stream_storey_qvalue_monitor",
    "stream_jarque_bera_monitor",
)

# The one dir a call may leave: the pipeline's JSON sink output, which the
# returned DataFrame reads lazily.
PIPELINE_OUT_PREFIX = "pipe_rt_out_"
# Extracted once per JVM on first use of a codec or of the session's
# artifact manager, and removed by the JVM at exit.
JVM_ONCE_PREFIXES = ("liblz4-java-", "snappy-", "artifacts-")


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_stream_query_list_is_complete():
    starts = {
        n
        for n, fn in plans.QUERIES.items()
        if any(
            s in inspect.getsource(fn)
            for s in ("replay_split_stream", "drain_to_memory", "run_available_now",
                      "await_stream", "_bucketed_replay")
        )
    }
    assert starts == set(STREAM_QUERIES)


def _snapshot(spark) -> tuple[set[str], set[str]]:
    return set(os.listdir(tempfile.gettempdir())), _temp_views(spark)


def _assert_cleaned_up(spark, name: str, before: tuple[set[str], set[str]]) -> None:
    tmp_before, views_before = before
    allowed = JVM_ONCE_PREFIXES
    if name == "pipeline_json_sink_roundtrip":
        allowed += (PIPELINE_OUT_PREFIX,)
    new_tmp = {
        e for e in set(os.listdir(tempfile.gettempdir())) - tmp_before
        if not e.startswith(allowed)
    }
    assert not new_tmp, f"{name} left {sorted(new_tmp)} in {tempfile.gettempdir()}"
    assert _temp_views(spark) == views_before
    assert not spark.streams.active


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_cleans_up(spark, sf_small, name):
    before = _snapshot(spark)
    compare_query(spark, name, sf_small)
    _assert_cleaned_up(spark, name, before)


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_hang_raises(spark, sf_small, name, monkeypatch):
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    before = _snapshot(spark)
    with pytest.raises(RuntimeError):
        plans.QUERIES[name](spark, sf_small)
    _assert_cleaned_up(spark, name, before)
