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


@pytest.fixture
def own_tempdir(tmp_path, monkeypatch) -> str:
    """Point ``tempfile`` (and so ``streaming/replay.scratch_dir``) at a fresh
    directory of this test's own, so a file another process writes to the
    system temp dir meanwhile cannot fail the diff."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return str(tmp_path)


def _temp_dirs(spark, py_tmp: str) -> tuple[str, str]:
    """The Python temp dir and the JVM's (where Spark makes the
    ``temporary-*`` checkpoint dirs of streams started without a
    ``checkpointLocation``); the test session gives the JVM its own."""
    return py_tmp, spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")


def _snapshot(spark, tmp: str) -> tuple[dict[str, set[str]], set[str]]:
    return {d: set(os.listdir(d)) for d in _temp_dirs(spark, tmp)}, _temp_views(spark)


def _assert_cleaned_up(spark, name: str, before: tuple[dict[str, set[str]], set[str]]) -> None:
    dirs_before, views_before = before
    allowed = JVM_ONCE_PREFIXES
    if name == "pipeline_json_sink_roundtrip":
        allowed += (PIPELINE_OUT_PREFIX,)
    for d, entries in dirs_before.items():
        new = {e for e in set(os.listdir(d)) - entries if not e.startswith(allowed)}
        assert not new, f"{name} left {sorted(new)} in {d}"
    assert _temp_views(spark) == views_before
    assert not spark.streams.active


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_cleans_up(spark, sf_small, name, own_tempdir):
    before = _snapshot(spark, own_tempdir)
    compare_query(spark, name, sf_small)
    _assert_cleaned_up(spark, name, before)


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_hang_raises(spark, sf_small, name, monkeypatch, own_tempdir):
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    before = _snapshot(spark, own_tempdir)
    with pytest.raises(RuntimeError):
        plans.QUERIES[name](spark, sf_small)
    _assert_cleaned_up(spark, name, before)
