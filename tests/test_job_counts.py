"""Spark job-count pins for the query build and execution phases.

A query's DataFrame is built by a Python call (the build phase, which may
run eager jobs) and then executed. Job counts for a fixed input and plan
are deterministic, so they guard the build phase without timing noise:
each pin below is taken after one warm call, at sf0.001, with the jobs
counted from a ``statusTracker`` job group.

``load_table`` infers each parquet file's schema once (one job); a later
load of the same unchanged local file runs none.
"""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

_seq = itertools.count()


def _jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = f"jobcount-{next(_seq)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


# (query, build jobs, exec jobs). Build: bpe_train_merges collects its
# vocabulary (the word aggregate's shuffle stage + the top-k collect);
# bpe_encode_corpus adds the lazy (doc, word) checkpoint's shuffle stage;
# q5's table schemas are all cached after the warm call. The ccnet and
# Newton–Schulz pins are lazy: their build jobs are the shuffle-map
# stages AQE runs to plan each checkpoint, none is a job spent only to
# pin a frame. Same counts at SPARK_GRAFT_CPUS 1, 4 and 32.
_PINS = [
    ("bpe_train_merges", 2, 1),
    ("bpe_encode_corpus", 3, 4),
    ("local_supplier_volume_q5", 0, 7),
    ("ccnet_perplexity_buckets", 4, 10),
    ("zca_whitening_newton_schulz", 153, 9),
]


@pytest.mark.parametrize("name,build,exec_", _PINS)
def test_query_job_counts(spark, sf_small, name, build, exec_):
    _noop(plans.QUERIES[name](spark, sf_small))  # warm
    df, b = _jobs(spark, lambda: plans.QUERIES[name](spark, sf_small))
    _, e = _jobs(spark, lambda: _noop(df))
    assert (b, e) == (build, exec_)


def _write_region(path, extra: bool = False):
    cols = {"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["AFRICA", "AMERICA"]}
    if extra:
        cols["r_extra"] = ["x", "y"]
    pq.write_table(pa.table(cols), path)


def _load(spark, sf_dir):
    return _jobs(spark, lambda: load_table(spark, sf_dir, "region"))


def test_load_table_infers_schema_once_per_file_version(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path)
    df, cold = _load(spark, str(tmp_path))
    assert cold >= 1
    df, warm = _load(spark, str(tmp_path))
    assert warm == 0
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r["r_name"] for r in df.collect()) == ["AFRICA", "AMERICA"]

    # rewritten file (new size): re-inferred, the new column is seen
    _write_region(path, extra=True)
    df, n = _load(spark, str(tmp_path))
    assert n >= 1
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r["r_extra"] for r in df.collect()) == ["x", "y"]
    assert _load(spark, str(tmp_path))[1] == 0

    # same size, new mtime: re-inferred
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _load(spark, str(tmp_path))[1] >= 1
    assert _load(spark, str(tmp_path))[1] == 0


def test_load_table_reinfers_when_an_inference_conf_changes(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    _write_region(str(tmp_path / "region.parquet"))
    _load(spark, str(tmp_path))
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true" if old == "false" else "false")
        assert _load(spark, str(tmp_path))[1] >= 1
        assert _load(spark, str(tmp_path))[1] == 0
    finally:
        spark.conf.set(key, old)
    assert _load(spark, str(tmp_path))[1] >= 1


def test_load_table_directory_path_infers_every_load(spark, tmp_path):
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    _write_region(str(table_dir / "part-0.parquet"))
    df, first = _load(spark, str(tmp_path))
    _, second = _load(spark, str(tmp_path))
    assert first >= 1 and second >= 1
    assert df.count() == 2
