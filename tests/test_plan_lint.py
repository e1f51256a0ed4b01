"""Registry-wide physical-plan lint — the two invariants every registered
query must satisfy, as a single test instead of a per-module grep:

* no ``BatchEvalPython`` — a row-at-a-time Python UDF in any query plan is
  the 10-100x slow path; every Python boundary in this repo is Arrow-
  vectorized (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``), which render differently and stay legal;
* no ``CartesianProduct`` — every candidate generator is bucketed (LSH
  bands, SimHash blocks, IVF cells, PPJoin prefixes, chunk/window hashes);
  the only non-equi compositions allowed are broadcast nested-loop joins
  against 1-row/bounded aggregates, which render as
  ``BroadcastNestedLoopJoin``, never ``CartesianProduct``.

The per-family plan tests in test_plans.py assert much tighter shapes
(banded rank passes, single-scan batteries, no range exchange); this file
is the floor under ALL of them, so a future registration can't silently
reintroduce either pattern. Uses the *extended* explain string of the lazy
plan — no query executes except the streaming replays, whose returned
result frame is a sink read (their interesting plan already ran inside).
"""

from flink_realtime_sessionize_sample_spark import plans


def _explain(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jqe.explainString(mode.fromString("extended"))


def test_no_cartesian_or_rowwise_python_anywhere(spark, sf_small, monkeypatch):
    # SPARK_GRAFT_NO_MAT: build every plan WITHOUT the materialize() pins
    # — a localCheckpoint truncates the visible plan to an RDD leaf, which
    # would blind this lint to everything inside the pinned lineage. Every
    # pin in the package goes through operators/mat.py, so this covers
    # every lineage except materialize_loop's per-round fixpoint state
    # (whose round-1 input stays visible). Results are identical either
    # way (test_mat.py).
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    offenders = {}
    for name, fn in plans.QUERIES.items():
        p = _explain(fn(spark, sf_small))
        bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan lint failed: {offenders}"
