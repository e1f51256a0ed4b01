"""``materialize`` must be SEMANTICS-NEUTRAL: a pin changes physical
reuse but never a row. Pinned here on the operator family whose
internals lean on it hardest (the exact PPJoin pipeline with its
aggregated positional/suffix bounds and the barrier-verified intersect),
the iterative BPE trainer and a spread of registered queries whose
fan-out frames are pinned, by running each twice — pins on vs
SPARK_GRAFT_NO_MAT=1 — and requiring identical rows. This is also what
licenses the plan-lint/shape tests to assert over the NO_MAT plan
(tests/test_plan_lint.py). ``operators/mat.py`` is the only module that
checkpoints a DataFrame; the last test enforces that.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import flink_realtime_sessionize_sample_spark as pkg
from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.operators import dedup as D
from flink_realtime_sessionize_sample_spark.plans.llm_queries import bpe_train_frame


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox leaps over the lazy dog again and again"),
        (4, "completely different text about spark physical plan reuse"),
        (5, "another unrelated document mentioning spark and reuse once"),
        (6, "the lazy dog again and again sleeps while the fox jumps"),
    ]
    return spark.createDataFrame(data, ["doc_id", "text"])


def test_ngram_pairs_identical_with_and_without_checkpoints(spark, monkeypatch):
    docs = _docs(spark)
    with_mat = _rows(D.ngram_jaccard_pairs(docs, threshold=0.5))
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    without = _rows(D.ngram_jaccard_pairs(docs, threshold=0.5))
    assert with_mat == without
    assert with_mat, "fixture must produce at least one verified pair"


def test_containment_pairs_identical_with_and_without_checkpoints(spark, monkeypatch):
    docs = _docs(spark)
    with_mat = _rows(D.containment_pairs(docs, threshold=0.8))
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    without = _rows(D.containment_pairs(docs, threshold=0.8))
    assert with_mat == without


def test_bpe_train_identical_with_and_without_checkpoints(spark, monkeypatch):
    docs = _docs(spark)
    with_mat = _rows(bpe_train_frame(docs, n_merges=3, top_words=20))
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    without = _rows(bpe_train_frame(docs, n_merges=3, top_words=20))
    assert with_mat == without
    assert len(with_mat) == 3


def test_connected_components_identical_with_and_without_checkpoints(
    spark, monkeypatch
):
    # r16: connected_components' raw pair frame and initial edge set are
    # routed through materialize() so the registry plan lint can see the
    # full upstream lineage under SPARK_GRAFT_NO_MAT (the per-round star
    # contraction stays truncated via materialize_loop — exponential
    # lineage growth, see mat.py). This pins that the routing is
    # semantics-neutral end to end (the loop's convergence fingerprint
    # runs at build time under both modes).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (9, 8), (3, 4)],
        ["doc_a", "doc_b"],
    )
    with_mat = _rows(D.connected_components(edges))
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    without = _rows(D.connected_components(edges))
    assert with_mat == without
    labels = {n: l for n, l in with_mat}
    assert labels[4] == 1 and labels[6] == 5 and labels[8] == 8


# One registered query per module that pins fan-out frames, plus the
# Newton–Schulz loop (materialize_loop state), the pinned rank-pass input
# and the pinned LSH pairs ahead of connected_components.
_PINNED_QUERIES = [
    "zca_whitening_newton_schulz",  # feature_queries
    "ccnet_perplexity_buckets",  # llm_queries
    "dedup_aware_split",  # llm_queries
    "kendall_tau_chars_words",  # staging_r8
    "t_closeness_audit",  # staging_r10
    "goodman_kruskal_lambda_source_lang",  # staging_r11
    "stream_e_value_monitor",  # staging_r11, pin over a replay sink table
    "mood_median_test",  # staging_r12
    "fligner_killeen_scale_by_source",  # staging_r13
    "mantel_logrank_trend_tod",  # staging_r14
    "prefix_filter_jaccard_join",  # round9_queries
]


def _query_rows(spark, sf_dir, name):
    return sorted(map(tuple, plans.QUERIES[name](spark, sf_dir).collect()), key=repr)


@pytest.mark.parametrize("name", _PINNED_QUERIES)
def test_registered_query_identical_with_and_without_checkpoints(
    spark, sf_small, monkeypatch, name
):
    with_mat = _query_rows(spark, sf_small, name)
    monkeypatch.setenv("SPARK_GRAFT_NO_MAT", "1")
    assert _query_rows(spark, sf_small, name) == with_mat
    assert with_mat


def test_only_mat_checkpoints():
    """No package module but ``operators/mat.py`` calls ``.localCheckpoint(``
    or ``.checkpoint(``: a direct pin is eager (one job while the query is
    still being built) and hides its lineage from the NO_MAT plan lint."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "mat.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, f"checkpoint outside operators/mat.py: {offenders}"
