"""Round-8 queries (plans/staging_r8.py): plan shape and handcrafted
semantics.

Oracle parity for these queries runs through the registry-wide
``tests/test_oracle_parity.py`` and the full-registry sweep; this module
keeps the plan-shape checks and the independent Python brute-force
references that pin each statistic against INTENT, not just cross-engine
agreement."""

from __future__ import annotations

from flink_realtime_sessionize_sample_spark import plans


def _explain(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jqe.explainString(mode.fromString("extended"))


def test_staged_rank_passes_are_banded(spark, sf_small):
    # The Mann-Whitney midrank pass must ride the deterministic-banded
    # global-rank operator: band-partitioned window, no range exchange,
    # no single-partition data sort.
    p = _explain(plans.QUERIES["mann_whitney_en_tokens"](spark, sf_small))
    assert "rangepartitioning" not in p.lower()
    assert "_pid" in p


# --- handcrafted semantics for the session-5 staged queries ------------------
# Cross-engine parity proves Spark and DuckDB AGREE; these pin the statistics
# against INTENT with independent Python brute-force references over tiny
# handwritten tables (written as parquet so the full query surface — -
# load_table included — is exercised).

import hashlib
from fractions import Fraction

import pandas as pd


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _docs_pdf(rows):
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    return df.astype({"doc_id": "int64", "n_chars": "int64"})


def _write_tables(tmp_path, **tables) -> str:
    for name, df in tables.items():
        df.to_parquet(tmp_path / f"{name}.parquet", index=False)
    return str(tmp_path)


def test_wasserstein_matches_bruteforce(spark, tmp_path):
    """W1 and KS against an exact Fraction-arithmetic CDF walk using the
    same md5 arm split, replicated independently in Python."""
    rows = [
        (i, "x", "en", "s", 50 + (i * 37) % 173) for i in range(1, 41)
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    a = sorted(r[4] for r in rows if _h48(str(r[0])) % 2 == 0)
    b = sorted(r[4] for r in rows if _h48(str(r[0])) % 2 == 1)
    assert a and b, "handcrafted ids must populate both arms"
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    w1, ks = Fraction(0), Fraction(0)
    ca = cb = 0
    prev = None
    for v in vals:
        if prev is not None:
            w1 += abs(Fraction(ca, na) - Fraction(cb, nb)) * (v - prev)
        ca += a.count(v)
        cb += b.count(v)
        ks = max(ks, abs(Fraction(ca, na) - Fraction(cb, nb)))
        prev = v
    out = plans.QUERIES["wasserstein_split_drift"](spark, sf).collect()[0]
    assert out["n_a"] == na and out["n_b"] == nb
    assert abs(out["w1_chars"] - float(w1)) < 5e-4  # e6 height quantization
    assert abs(out["ks_d"] - float(ks)) < 2e-6


def test_kendall_matches_bruteforce(spark, tmp_path):
    """Concordant/discordant/tie pair counts and tau-b against an O(n^2)
    Python sweep over the same bucket values."""
    rows = []
    for i in range(1, 31):
        nw = 10 + (i * 11) % 70  # word count
        nc = 48 + (i * 53) % 300  # char-length column (independent of text)
        rows.append((i, " ".join(f"w{j}" for j in range(nw)), "en", "s", nc))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    pts = [
        (r[4] // 64, len(r[1].lower().strip().split(" ")) // 16) for r in rows
    ]
    conc = disc = tx = ty = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    import math

    tau = (conc - disc) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
    out = plans.QUERIES["kendall_tau_chars_words"](spark, sf).collect()[0]
    assert out["n_docs"] == n
    assert out["concordant"] == conc and out["discordant"] == disc
    assert out["ties_x_pairs"] == tx and out["ties_y_pairs"] == ty
    assert abs(out["tau_b"] - tau) < 1e-6


def test_good_turing_matches_bruteforce(spark, tmp_path):
    """Count-of-counts and the Turing estimators against a Python Counter
    over the same whitespace tokenization."""
    from collections import Counter

    texts = [
        "a a a a b b b c c d",  # a:4 b:3 c:2 d:1
        "e f g h h",  # four more low counts
        "a b e i",
    ]
    rows = [
        (i + 1, t, "en", "s", len(t)) for i, t in enumerate(texts)
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    c = Counter(w for t in texts for w in t.lower().strip().split(" ") if w)
    nr = Counter(c.values())
    total = sum(c.values())
    rows_out = {
        r["r"]: r
        for r in plans.QUERIES["good_turing_unseen_mass"](spark, sf).collect()
    }
    for r in range(1, 6):
        assert rows_out[r]["n_r"] == nr.get(r, 0)
        assert rows_out[r]["n_r_next"] == nr.get(r + 1, 0)
        if nr.get(r, 0):
            exp = round((r + 1) * nr.get(r + 1, 0) / nr[r], 6)
            assert abs(rows_out[r]["r_star"] - exp) < 1e-9
        else:
            assert rows_out[r]["r_star"] is None
    assert abs(rows_out[1]["p_unseen"] - round(nr[1] / total, 6)) < 1e-9
    assert rows_out[1]["total_tokens"] == total
    assert rows_out[1]["vocab_size"] == len(c)


def test_k_anonymity_bands_on_engineered_groups(spark, tmp_path):
    """QI groups of sizes 1/3/7/30 land in the right risk bands with the
    right counts; min_k reports the singleton."""
    rows, did = [], 0
    for lang, src, size in (
        ("en", "s1", 1),
        ("de", "s1", 3),
        ("fr", "s2", 7),
        ("en", "s3", 30),
    ):
        for _ in range(size):
            did += 1
            rows.append((did, "x", lang, src, 100))  # one shared len_band
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        r["risk_band"]: r
        for r in plans.QUERIES["k_anonymity_audit"](spark, sf).collect()
    }
    assert set(out) == {"k=1", "k=2-4", "k=5-9", "k>=25"}
    assert (out["k=1"]["n_groups"], out["k=1"]["n_rows"]) == (1, 1)
    assert (out["k=2-4"]["n_groups"], out["k=2-4"]["n_rows"]) == (1, 3)
    assert (out["k=5-9"]["n_groups"], out["k=5-9"]["n_rows"]) == (1, 7)
    assert (out["k>=25"]["n_groups"], out["k>=25"]["n_rows"]) == (1, 30)
    assert all(r["min_k"] == 1 for r in out.values())
    assert abs(out["k>=25"]["doc_share"] - round(30 / 41, 6)) < 1e-9


def _events_pdf(rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df.astype({"event_id": "int64", "user_id": "int64"})


def test_ams_f2_exact_and_sketch_replicated(spark, tmp_path):
    """F2 equals the brute sum of squared counts, and the 16-projection
    sketch median is bit-reproduced from the md5 sign bits in Python."""
    counts = {101: 5, 202: 3, 303: 3, 404: 2, 505: 1, 606: 1}
    rows, eid = [], 0
    for u, c in counts.items():
        for k in range(c):
            eid += 1
            rows.append((eid, f"2024-01-01 00:{eid:02d}:00", u, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    f2 = sum(c * c for c in counts.values())
    ests = sorted(
        sum(
            c * (1 - 2 * ((_h48(str(u)) >> j) & 1)) for u, c in counts.items()
        )
        ** 2
        for j in range(16)
    )
    med = (ests[7] + ests[8]) / 2.0
    out = plans.QUERIES["ams_f2_user_events"](spark, sf).collect()[0]
    assert out["n_users"] == len(counts)
    assert out["n_events"] == sum(counts.values())
    assert out["f2_exact"] == f2
    assert abs(out["ams_median_est"] - round(med, 6)) < 1e-9
    assert abs(out["rel_err"] - round(abs(med - f2) / f2, 6)) < 1e-9


def test_theil_sen_matches_bruteforce(spark, tmp_path):
    """Median pairwise slope and OLS slope against exact Fraction
    references over engineered daily counts."""
    daily = [10, 12, 9, 20, 14, 13, 30]
    rows, eid = [], 0
    for d, c in enumerate(daily):
        for k in range(c):
            eid += 1
            rows.append(
                (eid, f"2024-03-{d + 1:02d} 06:{k % 60:02d}:07", 7, "view", 1.0, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    days = list(range(len(daily)))
    slopes = sorted(
        Fraction(daily[j] - daily[i], j - i)
        for i in days
        for j in days
        if j > i
    )
    assert len(slopes) % 2 == 1  # unique middle element by construction
    med = slopes[len(slopes) // 2]
    n = len(days)
    sd, sc = sum(days), sum(daily)
    sdc = sum(d * c for d, c in zip(days, daily))
    sdd = sum(d * d for d in days)
    ols = Fraction(n * sdc - sd * sc, n * sdd - sd * sd)
    out = plans.QUERIES["theil_sen_daily_trend"](spark, sf).collect()[0]
    assert out["n_days"] == n and out["n_pairs"] == len(slopes)
    assert abs(out["theil_sen_slope"] - float(med)) < 2e-6
    assert abs(out["ols_slope"] - float(ols)) < 2e-6


def test_known_item_retrieval_is_perfect_on_unique_prefixes(spark, tmp_path):
    """When every document's first six tokens are globally unique to it,
    each query's only candidate is its own source document: rank 1
    everywhere, so recall@1 = MRR = 1 exactly."""
    rows = []
    for i in range(1, 65):
        toks = " ".join(f"uniq{i}t{j}" for j in range(6))
        rows.append((i, toks + f" tail{i}", "en", "s", 40))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    nq = sum(1 for i in range(1, 65) if _h48(str(i)) % 16 == 0)
    assert nq >= 1
    out = plans.QUERIES["retrieval_known_item_eval"](spark, sf).collect()[0]
    assert out["n_queries"] == nq
    assert out["hits_at_1"] == nq and out["hits_at_10"] == nq
    assert out["recall_at_1"] == 1.0 and out["recall_at_10"] == 1.0
    assert out["mrr"] == 1.0 and out["mean_rank"] == 1.0


def test_hubness_degrees_on_engineered_buckets(spark, tmp_path):
    """Four mutually-visible vectors (same sign bucket, k >= 3 available
    neighbors) each get in-degree 3; a fifth vector alone in another
    bucket stays at in-degree 0 and visible in the histogram."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [
        [1.0, 1.0, 1.0, 1.0, 0.1 * i, 0.0, 0.0, 0.0] for i in range(4)
    ] + [[-1.0, -1.0, -1.0, -1.0, 0.5, 0.0, 0.0, 0.0]]
    t = pa.table(
        {
            "vec_id": pa.array(list(range(1, 6)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * 5, pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    out = {
        r["in_degree"]: r
        for r in plans.QUERIES["knn_hubness_audit"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {0, 3}
    assert out[3]["n_vectors"] == 4 and out[0]["n_vectors"] == 1
    assert abs(out[3]["edge_share"] - 1.0) < 1e-9
    assert abs(out[0]["vec_share"] - 0.2) < 1e-9


def test_source_vocab_jaccard_on_known_sets(spark, tmp_path):
    """Known vocab sets: overlapping pairs get exact intersection/union
    counts; fully disjoint pairs are (deliberately) absent — the overlap
    matrix is sparse."""
    rows = [
        (1, "a b c d", "en", "s1", 7),
        (2, "c d e", "en", "s2", 5),
        (3, "x", "en", "s3", 1),
        (4, "d e", "en", "s2", 3),  # dup types within a source collapse
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        (r["source_a"], r["source_b"]): r
        for r in plans.QUERIES["source_vocab_jaccard"](spark, sf).collect()
    }
    assert set(out) == {("s1", "s2")}
    r = out[("s1", "s2")]
    assert (r["vocab_a"], r["vocab_b"], r["inter"]) == (4, 3, 2)
    assert abs(r["jaccard"] - round(2 / 5, 6)) < 1e-9


def test_overdispersion_matches_python_erfc(spark, tmp_path):
    """Dispersion statistic exact from integer moments; p-value within
    the A&S polynomial's 1.5e-7 of Python's true erfc."""
    import math

    hourly = [2, 8, 3, 7, 5, 5, 1, 9]
    rows, eid = [], 0
    for h, c in enumerate(hourly):
        for k in range(c):
            eid += 1
            rows.append(
                (eid, f"2024-04-01 {h:02d}:{k:02d}:11", 3, "view", 1.0, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    n, s1 = len(hourly), sum(hourly)
    s2 = sum(c * c for c in hourly)
    d = round((n * s2 - s1 * s1) / s1, 6)
    kk = n - 1
    z = round(
        ((d / kk) ** (1 / 3) - (1 - 2 / (9 * kk))) / math.sqrt(2 / (9 * kk)), 6
    )
    p_true = math.erfc(abs(z) / math.sqrt(2))
    out = plans.QUERIES["event_overdispersion_test"](spark, sf).collect()[0]
    assert out["n_hours"] == n and out["total_events"] == s1
    assert abs(out["dispersion_stat"] - d) < 1e-9
    assert abs(out["vmr"] - round((n * s2 - s1 * s1) / (s1 * kk), 6)) < 1e-9
    assert abs(out["z_stat"] - z) < 1e-9
    assert abs(out["p_value"] - p_true) < 1e-5


# --- property tests: random multisets vs exact Python references -------------

import tempfile

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st


def _query_rows(spark, name, **tables) -> list:
    """Collect query ``name`` over ``tables`` written to a temp dir. The
    dir is removed only after the rows are collected: the query's pins
    are lazy, so its inputs are read at the collect."""
    with tempfile.TemporaryDirectory(prefix="staged_prop_") as d:
        for table, df in tables.items():
            df.to_parquet(f"{d}/{table}.parquet", index=False)
        return plans.QUERIES[name](spark, d).collect()


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=48, max_value=400), min_size=6, max_size=28)
)
def test_wasserstein_property_random_lengths(spark, lengths):
    rows = [(i + 1, "x", "en", "s", v) for i, v in enumerate(lengths)]
    a = sorted(r[4] for r in rows if _h48(str(r[0])) % 2 == 0)
    b = sorted(r[4] for r in rows if _h48(str(r[0])) % 2 == 1)
    assume(a and b)
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    w1, ks = Fraction(0), Fraction(0)
    ca = cb = 0
    prev = None
    for v in vals:
        if prev is not None:
            w1 += abs(Fraction(ca, na) - Fraction(cb, nb)) * (v - prev)
        ca += a.count(v)
        cb += b.count(v)
        ks = max(ks, abs(Fraction(ca, na) - Fraction(cb, nb)))
        prev = v
    out = _query_rows(spark, "wasserstein_split_drift", documents=_docs_pdf(rows))[0]
    assert out["n_a"] == na and out["n_b"] == nb
    assert abs(out["w1_chars"] - float(w1)) < 5e-4
    assert abs(out["ks_d"] - float(ks)) < 2e-6


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # bx
            st.integers(min_value=0, max_value=5),  # by
        ),
        min_size=2,
        max_size=25,
    )
)
def test_kendall_property_random_grids(spark, pts):
    rows = [
        (i + 1, " ".join(f"w{j}" for j in range(by * 16 + 1)), "en", "s", bx * 64)
        for i, (bx, by) in enumerate(pts)
    ]
    grid = [(bx, (by * 16 + 1) // 16) for bx, by in pts]
    conc = disc = tx = ty = 0
    n = len(grid)
    for i in range(n):
        for j in range(i + 1, n):
            dx = grid[i][0] - grid[j][0]
            dy = grid[i][1] - grid[j][1]
            tx += dx == 0
            ty += dy == 0
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    out = _query_rows(spark, "kendall_tau_chars_words", documents=_docs_pdf(rows))[0]
    assert (out["concordant"], out["discordant"]) == (conc, disc)
    assert (out["ties_x_pairs"], out["ties_y_pairs"]) == (tx, ty)
    if n0 - tx <= 0 or n0 - ty <= 0:
        assert out["tau_b"] is None  # degenerate margins: NULL, not a crash
    else:
        import math

        tau = (conc - disc) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
        assert abs(out["tau_b"] - tau) < 1e-6


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=1, max_value=25), min_size=2, max_size=9)
)
def test_theil_sen_property_random_daily_counts(spark, daily):
    rows, eid = [], 0
    for d, c in enumerate(daily):
        for k in range(c):
            eid += 1
            rows.append(
                (eid, f"2024-03-{d + 1:02d} 06:{k % 60:02d}:07", 7, "view", 1.0, "{}")
            )
    days = list(range(len(daily)))
    slopes = sorted(
        Fraction(daily[j] - daily[i], j - i) for i in days for j in days if j > i
    )
    m = len(slopes)
    med = (
        slopes[m // 2]
        if m % 2
        else Fraction(slopes[m // 2 - 1] + slopes[m // 2], 2)
    )
    out = _query_rows(spark, "theil_sen_daily_trend", events=_events_pdf(rows))[0]
    assert out["n_pairs"] == m
    assert abs(out["theil_sen_slope"] - float(med)) < 2e-6


# --- plan-shape assertions for the session-5 staged queries -------------------


def test_wasserstein_rank_passes_are_banded(spark, sf_small):
    """Both the two-sample-CDF rank pass and the predecessor prefix-max
    pass must be deterministic-banded: band-keyed windows, no range
    exchange, no single-partition sort of the distinct-value frame."""
    p = _explain(plans.QUERIES["wasserstein_split_drift"](spark, sf_small))
    assert "rangepartitioning" not in p.lower()
    assert "_pid" in p


def test_theil_sen_median_is_banded_not_sorted(spark, sf_small):
    """The pair-frame median must ride the banded rank operator — no
    range exchange, no TakeOrderedAndProject of the O(days^2) frame."""
    p = _explain(plans.QUERIES["theil_sen_daily_trend"](spark, sf_small))
    assert "rangepartitioning" not in p.lower()
    assert "TakeOrderedAndProject" not in p
    assert "_pid" in p


def test_known_item_eval_never_sorts_the_corpus(spark, sf_small):
    """Rank-by-counting: the final plan (downstream of the checkpointed
    candidate frame) must contain NO global sort or top-k of the scored
    frame — ranks come from per-query count aggregates — and the
    true-score join must be broadcast (one row per query)."""
    p = _explain(plans.QUERIES["retrieval_known_item_eval"](spark, sf_small))
    assert "rangepartitioning" not in p.lower()
    assert "TakeOrderedAndProject" not in p
    assert "BroadcastHashJoin" in p


def test_vocab_jaccard_joins_on_word(spark, sf_small):
    """The intersection self-join must be a word-keyed equi join (shuffle
    or broadcast hash join), never a nested-loop over source pairs."""
    p = _explain(plans.QUERIES["source_vocab_jaccard"](spark, sf_small))
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p


def test_stream_cusum_twin_equals_batch_on_same_half(spark, sf_small):
    """The streaming twin's readout must equal the batch scan applied to
    the same odd-event_id half directly (mergeability, end to end)."""
    from flink_realtime_sessionize_sample_spark.plans.staging_r8 import (
        _HOUR_US,
        _cusum_readout,
    )
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    twin = plans.QUERIES["stream_cusum_hourly_monitor"](spark, sf_small)
    hc = (
        load_table(spark, sf_small, "events")
        .filter(F.col("event_id") % 2 == 1)
        .groupBy(F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    batch = _cusum_readout(hc)
    assert twin.collect() == batch.collect()


def test_quantile_normalize_on_engineered_sources(spark, tmp_path):
    """Two sources with hand-computable quantile matches: pooled sorted
    lengths are (10,20,100,200,300,400); each doc maps to the pooled
    value at ceil(rs*6/ns)."""
    rows = [
        (1, "x", "en", "A", 100),
        (2, "x", "en", "A", 200),
        (3, "x", "en", "A", 300),
        (4, "x", "en", "A", 400),
        (5, "x", "en", "B", 10),
        (6, "x", "en", "B", 20),
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        r["doc_id"]: r
        for r in plans.QUERIES["quantile_normalize_lengths"](spark, sf).collect()
    }
    expected = {1: 20, 2: 100, 3: 300, 4: 400, 5: 100, 6: 400}
    assert {d: r["norm_chars"] for d, r in out.items()} == expected
    assert out[5]["src_rank"] == 1 and out[4]["src_rank"] == 4
    assert abs(out[5]["quantile"] - 0.5) < 1e-9


def test_anisotropy_on_engineered_vectors(spark, tmp_path):
    """Hand-computable consecutive-pair cosines: (0, 0, 0.707107) ->
    bands {0: 2, 7: 1}, mean = 0.235702."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [1.0, 1.0]]
    t = pa.table(
        {
            "vec_id": pa.array([1, 2, 3, 4], pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * 4, pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    out = {
        r["band"]: r
        for r in plans.QUERIES["embedding_anisotropy_audit"](
            spark, str(tmp_path)
        ).collect()
    }
    assert {b: r["n_in_band"] for b, r in out.items()} == {0: 2, 7: 1}
    exp_mean = round((0 + 0 + 707107) / 3 / 1e6, 6)
    for r in out.values():
        assert r["n_pairs"] == 3
        assert abs(r["mean_cosine"] - exp_mean) < 1e-9


def test_brown_forsythe_matches_python_reference(spark, tmp_path):
    """F, the integer num/den, and the erfc p-value against a from-scratch
    Python computation on engineered groups with unequal spreads."""
    import math

    groups = {"A": [10, 20, 30], "B": [100, 200, 300, 400], "C": [50, 50, 52]}
    rows, did = [], 0
    for src, vals in groups.items():
        for v in vals:
            did += 1
            rows.append((did, "x", "en", src, v))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    stats = []
    for vals in groups.values():
        sv = sorted(vals)
        ng = len(sv)
        m2 = sv[(ng + 1) // 2 - 1] + sv[ng // 2]
        z = [abs(2 * x - m2) for x in sv]
        stats.append((ng, sum(z), sum(v * v for v in z)))
    k = len(stats)
    n = sum(s[0] for s in stats)
    st = sum(s[1] for s in stats)
    qt = sum(s[2] for s in stats)
    terms_e6 = sum(round(1e6 * sg * sg / ng) for ng, sg, _ in stats)
    num_e6 = terms_e6 - round(1e6 * st * st / n)
    den_e6 = 1000000 * qt - terms_e6
    kk = k - 1
    f = round((num_e6 * (n - k)) / (den_e6 * kk), 6)
    zwh = round(
        ((num_e6 * (n - k) / (den_e6 * kk)) ** (1 / 3) - (1 - 2 / (9 * kk)))
        / math.sqrt(2 / (9 * kk)),
        6,
    )
    p_true = math.erfc(abs(zwh) / math.sqrt(2))
    out = plans.QUERIES["brown_forsythe_length_variance"](spark, sf).collect()[0]
    assert (out["k_sources"], out["n_docs"]) == (k, n)
    assert out["num_e6"] == num_e6 and out["den_e6"] == den_e6
    assert abs(out["f_stat"] - f) < 1e-9
    assert abs(out["z_stat"] - zwh) < 1e-9
    assert abs(out["p_value"] - p_true) < 1e-5


def test_shard_rebalance_hrw_invariant_and_python_replication(spark, tmp_path):
    """Rendezvous property: on a 16->17 resize, a document moves ONLY if
    the new shard wins its argmax — so every moved document lands in
    shard 16, and the assignment bit-matches a Python replication."""
    rows = [(i, "x", "en", "s", 10) for i in range(1, 201)]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))

    def hrw(doc_id, n):
        return max(range(n), key=lambda s: (_h48(f"{doc_id}:{s}"), s))

    moved = sum(1 for i in range(1, 201) if hrw(i, 16) != hrw(i, 17))
    out = plans.QUERIES["shard_rebalance_preview"](spark, sf).collect()
    by_shard = {r["shard"]: r for r in out}
    assert all(r["n_moved"] == moved for r in out)
    for s, r in by_shard.items():
        if s == 16:
            assert r["n_moved_in"] == r["n_docs_in_shard"] == moved
        else:
            assert r["n_moved_in"] == 0
    py_counts = {}
    for i in range(1, 201):
        py_counts[hrw(i, 17)] = py_counts.get(hrw(i, 17), 0) + 1
    assert {s: r["n_docs_in_shard"] for s, r in by_shard.items()} == py_counts


def test_join_skew_preflight_on_engineered_hot_key(spark, tmp_path):
    """One key holding half of all rows: key_share and the md5-partition
    imbalance match a Python replication."""
    counts = {7: 50, 11: 20, 13: 15, 17: 10, 19: 5}
    rows, eid = [], 0
    for u, c in counts.items():
        for k in range(c):
            eid += 1
            rows.append((eid, f"2024-05-01 00:{k % 60:02d}:33", u, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    total = sum(counts.values())
    parts = {}
    for u, c in counts.items():
        p = _h48(str(u)) % 32
        parts[p] = parts.get(p, 0) + c
    out = plans.QUERIES["join_skew_preflight"](spark, sf).collect()
    by_rnk = {r["rnk"]: r for r in out}
    assert by_rnk[1]["hot_key"] == 7 and by_rnk[1]["key_rows"] == 50
    assert abs(by_rnk[1]["key_share"] - 0.5) < 1e-9
    for r in out:
        assert r["n_keys"] == len(counts) and r["total_rows"] == total
        assert r["max_part_rows"] == max(parts.values())
        assert abs(
            r["part_imbalance"] - round(max(parts.values()) * 32 / total, 6)
        ) < 1e-9


def test_l_diversity_on_engineered_groups(spark, tmp_path):
    """One homogeneous group (l=1) and one diverse group (l=3) land in
    the right histogram rows with min_l = 1."""
    rows = [
        (1, "x", "en", "A", 100),
        (2, "x", "en", "A", 100),
        (3, "x", "en", "A", 100),
        (4, "x", "en", "B", 100),
        (5, "x", "de", "B", 100),
        (6, "x", "fr", "B", 100),
        (7, "x", "de", "B", 100),
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        r["l_div"]: r
        for r in plans.QUERIES["l_diversity_audit"](spark, sf).collect()
    }
    assert set(out) == {1, 3}
    assert (out[1]["n_groups_at_l"], out[1]["n_docs_at_l"]) == (1, 3)
    assert (out[3]["n_groups_at_l"], out[3]["n_docs_at_l"]) == (1, 4)
    assert all(r["min_l"] == 1 and r["n_groups"] == 2 for r in out.values())


def test_linear_attribution_on_engineered_journeys(spark, tmp_path):
    """Hand-computable journeys: a 2-touch conversion splits evenly, a
    1-touch conversion credits fully, and an orphan conversion (no prior
    touch) counts in the total but credits nobody."""
    rows = [
        (1, "2024-06-01 10:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-06-01 10:05:00", 1, "click", 0.0, "{}"),
        (3, "2024-06-01 10:10:00", 1, "purchase", 10.0, "{}"),
        (4, "2024-06-01 11:00:00", 2, "view", 0.0, "{}"),
        (5, "2024-06-01 11:10:00", 2, "purchase", 3.0, "{}"),
        (6, "2024-06-01 12:00:00", 3, "purchase", 2.0, "{}"),
        (7, "2024-06-01 12:30:00", 3, "view", 0.0, "{}"),  # AFTER: no credit
    ]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    out = {
        r["touch_type"]: r
        for r in plans.QUERIES["linear_multitouch_attribution"](
            spark, sf
        ).collect()
    }
    assert set(out) == {"view", "click"}
    assert abs(out["view"]["credited_value"] - 8.0) < 1e-9  # 5 + 3
    assert abs(out["click"]["credited_value"] - 5.0) < 1e-9
    assert out["view"]["n_credited_touches"] == 2
    assert out["click"]["n_credited_touches"] == 1
    total_cents = 1500
    assert all(r["n_conversions"] == 3 for r in out.values())
    assert abs(out["view"]["credit_share"] - round(800 / total_cents, 6)) < 1e-9
    assert abs(out["click"]["credit_share"] - round(500 / total_cents, 6)) < 1e-9


# --- Python reference pins for the session-4 staged statistics ----------------


def test_mann_whitney_matches_pair_counting(spark, tmp_path):
    """The doubled centered U statistic and the tie-corrected z against a
    direct O(n^2) pair count (wins + half-ties), independent of the
    midrank formulation."""
    import math

    rows = []
    for i in range(1, 41):
        lang = "en" if i % 3 == 0 else "de"
        nw = 5 + (i * 7) % 23
        rows.append((i, " ".join("w" for _ in range(nw)), lang, "s", 10))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    ys = [
        (r[2] == "en", len(r[1].lower().strip().split(" "))) for r in rows
    ]
    en = [y for g, y in ys if g]
    ot = [y for g, y in ys if not g]
    u1 = sum((a > b) + 0.5 * (a == b) for a in en for b in ot)
    n1, n2 = len(en), len(ot)
    n = n1 + n2
    u2num = round(2 * (u1 - n1 * n2 / 2))
    from collections import Counter

    st = sum(c**3 - c for c in Counter(y for _, y in ys).values())
    aa = (n + 1) * n * (n - 1) - st
    z = round(u2num / math.sqrt(n1 * n2 * aa / (3 * n * (n - 1))), 6)
    p_true = math.erfc(abs(z) / math.sqrt(2))
    out = plans.QUERIES["mann_whitney_en_tokens"](spark, sf).collect()[0]
    assert (out["n_en"], out["n_other"]) == (n1, n2)
    assert out["u2c_stat"] == u2num and out["tie_term"] == st
    assert abs(out["z_stat"] - z) < 1e-9
    assert abs(out["p_value"] - p_true) < 1e-5


def test_welch_matches_python_reference(spark, tmp_path):
    """Welch t, Satterthwaite df and the normal p against a from-scratch
    Python computation using the same md5 arm split."""
    import math

    rows = [(i, "x", "en", "s", 60 + (i * 13) % 211) for i in range(1, 61)]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    arm1 = [r[4] for r in rows if _h48(str(r[0])) % 2 == 1]
    arm0 = [r[4] for r in rows if _h48(str(r[0])) % 2 == 0]
    n1, n0 = len(arm1), len(arm0)
    assert n1 >= 2 and n0 >= 2
    s1, s0 = sum(arm1), sum(arm0)
    q1, q0 = sum(v * v for v in arm1), sum(v * v for v in arm0)
    vn1, vn0 = n1 * q1 - s1 * s1, n0 * q0 - s0 * s0
    qq1 = vn1 / (n1 * n1 * (n1 - 1))
    qq0 = vn0 / (n0 * n0 * (n0 - 1))
    t = round((s1 / n1 - s0 / n0) / math.sqrt(qq1 + qq0), 6)
    df = round(
        (qq1 + qq0) ** 2 / (qq1 * qq1 / (n1 - 1) + qq0 * qq0 / (n0 - 1)), 6
    )
    p_true = math.erfc(abs(t) / math.sqrt(2))
    out = plans.QUERIES["welch_t_chars_ab"](spark, sf).collect()[0]
    assert (out["n1"], out["n0"]) == (n1, n0)
    assert (out["vn1"], out["vn0"]) == (vn1, vn0)
    assert abs(out["t_stat"] - t) < 2e-6
    assert abs(out["welch_df"] - df) < 2e-6
    assert abs(out["p_normal"] - p_true) < 1e-5


def test_hill_matches_python_reference(spark, tmp_path):
    """Hill alpha over the top-32 order statistics against a Python
    replication of the same e6 log quantization and rank order."""
    import math

    rows = [
        (i, "x", "en", "s", 50 + ((i * 97) % 583)) for i in range(1, 81)
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    ordered = sorted(((r[4], r[0]) for r in rows), key=lambda t: (-t[0], t[1]))
    top = [v for v, _ in ordered[:32]]
    x_ref = ordered[32][0]
    sum_le6 = sum(round(math.log(v) * 1e6) for v in top)
    num = sum_le6 - 32 * round(math.log(x_ref) * 1e6)
    out = plans.QUERIES["hill_tail_doc_length"](spark, sf).collect()[0]
    assert out["k"] == 32 and out["x_ref"] == x_ref
    assert out["sum_log_ratio_e6"] == num
    assert abs(out["hill_alpha"] - round(32 * 1e6 / num, 6)) < 1e-9


def test_hill_degenerate_small_corpus_visible(spark, tmp_path):
    """A ≤32-doc corpus must yield one VISIBLE row (actual k, NULL
    x_ref/alpha), not silently zero rows (ADVICE r7). Both engines."""
    rows = [(i, "x", "en", "s", 50 + i) for i in range(1, 11)]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = plans.QUERIES["hill_tail_doc_length"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["k"] == 10
    assert r["x_ref"] is None and r["hill_alpha"] is None
    assert r["hill_inv_alpha"] is None and r["sum_log_ratio_e6"] is None
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    odf = con.execute(plans.ORACLES["hill_tail_doc_length"]).fetchdf()
    assert len(odf) == 1 and odf["k"][0] == 10
    assert pd.isna(odf["x_ref"][0]) and pd.isna(odf["hill_alpha"][0])


def test_power_mde_matches_python_reference(spark, tmp_path):
    """Pooled-variance MDE and the 1%-effect sample size against a
    from-scratch Python computation on the same md5 arm split."""
    import math

    rows = [(i, "x", "en", "s", 80 + (i * 29) % 331) for i in range(1, 71)]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    arm1 = [r[4] for r in rows if _h48(str(r[0])) % 2 == 1]
    arm0 = [r[4] for r in rows if _h48(str(r[0])) % 2 == 0]
    n1, n0 = len(arm1), len(arm0)
    s1, s0 = sum(arm1), sum(arm0)
    vn1 = n1 * sum(v * v for v in arm1) - s1 * s1
    vn0 = n0 * sum(v * v for v in arm0) - s0 * s0
    sp2 = (vn0 / n0 + vn1 / n1) / (n0 + n1 - 2)
    zsum = 2.801585
    mean = (s0 + s1) / (n0 + n1)
    mde = round(zsum * math.sqrt(sp2 * (1 / n0 + 1 / n1)), 6)
    nreq = math.ceil(2 * sp2 * zsum * zsum / ((0.01 * mean) ** 2))
    out = plans.QUERIES["ab_power_mde"](spark, sf).collect()[0]
    assert (out["n0"], out["n1"]) == (n0, n1)
    assert abs(out["grand_mean"] - round(mean, 6)) < 1e-9
    assert abs(out["pooled_sd"] - round(math.sqrt(sp2), 6)) < 1e-9
    assert abs(out["mde_abs"] - mde) < 2e-6
    assert out["n_per_arm_for_1pct"] == nreq


def test_neyman_allocation_matches_python_reference(spark, tmp_path):
    """Largest-remainder Neyman allocation against a from-scratch Python
    apportionment; the budget invariant holds exactly."""
    import math

    groups = {"A": [10, 30, 50, 70], "B": [100, 100, 102], "C": [5, 500, 5, 500, 5]}
    rows, did = [], 0
    for src, vals in groups.items():
        for v in vals:
            did += 1
            rows.append((did, "x", "en", src, v))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    wq = {}
    for src, vals in groups.items():
        nh, sh = len(vals), sum(vals)
        vnh = nh * sum(v * v for v in vals) - sh * sh
        wq[src] = (
            0
            if nh < 2 or vnh <= 0
            else round(nh * math.sqrt(vnh / (nh * (nh - 1))) * 1e3)
        )
    wtot = sum(wq.values())
    fl = {s: (1000 * w) // wtot for s, w in wq.items()}
    rem = {s: 1000 * w - fl[s] * wtot for s, w in wq.items()}
    extra = 1000 - sum(fl.values())
    order = sorted(wq, key=lambda s: (-rem[s], s))
    alloc = {s: fl[s] + (1 if i < extra else 0) for i, s in enumerate(order)}
    out = {
        r["source"]: r
        for r in plans.QUERIES["neyman_allocation_by_source"](spark, sf).collect()
    }
    assert {s: r["neyman_weight_e3"] for s, r in out.items()} == wq
    assert {s: r["alloc"] for s, r in out.items()} == alloc
    assert sum(r["alloc"] for r in out.values()) == 1000
