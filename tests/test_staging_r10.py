"""Queries added in round 10 (now in the family modules under plans/):
plan shape and independent Python brute-force references (cross-engine
parity proves the engines AGREE, these pin the statistics against
INTENT). Oracle parity runs through the registry-wide
``tests/test_oracle_parity.py``."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pandas as pd
import pytest

from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.plans import corpus_stats_queries as CS
from flink_realtime_sessionize_sample_spark.plans import experiment_queries as EX


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _docs_pdf(rows):
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    return df.astype({"doc_id": "int64", "n_chars": "int64"})


def _events_pdf(rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df.astype({"event_id": "int64", "user_id": "int64"})


def _write_tables(tmp_path, **tables) -> str:
    for name, df in tables.items():
        df.to_parquet(tmp_path / f"{name}.parquet", index=False)
    return str(tmp_path)


# --- plan shape --------------------------------------------------------------


def _explain(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jqe.explainString(mode.fromString("extended"))


def test_return_km_cumulatives_are_banded(spark, sf_small):
    # The unbounded-domain KM must ride the banded rank operator, never
    # a range exchange / global sort.
    p = _explain(plans.QUERIES["intersession_return_km"](spark, sf_small))
    assert "rangepartitioning" not in p.lower()
    assert "_pid" in p


# --- t-closeness -------------------------------------------------------------


def test_t_closeness_matches_python(spark, tmp_path):
    """Per-group variational distances and the max against a plain
    Python computation over engineered skewed groups."""
    rows, i = [], 0
    # Group (s1, band0): all-en (skewed); (s2, band0): 50/50.
    for src, lang, k in [("s1", "en", 10), ("s2", "en", 5), ("s2", "de", 5)]:
        for _ in range(k):
            i += 1
            rows.append((i, "x", lang, src, 50))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    cells = Counter((r[3], r[2]) for r in rows)
    N = sum(cells.values())
    nl = Counter(r[2] for r in rows)
    groups = sorted({r[3] for r in rows})
    tvals = {}
    for g in groups:
        gs = sum(c for (s, _), c in cells.items() if s == g)
        t = 0.5 * sum(
            abs(cells.get((g, lab), 0) / gs - nl[lab] / N) for lab in nl
        )
        tvals[g] = t
    out = plans.QUERIES["t_closeness_audit"](spark, sf).collect()
    max_t = max(tvals.values())
    for r in out:
        assert abs(r["max_t"] - max_t) < 2e-9 * 1e9 / 1e9 + 1e-6
    shares = {r["t_band"]: r["n_groups"] for r in out}
    # s1 (all-en vs 75/25 global): t = 0.25 -> 't>=0.20'; s2: t = 0.25
    # ... compute expected bands directly:
    def band(t):
        if t >= 0.50:
            return "t>=0.50"
        if t >= 0.33:
            return "t>=0.33"
        if t >= 0.20:
            return "t>=0.20"
        return "t<0.20"

    want = Counter(band(t) for t in tvals.values())
    assert shares == dict(want)


# --- Mantel-Haenszel ---------------------------------------------------------


def test_mantel_haenszel_matches_python(spark, tmp_path):
    """CMH z and MH odds ratio against a plain Python replication over
    engineered strata with known 2x2 tables."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    for uid in range(1, 61):
        g = _h48(str(uid)) % 2
        for stratum in ("view", "click"):
            eid += 1
            # Engineered conversion: treated converts more in both strata.
            conv = (uid + (7 if stratum == "view" else 3)) % 4 < (2 if g else 1)
            val = 100.0 if conv else 10.0
            rows.append(
                (eid, (base + pd.Timedelta(minutes=eid)).isoformat(), uid, stratum, val, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    tables = {}
    for r in rows:
        g = _h48(str(r[2])) % 2
        y = 1 if r[4] > 60 else 0
        key = r[3]
        a, b, c, d = tables.get(key, (0, 0, 0, 0))
        if g and y:
            a += 1
        elif g:
            b += 1
        elif y:
            c += 1
        else:
            d += 1
        tables[key] = (a, b, c, d)
    a_sum = e_sum = v_sum = ad = bc = 0.0
    for a, b, c, d in tables.values():
        n1, n0, m1, m0 = a + b, c + d, a + c, b + d
        nt = a + b + c + d
        if n1 == 0 or n0 == 0 or nt <= 1:
            continue
        a_sum += a
        e_sum += round(1e9 * n1 * m1 / nt) / 1e9
        v_sum += round(1e9 * n1 * n0 * m1 * m0 / (nt * nt * (nt - 1))) / 1e9
        ad += round(1e9 * a * d / nt) / 1e9
        bc += round(1e9 * b * c / nt) / 1e9
    z = (a_sum - e_sum) / math.sqrt(v_sum)
    out = plans.QUERIES["mantel_haenszel_stratified_ab"](spark, sf).collect()[0]
    assert out["n_strata"] == len(tables)
    assert out["a_sum"] == int(a_sum)
    assert abs(out["z_stat"] - z) < 2e-6
    assert abs(out["or_mh"] - ad / bc) < 2e-6


# --- Cochran-Armitage --------------------------------------------------------


def test_cochran_armitage_matches_python(spark, tmp_path):
    """CA trend z against a plain Python replication over engineered
    length buckets with a monotone en-share trend."""
    rows, i = [], 0
    for w in range(5):
        for j in range(20):
            i += 1
            lang = "en" if j < 4 + 3 * w else "de"  # p(en) rises with w
            rows.append((i, "x", lang, "s", 250 * w + 10))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    buckets = Counter()
    succ = Counter()
    for r in rows:
        w = min(r[4] // 250, 7)
        buckets[w] += 1
        succ[w] += r[2] == "en"
    n = sum(buckets.values())
    A = sum(succ.values())
    swa = sum(w * succ[w] for w in buckets)
    swn = sum(w * buckets[w] for w in buckets)
    sw2n = sum(w * w * buckets[w] for w in buckets)
    num = n * swa - A * swn
    var = (A * (n - A) / n) * (n * sw2n - swn * swn)
    z = num / math.sqrt(var)
    out = plans.QUERIES["cochran_armitage_trend"](spark, sf).collect()[0]
    assert out["n_docs"] == n and out["n_en"] == A
    assert abs(out["z_stat"] - z) < 2e-6
    assert out["z_stat"] > 2  # the engineered trend must be detected


# --- Cochran's Q formula -----------------------------------------------------


@pytest.mark.parametrize("seed", [5, 23])
def test_cochran_q_formula_equals_definition(seed):
    """The integer Q used by the query equals the textbook definition
    Q = k(k-1) sum_j (G_j - T/k)^2 / (k*sum L - sum L^2) on random
    binary matrices."""
    k, n = 3, 30
    x = [[(_h48(f"{seed}:{i}:{j}") % 5 < 2 + j) for j in range(k)] for i in range(n)]
    G = [sum(x[i][j] for i in range(n)) for j in range(k)]
    L = [sum(x[i]) for i in range(n)]
    T = sum(G)
    den = k * sum(L) - sum(v * v for v in L)
    if den == 0:
        pytest.skip("degenerate draw")
    q_def = k * (k - 1) * sum((g - T / k) ** 2 for g in G) / den
    q_closed = (k - 1) * (k * sum(g * g for g in G) - T * T) / den
    assert abs(q_def - q_closed) < 1e-9


def test_cochran_q_output_bounds(spark, sf_small):
    out = plans.QUERIES["cochran_q_three_raters"](spark, sf_small).collect()[0]
    assert out["n_docs"] > 0 and out["q_stat"] >= 0
    assert 0.0 <= out["p_chi2_df2"] <= 1.0
    assert abs(out["p_chi2_df2"] - math.exp(-out["q_stat"] / 2)) < 2e-6


# --- quantile treatment effects ----------------------------------------------


def test_qte_matches_python_order_stats(spark, tmp_path):
    """Per-arm deciles equal the exact Python order statistics under the
    same md5 arm split."""
    rows = [(i, "x", "en", "s", 40 + (i * 13) % 211) for i in range(1, 101)]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    arms = {0: [], 1: []}
    for r in rows:
        arms[_h48(str(r[0])) % 2].append((r[4], r[0]))
    for g in arms:
        arms[g].sort()
    out = sorted(
        plans.QUERIES["quantile_treatment_effects"](spark, sf).collect(),
        key=lambda r: r["q"],
    )
    assert [r["q"] for r in out] == list(range(1, 10))
    for r in out:
        qa = arms[0][(r["q"] * len(arms[0]) + 9) // 10 - 1][0]
        qb = arms[1][(r["q"] * len(arms[1]) + 9) // 10 - 1][0]
        assert (r["q_control"], r["q_treated"], r["qte"]) == (qa, qb, qb - qa)


# --- log-rank ----------------------------------------------------------------


def test_logrank_matches_python(spark, tmp_path):
    """O1/E1/z against a plain Python log-rank over engineered sessions
    (far from batch end -> all uncensored except the sentinel)."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0

    def session(uid, start_sec, dur):
        nonlocal eid
        for s in (start_sec, start_sec + dur):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(seconds=s)).isoformat(), uid, "view", 1.0, "{}")
            )

    # Users with one session each; durations differ by arm.
    durs = {}
    for uid in range(1, 25):
        dur = 100 + 50 * (uid % 4)
        session(uid, 5000 * uid, dur)
        durs[uid] = dur
    eid += 1
    ev.append((eid, (base + pd.Timedelta(seconds=500000)).isoformat(), 99, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    # Python log-rank. Sentinel user 99: dur 0, censored (at batch end).
    obs = [(durs[u], False, _h48(str(u)) % 2) for u in durs]
    obs.append((0, True, _h48("99") % 2))
    times = sorted({t for t, c, g in obs if not c})
    o1 = e1 = v = 0.0
    for t in times:
        at_risk = [(tt, c, g) for tt, c, g in obs if tt >= t]
        n = len(at_risk)
        n1 = sum(1 for tt, c, g in at_risk if g == 1)
        d = sum(1 for tt, c, g in at_risk if tt == t and not c)
        d1 = sum(1 for tt, c, g in at_risk if tt == t and not c and g == 1)
        o1 += d1
        e1 += round(1e9 * d * n1 / n) / 1e9
        if n > 1:
            v += round(1e9 * d * n1 * (n - n1) * (n - d) / (n * n * (n - 1))) / 1e9
    z = (o1 - e1) / math.sqrt(v)
    out = plans.QUERIES["logrank_test_session_survival"](spark, sf).collect()[0]
    assert out["o1"] == int(o1)
    assert abs(out["e1"] - e1) < 1e-6
    assert abs(out["z_stat"] - z) < 2e-6


# --- bot signals -------------------------------------------------------------


def test_bot_bands_on_engineered_sessions(spark, tmp_path):
    """One engineered session per band; the classifier must hit all
    five."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0

    def add(uid, secs):
        nonlocal eid
        for s in secs:
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(seconds=s)).isoformat(), uid, "view", 1.0, "{}")
            )

    add(1, [0])  # single (no gaps)
    add(2, [0, 1, 2, 3, 4, 5])  # burst: mean gap 1s
    add(3, [0, 600, 1200])  # short: 2 gaps, mean 600
    add(4, [0, 600, 1200, 1800, 2400, 3000])  # metronome: 5 equal gaps
    add(5, [0, 100, 800, 1500, 1510, 2800])  # organic: irregular
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = {r["band"]: r for r in plans.QUERIES["session_bot_signals"](spark, sf).collect()}
    assert set(out) == {"single", "burst", "short", "metronome", "organic"}
    assert all(r["n_sessions"] == 1 for r in out.values())
    assert out["burst"]["n_events"] == 6 and out["burst"]["total_sec"] == 5
    assert out["metronome"]["total_sec"] == 3000
    assert out["single"]["total_sec"] == 0


# --- intersession return KM --------------------------------------------------


def test_return_km_matches_hand_curve(spark, tmp_path):
    """Return-time KM on engineered users: known gaps and censored
    waits."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0

    def add(uid, secs):
        nonlocal eid
        for s in secs:
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(seconds=s)).isoformat(), uid, "view", 1.0, "{}")
            )

    # u1: sessions [0..100], [10100..10200] -> return 10000; then wait
    #     to batch end 100000 - 10200 = 89800 (censored).
    add(1, [0, 100, 10100, 10200])
    # u2: sessions [0..0], [5000..5000] -> return 5000; censored wait 95000.
    add(2, [0, 5000])
    # u3: single session at 100000 (defines batch end): censored wait 0.
    add(3, [100000])
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    # obs: deaths 10000, 5000; censored 89800, 95000, 0.
    # times asc: deaths at 5000 (n_risk: all with t>=5000 -> 10000,5000,
    # 89800,95000 = 4), then 10000 (n_risk 3).
    out = sorted(
        plans.QUERIES["intersession_return_km"](spark, sf).collect(),
        key=lambda r: r["t_sec"],
    )
    got = [(r["t_sec"], r["n_risk"], r["n_events"]) for r in out]
    assert got == [(5000, 4, 1), (10000, 3, 1)]
    s1 = round(math.exp(round(1e6 * math.log(3 / 4)) / 1e6), 6)
    s2 = round(
        math.exp((round(1e6 * math.log(3 / 4)) + round(1e6 * math.log(2 / 3))) / 1e6), 6
    )
    assert [r["survival"] for r in out] == [s1, s2]


# --- reciprocal NN -----------------------------------------------------------


def test_reciprocal_nn_is_mutual_subset(spark, sf_small):
    """Every emitted pair must be mutual in the bucketed kNN graph, and
    mutuality must be symmetric-complete: recompute the kNN edge set in
    Python from the Spark kNN frame and check pair-for-pair."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        knn_join_cosine,
    )
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    emb = load_table(spark, sf_small, "embeddings")
    edges = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_join_cosine(emb, k=CS._RNN_K, nbits=4)
        .select("query_id", "neighbor_id")
        .collect()
    }
    want = {
        (a, b) for (a, b) in edges if (b, a) in edges and a < b
    }
    out = plans.QUERIES["reciprocal_nn_dedup"](spark, sf_small).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in out}
    assert got == want
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in out)


# --- Heaps' law --------------------------------------------------------------


def test_heaps_fit_matches_python(spark, tmp_path):
    """beta/K against a plain Python replication over an engineered
    corpus whose shingle vocabulary genuinely grows."""
    rows = []
    for i in range(1, 33):
        # Each doc introduces fresh trigrams plus some repeats.
        words = [f"w{i}a", f"w{i}b", f"w{i}c", "the", "end"] * (1 + i % 3)
        text = " ".join(words)
        rows.append((i, text, "en", "s", len(text)))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))

    def toks(t):
        return [w for w in t.lower().strip().split(" ") if w]

    def shingles(ws, k=3):
        # functions/text.py shingles are PER-DOC DISTINCT (shingle SETS,
        # as dedup uses them) — dedupe here too, order-preserving.
        if len(ws) < k:
            out = [" ".join(ws)] if ws else []
        else:
            out = [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)]
        return list(dict.fromkeys(out))

    stream = [(r[0], sh) for r in rows for sh in shingles(toks(r[1]))]
    firsts = {}
    ntok = Counter()
    for d, sh in stream:
        ntok[d] += 1
        firsts.setdefault(sh, d)
    docs = sorted(ntok)
    nd = len(docs)
    pts = []
    for c in range(1, CS._HEAPS_CKPTS + 1):
        r = (c * nd) // CS._HEAPS_CKPTS
        if r == 0:
            continue
        cut_doc = docs[r - 1]
        n_prefix = sum(ntok[d] for d in docs[:r])
        v = sum(1 for fd in firsts.values() if fd <= cut_doc)
        if n_prefix > 0 and v > 0:
            pts.append(
                (round(1e6 * math.log(n_prefix)), round(1e6 * math.log(v)))
            )
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    kk = math.exp((sy - sx * beta) / (1e6 * k))
    out = plans.QUERIES["heaps_law_fit"](spark, sf).collect()[0]
    assert out["n_checkpoints"] == k
    assert abs(out["heaps_beta"] - beta) < 2e-6
    assert abs(out["heaps_k"] - kk) < 2e-5
    assert 0.3 < out["heaps_beta"] <= 1.01  # engineered growth is detected


# --- Cramer's V --------------------------------------------------------------


def test_cramers_v_matches_python(spark, tmp_path):
    """chi2 and V against plain Python over an engineered contingency."""
    rows, i = [], 0
    for src, lang, k in [
        ("s1", "en", 12), ("s1", "de", 4), ("s2", "en", 5), ("s2", "de", 9),
        ("s3", "en", 7), ("s3", "fr", 7),
    ]:
        for _ in range(k):
            i += 1
            rows.append((i, "x", lang, src, 1))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    cells = Counter((r[3], r[2]) for r in rows)
    ns = Counter(r[3] for r in rows)
    nl = Counter(r[2] for r in rows)
    N = sum(cells.values())
    # Full margin grid: absent cells contribute their expected mass.
    chi2 = sum(
        round(
            1e9 * (cells.get((s, l), 0) * N - ns[s] * nl[l]) ** 2
            / (ns[s] * nl[l] * N)
        )
        / 1e9
        for s in ns
        for l in nl
    )
    v = math.sqrt(chi2 / (N * (min(len(ns), len(nl)) - 1)))
    out = plans.QUERIES["cramers_v_source_lang"](spark, sf).collect()[0]
    assert out["n_sources"] == len(ns) and out["n_langs"] == len(nl)
    assert abs(out["chi2"] - chi2) < 2e-6
    assert abs(out["cramers_v"] - v) < 2e-6
    assert 0.0 <= out["cramers_v"] <= 1.0


def test_cramers_v_includes_absent_cell_mass(spark, tmp_path):
    """Textbook chi2 on a table WITH an absent cell: the (s1, de) cell
    is unobserved and must still contribute its expected mass
    ns*nl/N = 5 (the full-grid formulation; the registered
    chisq_source_language sums present cells only — flagged for its
    own round-10 rotation)."""
    rows, i = [], 0
    for src, lang, k in [("s1", "en", 10), ("s2", "en", 5), ("s2", "de", 5)]:
        for _ in range(k):
            i += 1
            rows.append((i, "x", lang, src, 1))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = plans.QUERIES["cramers_v_source_lang"](spark, sf).collect()[0]
    cells = {("s1", "en"): 10, ("s2", "en"): 5, ("s2", "de"): 5}
    ns = {"s1": 10, "s2": 10}
    nl = {"en": 15, "de": 10}
    N = 20
    full = sum(
        round(1e9 * (cells.get((s, l), 0) * N - ns[s] * nl[l]) ** 2
              / (ns[s] * nl[l] * N)) / 1e9
        for s in ns for l in nl
    )
    assert abs(out["chi2"] - full) < 2e-6
    assert abs(out["cramers_v"]
               - math.sqrt(full / (N * (min(len(ns), len(nl)) - 1)))) < 2e-6


# --- SMD balance -------------------------------------------------------------


def test_smd_matches_python(spark, tmp_path):
    """Per-covariate SMD against plain Python under the same md5 split."""
    rows = []
    for i in range(1, 61):
        nw = 4 + (i * 7) % 19
        text = " ".join(f"w{j % 7}" for j in range(nw))
        rows.append((i, text, "en", "s", 30 + (i * 13) % 170))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))

    def toks(t):
        return [w for w in t.lower().strip().split(" ") if w]

    covs = {"n_chars": {}, "n_words": {}, "n_distinct_words": {}}
    for r in rows:
        g = _h48(str(r[0])) % 2
        covs["n_chars"].setdefault(g, []).append(r[4])
        covs["n_words"].setdefault(g, []).append(len(toks(r[1])))
        covs["n_distinct_words"].setdefault(g, []).append(len(set(toks(r[1]))))
    out = {r["covariate"]: r for r in plans.QUERIES["smd_covariate_balance"](spark, sf).collect()}
    for name, arms in covs.items():
        a0, a1 = arms[0], arms[1]
        m0, m1 = sum(a0) / len(a0), sum(a1) / len(a1)
        v0 = sum((x - m0) ** 2 for x in a0) / (len(a0) - 1)
        v1 = sum((x - m1) ** 2 for x in a1) / (len(a1) - 1)
        smd = (m1 - m0) / math.sqrt((v1 + v0) / 2)
        r = out[name]
        assert r["n0"] == len(a0) and r["n1"] == len(a1)
        assert abs(r["smd"] - smd) < 2e-6
        assert r["imbalanced_at_0_1"] == (abs(round(smd, 6)) > 0.1)


# --- Chao1 -------------------------------------------------------------------


def test_chao1_matches_counter(spark, tmp_path):
    """f1/f2/V/Chao1 against a Counter over engineered shingle counts
    (fresh trigrams + controlled repeats)."""
    rows = []
    for i in range(1, 25):
        words = [f"u{i}a", f"u{i}b", f"u{i}c"] + (["the", "common", "tail"] * (i % 3))
        text = " ".join(words)
        rows.append((i, text, "en", "s", len(text)))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))

    def toks(t):
        return [w for w in t.lower().strip().split(" ") if w]

    def shingles(ws, k=3):
        if len(ws) < k:
            out = [" ".join(ws)] if ws else []
        else:
            out = [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)]
        return list(dict.fromkeys(out))

    c = Counter(sh for r in rows for sh in shingles(toks(r[1])))
    v, n = len(c), sum(c.values())
    f1 = sum(1 for x in c.values() if x == 1)
    f2 = sum(1 for x in c.values() if x == 2)
    chao1 = v + f1 * (f1 - 1) / (2 * (f2 + 1))
    out = plans.QUERIES["chao1_vocab_richness"](spark, sf).collect()[0]
    assert (out["v_obs"], out["n_total"], out["f1"], out["f2"]) == (v, n, f1, f2)
    assert abs(out["chao1"] - chao1) < 1e-6
    assert abs(out["turing_coverage"] - (1 - f1 / n)) < 1e-6


# --- jackknife ---------------------------------------------------------------


def test_jackknife_matches_python(spark, tmp_path):
    rows, i = [], 0
    for src, lang, nc, k in [
        ("s1", "en", 100, 10), ("s2", "de", 300, 5), ("s3", "en", 50, 15),
    ]:
        for _ in range(k):
            i += 1
            rows.append((i, "x", lang, src, nc))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    N = len(rows)
    SC = sum(r[4] for r in rows)
    SE = sum(1 for r in rows if r[2] == "en")
    out = {r["source"]: r for r in plans.QUERIES["jackknife_source_sensitivity"](spark, sf).collect()}
    for src in ("s1", "s2", "s3"):
        sub = [r for r in rows if r[3] == src]
        ns, sc = len(sub), sum(r[4] for r in sub)
        se = sum(1 for r in sub if r[2] == "en")
        r = out[src]
        assert r["n_docs"] == ns
        assert abs(r["mean_chars_loo"] - (SC - sc) / (N - ns)) < 1e-6
        assert abs(r["delta_mean_chars"] - ((SC - sc) / (N - ns) - SC / N)) < 1e-6
        assert abs(r["delta_en_share"] - ((SE - se) / (N - ns) - SE / N)) < 1e-6


# --- capture-recapture -------------------------------------------------------


def test_capture_recapture_chapman_formula(spark, sf_small):
    """Chapman estimate recomputed from the emitted counts, and the
    overlap bounded by both captures."""
    out = plans.QUERIES["capture_recapture_dedup_estimate"](spark, sf_small).collect()[0]
    n1, n2, m = out["n_minhash_pairs"], out["n_simhash_pairs"], out["n_both"]
    assert 0 <= m <= min(n1, n2)
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert abs(out["chapman_total_est"] - round(chapman, 6)) < 1e-9
    if chapman > 0:
        assert abs(out["minhash_coverage_est"] - round(n1 / chapman, 6)) < 1e-6


def test_capture_recapture_oracle_embeds_registered_oracles():
    # Anti-drift: the CR oracle must literally contain both registered
    # dedup oracles as subqueries.
    from flink_realtime_sessionize_sample_spark.plans.registry import ORACLES

    cr = plans.ORACLES["capture_recapture_dedup_estimate"]
    assert ORACLES["dedup_minhash_lsh"].strip().rstrip(";") in cr
    assert ORACLES["dedup_simhash"].strip().rstrip(";") in cr


# --- filter disparity --------------------------------------------------------


def test_filter_disparity_rates_and_flags(spark, sf_small):
    """Rates, risk ratios, and the flag recomputed from the emitted
    integer counts; z against Python two-proportion arithmetic."""
    out = plans.QUERIES["filter_disparity_audit"](spark, sf_small).collect()
    N = sum(r["n_docs"] for r in out)
    K = sum(r["n_kept"] for r in out)
    for r in out:
        assert abs(r["pass_rate"] - round(r["n_kept"] / r["n_docs"], 6)) < 1e-9
        assert abs(r["overall_rate"] - round(K / N, 6)) < 1e-9
        if r["risk_ratio"] is not None and K > 0:
            assert abs(
                r["risk_ratio"]
                - round((r["n_kept"] / r["n_docs"]) / (K / N), 6)
            ) < 1e-9
        nl, kl = r["n_docs"], r["n_kept"]
        if nl >= 1 and (N - nl) >= 1 and 0 < K < N:
            p = K / N
            z = (kl / nl - (K - kl) / (N - nl)) / math.sqrt(
                p * (1 - p) * (1 / nl + 1 / (N - nl))
            )
            assert abs(r["z_stat"] - round(round(1e6 * z) / 1e6, 6)) < 2e-6
        flagged = (r["p_normal"] <= 0.05) and (
            r["risk_ratio"] < 0.8 or r["risk_ratio"] > 1.25
        )
        assert r["disparity_flag"] == flagged


# --- RBO ---------------------------------------------------------------------


def test_rbo_c_table_matches_formula():
    p, k = CS._RBO_P, CS._RBO_K
    for m in range(1, k + 1):
        want = (1 - p) * sum(p ** (d - 1) / d for d in range(m, k + 1))
        assert CS._RBO_C_E9[m - 1] == round(1e9 * want)
    # Identical lists => truncated RBO = (1-p) * sum_d p^{d-1} * 1 ... with
    # overlap d at every depth: sum over docs of C[rank] telescopes to
    # (1-p) * sum_{d} p^{d-1} (each depth contributes overlap/d = 1).
    full = sum(CS._RBO_C_E9[m - 1] for m in range(1, k + 1)) / 1e9
    want_full = (1 - p) * sum(p ** (d - 1) for d in range(1, k + 1))
    assert abs(full - want_full) < 1e-6


def test_rbo_matches_python_from_leg_frames(spark, sf_small):
    """Recompute truncated RBO in Python from the query's own two leg
    frames (the reciprocal-NN test pattern)."""
    from pyspark.sql import Window, functions as F
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk,
    )
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        bm25_scored_frame,
    )
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_small, "embeddings")
    sparse = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            bm25_scored_frame(docs)
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(CS._RBO_K)
            .collect()
        )
    }
    dense = {
        r["neighbor_id"]: r["rank"]
        for r in cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=CS._RBO_K).collect()
    }
    common = set(sparse) & set(dense)
    rbo_e9 = sum(CS._RBO_C_E9[max(sparse[d], dense[d]) - 1] for d in common)
    out = plans.QUERIES["rbo_sparse_vs_dense"](spark, sf_small).collect()[0]
    assert out[f"overlap_at_{CS._RBO_K}"] == len(common)
    assert abs(out["rbo_p9"] - round(rbo_e9 / 1e9, 6)) < 1e-9
    assert 0.0 <= out["rbo_p9"] <= 1.0


# --- PII x QI co-occurrence audit ---------------------------------------------


def test_pii_cooccurrence_tiers_match_python(spark, tmp_path):
    """Engineered doc_ids hit every tier; the Python reference recomputes
    flags (same regexes via ``re``), tiers and lift from scratch."""
    import re as _re

    from flink_realtime_sessionize_sample_spark.plans.pipeline_queries import (
        _EMAIL_RE,
        _NUM_RE,
    )

    rows = []
    # Group A (en, web, >=10 docs): contains the both-types doc 77 plus
    # email-only 7/14 and num-only 11/22 -> cooccurring_pii. (doc 0 would
    # NOT work: 0 % 77 == 0 but 0 * 9999991 = '0' has no 6-digit run.)
    for i in [77, 7, 14, 11, 22, 1, 2, 3, 4, 5]:
        rows.append((i, "plain text alpha", "en", "web", 100))
    # Group B (de, web, 2 docs, one email) -> small_group_pii.
    for i in [21, 8]:
        rows.append((i, "kleiner text", "de", "web", 100))
    # Group C (fr, web, clean) -> no_pii.
    for i in [9, 10, 12]:
        rows.append((i, "texte propre", "fr", "web", 100))
    # Group D (es, web, >=10 docs, email-only ids: %7 but not %11).
    for i in [28, 35, 42, 49, 56, 63, 91, 98, 105, 112]:
        rows.append((i, "texto normal", "es", "web", 100))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))

    # Python reference over the SAME augmentation.
    groups = {}
    tot = Counter()
    for doc_id, text, lang, source, n_chars in rows:
        s = text
        if doc_id % 7 == 0:
            s += f" contact user{doc_id}@example.com"
        if doc_id % 11 == 0:
            s += f" ref {doc_id * 9999991}"
        he = 1 if _re.search(_EMAIL_RE, s) else 0
        hn = 1 if _re.search(_NUM_RE, _re.sub(_EMAIL_RE, "<EMAIL>", s)) else 0
        g = groups.setdefault((lang, source, n_chars // 200), Counter())
        g.update(gs=1, ne=he, nn=hn, nb=he * hn)
        tot.update(n=1, ne=he, nn=hn, nb=he * hn)
    tiers = {}
    for g in groups.values():
        if g["gs"] < 10 and (g["ne"] > 0 or g["nn"] > 0):
            t = "small_group_pii"
        elif g["nb"] > 0:
            t = "cooccurring_pii"
        elif g["ne"] > 0 or g["nn"] > 0:
            t = "single_type_pii"
        else:
            t = "no_pii"
        tr = tiers.setdefault(t, Counter())
        tr.update(n_groups=1, gs=g["gs"], ne=g["ne"], nn=g["nn"], nb=g["nb"])
    lift = round(tot["n"] * tot["nb"] / (tot["ne"] * tot["nn"]), 6)

    out = {r["risk_tier"]: r for r in plans.QUERIES["pii_cooccurrence_audit"](spark, sf).collect()}
    assert set(out) == set(tiers) == {
        "cooccurring_pii", "small_group_pii", "single_type_pii", "no_pii",
    }
    for t, r in tiers.items():
        o = out[t]
        assert o["n_groups"] == r["n_groups"]
        assert o["n_docs_tier"] == r["gs"]
        assert o["n_email_docs"] == r["ne"]
        assert o["n_num_docs"] == r["nn"]
        assert o["n_both_docs"] == r["nb"]
        assert abs(o["doc_share"] - round(r["gs"] / tot["n"], 6)) < 1e-9
        assert abs(o["cooccur_lift"] - lift) < 1e-6


# --- multiclass MCC (Gorodkin R_K) --------------------------------------------


def test_mcc_matches_python_gorodkin(spark, sf_small):
    """R_K recomputed in Python from the registry's own prediction
    frame — the formula is pinned independently of the shared SQL."""
    pred = [
        (r["true_lang"], r["pred_lang"])
        for r in plans.QUERIES["naive_bayes_lang_classify"](spark, sf_small).collect()
    ]
    s = len(pred)
    c = sum(1 for t, p in pred if t == p)
    tc = Counter(t for t, _ in pred)
    pc = Counter(p for _, p in pred)
    classes = set(tc) | set(pc)
    spt = sum(tc[k] * pc[k] for k in classes)
    den = (s * s - sum(v * v for v in pc.values())) * (
        s * s - sum(v * v for v in tc.values())
    )
    mcc = (c * s - spt) / math.sqrt(den)
    out = plans.QUERIES["mcc_nb_classifier"](spark, sf_small).collect()[0]
    assert out["n_test"] == s
    assert out["n_correct"] == c
    assert out["n_classes"] == len(classes)
    assert abs(out["accuracy"] - round(c / s, 6)) < 1e-9
    assert abs(out["mcc_rk"] - mcc) < 2e-6
    assert -1.0 <= out["mcc_rk"] <= 1.0


def test_mcc_reduces_to_binary_mcc():
    """At K = 2 the Gorodkin form must equal the textbook binary MCC."""
    tp, fp, fn, tn = 37, 11, 5, 47
    s = tp + fp + fn + tn
    c = tp + tn
    tc = {"pos": tp + fn, "neg": tn + fp}
    pc = {"pos": tp + fp, "neg": tn + fn}
    spt = sum(tc[k] * pc[k] for k in tc)
    rk = (c * s - spt) / math.sqrt(
        (s * s - sum(v * v for v in pc.values()))
        * (s * s - sum(v * v for v in tc.values()))
    )
    binary = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(rk - binary) < 1e-12


# --- Friedman test -------------------------------------------------------------


def _friedman_python(blocks):
    """Definition-form tie-corrected Friedman over k=3 blocks: average
    ranks from sorting, Conover correction, df=2 closed-form p."""
    n = len(blocks)
    rsums = [0.0, 0.0, 0.0]
    tie_t = 0
    for vals in blocks:
        order = sorted(range(3), key=lambda j: vals[j])
        ranks = [0.0] * 3
        i = 0
        while i < 3:
            j = i
            while j + 1 < 3 and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for m in range(i, j + 1):
                ranks[order[m]] = avg
            t = j - i + 1
            tie_t += t**3 - t
            i = j + 1
        for j in range(3):
            rsums[j] += ranks[j]
    q_unc = 12 / (n * 3 * 4) * sum(r * r for r in rsums) - 3 * n * 4
    corr = 1 - tie_t / (n * 3 * 8)
    if corr == 0:
        return n, rsums, tie_t, None, None
    q_e6 = round(1e6 * q_unc / corr)
    return n, rsums, tie_t, q_e6 / 1e6, round(math.exp(-(q_e6 / 1e6) / 2), 6)


def test_friedman_matches_python_definition(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    counts = {
        1: (5, 3, 1),
        2: (2, 2, 2),   # full tie -> t-term 24
        3: (0, 4, 4),   # pair tie -> 6
        4: (1, 0, 3),
        5: (3, 1, 0),
        6: (0, 0, 0),   # error-only user: all-zero block, full tie
    }
    ev, eid = [], 0
    for uid, (a, b, c) in counts.items():
        for typ, k in (("view", a), ("click", b), ("purchase", c)):
            for _ in range(k):
                eid += 1
                ev.append((eid, (base + pd.Timedelta(seconds=eid)).isoformat(), uid, typ, 1.0, "{}"))
    eid += 1
    ev.append((eid, base.isoformat(), 6, "error", 1.0, "{}"))
    eid += 1
    ev.append((eid, base.isoformat(), 6, "error", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    n, rsums, tie_t, q, p = _friedman_python(list(counts.values()))
    out = plans.QUERIES["friedman_test_event_mix"](spark, sf).collect()[0]
    assert out["n_users"] == n == 6
    # Column double-rank sums and per-block identity sum_j r2_j = 12.
    assert (out["r2_view"], out["r2_click"], out["r2_purchase"]) == tuple(
        int(2 * r) for r in rsums
    )
    assert out["r2_view"] + out["r2_click"] + out["r2_purchase"] == 12 * n
    assert out["tie_t"] == tie_t
    assert abs(out["q_stat"] - q) < 1e-6
    assert abs(out["p_value"] - p) < 1e-6


def test_friedman_all_tied_is_null(spark, tmp_path):
    """Every block fully tied -> correction factor 0 -> NULL q/p, not an
    error (the nullif guard)."""
    base = pd.Timestamp("2024-01-01")
    ev = []
    for uid in (1, 2):
        for i, typ in enumerate(("view", "click", "purchase")):
            ev.append((uid * 10 + i, (base + pd.Timedelta(seconds=uid * 10 + i)).isoformat(), uid, typ, 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["friedman_test_event_mix"](spark, sf).collect()[0]
    assert out["n_users"] == 2
    assert out["tie_t"] == 48
    assert out["q_stat"] is None and out["p_value"] is None


# --- Page-Hinkley --------------------------------------------------------------


def _ph_python(day_means):
    """Integer-path PH reference mirroring the e9-quantized recursion."""
    sx = m = 0
    mn = None
    ph_max = 0
    alarm = None
    for t, (day, mean) in enumerate(day_means, start=1):
        x = math.floor(1e9 * mean + 0.5)  # half-up, the engines' round
        sx += x
        xbar = math.floor(sx / t + 0.5)
        m += x - xbar - EX._PH_DELTA_E9
        mn = m if mn is None or m < mn else mn
        p = m - mn
        ph_max = max(ph_max, p)
        if alarm is None and p > EX._PH_LAMBDA_E9:
            alarm = day
    return round(ph_max / 1e9, 6), alarm


def test_page_hinkley_detects_injected_shift(spark, tmp_path):
    """20 stationary days at mean 50 then 10 days at 58: the detector
    must alarm shortly after the shift, matching the integer-path
    Python reference exactly."""
    base = pd.Timestamp("2024-01-01")
    epoch = pd.Timestamp("1970-01-01")
    ev, eid = [], 0
    day_means = []
    for d in range(30):
        mean = 50.0 if d < 20 else 58.0
        day_means.append(((base + pd.Timedelta(days=d) - epoch).days, mean))
        for i in range(4):
            eid += 1
            ev.append((eid, (base + pd.Timedelta(days=d, hours=i)).isoformat(), 1, "view", mean, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    ph_ref, alarm_ref = _ph_python(day_means)
    out = plans.QUERIES["page_hinkley_drift"](spark, sf).collect()[0]
    assert out["n_days"] == 30
    assert out["drift_detected"] is True
    assert alarm_ref is not None and out["alarm_day"] == alarm_ref
    # Alarm fires after the shift day (epoch day of d=20), never before.
    assert out["alarm_day"] >= day_means[20][0]
    assert abs(out["ph_max"] - ph_ref) < 1e-9


def test_page_hinkley_quiet_on_constant_series(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d in range(15):
        for i in range(3):
            eid += 1
            ev.append((eid, (base + pd.Timedelta(days=d, hours=i)).isoformat(), 1, "view", 42.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["page_hinkley_drift"](spark, sf).collect()[0]
    # Constant means: every deviation is exactly -delta, m decreases
    # monotonically, PH stays 0.
    assert out["ph_max"] == 0.0
    assert out["alarm_day"] is None
    assert out["drift_detected"] is False


# --- hypothesis property tests (friedman / page-hinkley) -----------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=3,
        max_size=10,
    )
)
def test_friedman_property_random_blocks(spark, tmp_path_factory, blocks):
    """The integer-form Q (6*(sum R2^2 - 48n^2)/(24n - T)) must equal the
    DEFINITION-form tie-corrected Friedman on arbitrary count blocks."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for uid, (a, b, c) in enumerate(blocks, start=1):
        for typ, k in (("view", a), ("click", b), ("purchase", c)):
            for _ in range(k):
                eid += 1
                ev.append((eid, (base + pd.Timedelta(seconds=eid)).isoformat(), uid, typ, 1.0, "{}"))
        # Anchor every user with one out-of-scope event so all-zero
        # blocks still appear as blocks.
        eid += 1
        ev.append((eid, (base + pd.Timedelta(seconds=eid)).isoformat(), uid, "error", 1.0, "{}"))
    sf = _write_tables(tmp_path_factory.mktemp("fried"), events=_events_pdf(ev))
    n, rsums, tie_t, q, p = _friedman_python(blocks)
    out = plans.QUERIES["friedman_test_event_mix"](spark, sf).collect()[0]
    assert out["n_users"] == n
    assert (out["r2_view"], out["r2_click"], out["r2_purchase"]) == tuple(
        int(2 * r) for r in rsums
    )
    assert out["tie_t"] == tie_t
    if q is None:
        assert out["q_stat"] is None and out["p_value"] is None
    else:
        assert abs(out["q_stat"] - q) < 1e-6
        assert abs(out["p_value"] - p) < 1e-6
        assert out["q_stat"] >= -1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=1, max_value=200),  # integer day means
        min_size=3,
        max_size=20,
    )
)
def test_page_hinkley_property_random_series(spark, tmp_path_factory, means):
    """PH path on arbitrary integer day-mean series matches the
    integer-quantized Python recursion exactly (half-up rounding, the
    engines' round semantics)."""
    base = pd.Timestamp("2024-01-01")
    epoch = pd.Timestamp("1970-01-01")
    ev, eid = [], 0
    day_means = []
    for d, mean in enumerate(means):
        day_means.append(((base + pd.Timedelta(days=d) - epoch).days, float(mean)))
        for i in range(2):
            eid += 1
            ev.append((eid, (base + pd.Timedelta(days=d, hours=i)).isoformat(), 1, "view", float(mean), "{}"))
    sf = _write_tables(tmp_path_factory.mktemp("ph"), events=_events_pdf(ev))
    ph_ref, alarm_ref = _ph_python(day_means)
    out = plans.QUERIES["page_hinkley_drift"](spark, sf).collect()[0]
    assert out["n_days"] == len(means)
    assert abs(out["ph_max"] - ph_ref) < 1e-9
    assert out["alarm_day"] == alarm_ref
    assert out["drift_detected"] is (alarm_ref is not None)


def test_stream_ph_twin_equals_batch_path(spark, tmp_path):
    """The streaming twin's merged partials must reproduce the batch PH
    scan exactly: every event in a day carries the same value, so the
    odd-event_id half has the same day means as the full series and the
    twin must match the integer-path reference on them."""
    base = pd.Timestamp("2024-01-01")
    epoch = pd.Timestamp("1970-01-01")
    ev, eid = [], 0
    day_means = []
    for d in range(30):
        mean = 50.0 if d < 20 else 58.0
        day_means.append(((base + pd.Timedelta(days=d) - epoch).days, mean))
        for i in range(4):
            eid += 1
            ev.append((eid, (base + pd.Timedelta(days=d, hours=i)).isoformat(), 1, "view", mean, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    ph_ref, alarm_ref = _ph_python(day_means)
    out = plans.QUERIES["stream_page_hinkley_monitor"](spark, sf).collect()[0]
    assert out["n_days"] == 30
    assert abs(out["ph_max"] - ph_ref) < 1e-9
    assert out["alarm_day"] == alarm_ref
    assert out["drift_detected"] is True
