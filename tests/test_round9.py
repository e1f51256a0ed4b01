"""Queries added in round 9 (now in the family modules under plans/):
independent Python brute-force references pinning each statistic/operator
against INTENT, not just cross-engine agreement. Handwritten
tiny tables go through parquet so the full query surface — load_table
included — is exercised."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pandas as pd
import pytest

from flink_realtime_sessionize_sample_spark import plans


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


def _orders_pdf(rows):
    df = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    )
    df["o_orderdate"] = pd.to_datetime(df["o_orderdate"]).astype("datetime64[us]")
    return df.astype({"o_orderkey": "int64", "o_custkey": "int64"})


def _write_tables(tmp_path, **tables) -> str:
    for name, df in tables.items():
        df.to_parquet(tmp_path / f"{name}.parquet", index=False)
    return str(tmp_path)


def _tokens(text: str) -> list[str]:
    # functions/text.py tokens: lower, strip, split on single spaces,
    # drop empties.
    return [t for t in text.lower().strip().split(" ") if t]


def _shingles(toks: list[str], k: int = 3) -> set[str]:
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


# --- prefix-filter Jaccard join --------------------------------------------


def test_prefix_filter_matches_brute_jaccard(spark, tmp_path):
    """The emitted pair set and Jaccard values equal an O(n^2) Python
    sweep over the same 3-shingle sets (losslessness of the prefix
    filter on a corpus with engineered near-dups)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " extra", "en", "s", len(base) + 6),  # near-dup of 1
        (3, base.replace("quick", "slow"), "en", "s", len(base)),  # near-dup
        (4, "completely different text about spark and flink pipelines", "en", "s", 55),
        (5, "yet another unrelated document mentioning ducks", "en", "s", 46),
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    sets = {r[0]: _shingles(_tokens(r[1])) for r in rows}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 5 >= union * 3:
                want[(a, b)] = (inter, union)
    assert want, "handcrafted corpus must contain >= 1 qualifying pair"
    out = plans.QUERIES["prefix_filter_jaccard_join"](spark, sf).collect()
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"]) for r in out}
    assert got == want
    for r in out:
        assert abs(r["jaccard"] - r["inter"] / r["union_sz"]) < 1e-6


# --- Wald-Wolfowitz runs test ----------------------------------------------


def test_runs_test_matches_bruteforce(spark, tmp_path):
    """n1/n2/R and z against a plain Python walk over engineered daily
    revenues with a known sign sequence (including a dropped zero
    delta)."""
    # Day -> total cents: +,+,-,0,-,+ sign deltas (0 dropped).
    daily = [100.00, 150.00, 200.00, 120.00, 120.00, 80.00, 260.00]
    rows = []
    for i, price in enumerate(daily):
        rows.append(
            (i + 1, 1, "O", price, f"2024-03-{i + 1:02d}", "1-URGENT")
        )
    sf = _write_tables(tmp_path, orders=_orders_pdf(rows))
    cents = [round(p * 100) for p in daily]
    signs = []
    for prev, cur in zip(cents, cents[1:]):
        if cur != prev:
            signs.append(1 if cur > prev else -1)
    n1 = signs.count(1)
    n2 = signs.count(-1)
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n = n1 + n2
    mean = 1 + 2 * n1 * n2 / n
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    z = (runs - mean) / math.sqrt(var)
    out = plans.QUERIES["runs_test_daily_revenue"](spark, sf).collect()[0]
    assert out["n1"] == n1 and out["n2"] == n2 and out["runs"] == runs
    assert abs(out["z_stat"] - z) < 2e-6
    x = abs(round(z * 1e6) / 1e6) / math.sqrt(2)
    t = 1 / (1 + 0.3275911 * x)
    p = (
        ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t
         + 0.254829592) * t * math.exp(-x * x)
    )
    assert abs(out["p_normal"] - p) < 2e-6


# --- exact OLS --------------------------------------------------------------


def test_ols_matches_numpy_lstsq(spark, tmp_path):
    """Cramer coefficients equal numpy's least-squares solution on a
    well-conditioned handcrafted corpus."""
    np = pytest.importorskip("numpy")
    rows = []
    for i in range(1, 26):
        nw = 5 + (i * 7) % 23
        nd = max(2, nw - (i % 5))  # distinct < total
        toks = [f"w{j % nd}" for j in range(nw)]
        text = " ".join(toks)
        n_chars = 10 + 4 * nw + 3 * nd + (i % 3)  # near-planar target
        rows.append((i, text, "en", "s", n_chars))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    X, y = [], []
    for r in rows:
        toks = _tokens(r[1])
        X.append([1.0, len(toks), len(set(toks))])
        y.append(r[4])
    beta, *_ = np.linalg.lstsq(np.array(X), np.array(y, dtype=float), rcond=None)
    out = plans.QUERIES["ols_chars_model"](spark, sf).collect()[0]
    assert out["n"] == len(rows)
    assert abs(out["b0"] - beta[0]) < 1e-4
    assert abs(out["b1"] - beta[1]) < 1e-4
    assert abs(out["b2"] - beta[2]) < 1e-4


# --- token drift attribution ------------------------------------------------


def test_token_drift_matches_counter_llr(spark, tmp_path):
    """Top movers and LLR values against a Counter-based Python
    replication of the add-1 smoothed log-ratio."""
    rows = []
    for i in range(1, 21):
        word = "alpha" if i % 2 == 0 else "beta"
        text = f"{word} common filler tokens here"
        rows.append((i, text, "en", "s", len(text)))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    ca, cb = Counter(), Counter()
    for r in rows:
        (ca if r[0] % 2 == 0 else cb).update(_tokens(r[1]))
    vocab = set(ca) | set(cb)
    na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    scores = {
        w: round(
            1e6
            * (
                math.log(ca[w] + 1)
                - math.log(na + v)
                - math.log(cb[w] + 1)
                + math.log(nb + v)
            )
        )
        for w in vocab
    }
    out = plans.QUERIES["token_drift_top_movers"](spark, sf).collect()
    want = sorted(vocab, key=lambda w: (-abs(scores[w]), w))[: len(out)]
    assert [r["token"] for r in out] == want
    for r in out:
        assert abs(r["llr"] - scores[r["token"]] / 1e6) < 1e-6
        assert r["ca"] == ca[r["token"]] and r["cb"] == cb[r["token"]]


# --- mutual information ------------------------------------------------------


def test_mutual_info_matches_python(spark, tmp_path):
    """MI/H/NMI against plain Python over an engineered contingency with
    known dependence."""
    rows, i = [], 0
    # Engineered: source s1 is mostly en, s2 mostly de.
    for src, lang, k in [("s1", "en", 8), ("s1", "de", 2), ("s2", "de", 7), ("s2", "en", 3)]:
        for _ in range(k):
            i += 1
            rows.append((i, "x", lang, src, 1))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    cells = Counter((r[3], r[2]) for r in rows)
    N = sum(cells.values())
    ns = Counter(r[3] for r in rows)
    nl = Counter(r[2] for r in rows)
    mi = sum(
        (c / N) * math.log(c * N / (ns[s] * nl[l])) for (s, l), c in cells.items()
    )
    hs = -sum((c / N) * math.log(c / N) for c in ns.values())
    hl = -sum((c / N) * math.log(c / N) for c in nl.values())
    out = plans.QUERIES["mutual_info_source_lang"](spark, sf).collect()[0]
    assert out["n_cells"] == len(cells)
    assert abs(out["mi_nats"] - mi) < 1e-5
    assert abs(out["h_source"] - hs) < 1e-5
    assert abs(out["h_lang"] - hl) < 1e-5
    assert abs(out["nmi"] - mi / math.sqrt(hs * hl)) < 1e-5


# --- Jensen-Shannon matrix ---------------------------------------------------


def test_js_divergence_matches_python(spark, tmp_path):
    """Pairwise JS against a Counter-based Python implementation,
    including a token absent from one source (the finite ln 2 path)."""
    rows = [
        (1, "apple banana cherry apple", "en", "s1", 25),
        (2, "apple banana banana", "en", "s1", 19),
        (3, "apple cherry durian durian", "en", "s2", 26),
        (4, "elderberry elderberry cherry", "en", "s2", 28),
        (5, "apple fig fig grape", "en", "s3", 19),
    ]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    counts: dict[str, Counter] = {}
    for r in rows:
        counts.setdefault(r[3], Counter()).update(_tokens(r[1]))

    def js(p: Counter, q: Counter) -> float:
        np_, nq = sum(p.values()), sum(q.values())
        out = 0.0
        for w, c in p.items():
            out += 0.5 * (c / np_) * math.log(
                (2 * c * nq) / (c * nq + q.get(w, 0) * np_)
            )
        for w, c in q.items():
            out += 0.5 * (c / nq) * math.log(
                (2 * c * np_) / (c * np_ + p.get(w, 0) * nq)
            )
        return out

    srcs = sorted(counts)
    want = {
        (a, b): js(counts[a], counts[b])
        for i, a in enumerate(srcs)
        for b in srcs[i + 1 :]
    }
    out = plans.QUERIES["js_divergence_source_matrix"](spark, sf).collect()
    got = {(r["source_a"], r["source_b"]): r["js_nats"] for r in out}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-5
        assert 0.0 <= got[k] <= math.log(2) + 1e-9


# --- Krippendorff closed form ------------------------------------------------


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_krippendorff_closed_form_equals_definition(seed):
    """The closed rational form used by the query equals the definitional
    coincidence-matrix alpha for two complete raters, on pseudo-random
    label vectors."""
    labels = ["en", "de", "fr", "es"]
    n = 40
    r1 = [labels[_h48(f"{seed}a{i}") % 4] for i in range(n)]
    r2 = [
        r1[i] if _h48(f"{seed}b{i}") % 3 else labels[_h48(f"{seed}c{i}") % 4]
        for i in range(n)
    ]
    # Definitional: coincidence matrix o[c][k], Do/De.
    o = Counter()
    for a, b in zip(r1, r2):
        o[(a, b)] += 1
        o[(b, a)] += 1
    n_tot = 2 * n
    nc = Counter()
    for (a, _), c in o.items():
        nc[a] += c
    do = sum(c for (a, b), c in o.items() if a != b) / n_tot
    de = sum(
        nc[a] * nc[b] for a in nc for b in nc if a != b
    ) / (n_tot * (n_tot - 1))
    alpha_def = 1 - do / de
    # Closed form from the query.
    disagree = sum(1 for a, b in zip(r1, r2) if a != b)
    sum_nc2 = sum(c * c for c in nc.values())
    alpha_closed = 1 - ((2 * n - 1) * 2 * disagree) / (4 * n * n - sum_nc2)
    assert abs(alpha_def - alpha_closed) < 1e-12


def test_krippendorff_query_bounds(spark, sf_small):
    out = plans.QUERIES["krippendorff_alpha_agreement"](spark, sf_small).collect()[0]
    assert out["n_units"] > 0
    assert -1.0 <= out["alpha"] <= 1.0


# --- O'Brien-Fleming looks ---------------------------------------------------


def test_obf_looks_match_python_welch(spark, tmp_path):
    """Cumulative per-look Welch z and boundary crossings against a plain
    Python replication over engineered events."""
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(1, 81):
        uid = i
        arm = _h48(str(uid)) % 2
        val = 10.0 + 3.0 * arm + (i % 7)  # arm 1 is genuinely higher
        ts = base + pd.Timedelta(minutes=i)
        rows.append((i, ts.isoformat(), uid, "view", val, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    us = [
        int(pd.Timestamp(r[1]).value // 1000) for r in rows
    ]
    mn, mx = min(us), max(us)
    looks: dict[int, list[tuple[int, int]]] = {}
    for r, u in zip(rows, us):
        lk = (4 * (u - mn)) // (mx - mn + 1) + 1
        arm = _h48(str(r[2])) % 2
        looks.setdefault(lk, []).append((arm, round(r[4] * 100)))
    bounds = {1: 4.048, 2: 2.862, 3: 2.337, 4: 2.024}
    cum: list[tuple[int, int]] = []
    out = {
        r["look"]: r
        for r in plans.QUERIES["obrien_fleming_ab_looks"](spark, sf).collect()
    }
    for lk in sorted(looks):
        cum += looks[lk]
        a0 = [c for a, c in cum if a == 0]
        a1 = [c for a, c in cum if a == 1]
        m0, m1 = sum(a0) / len(a0), sum(a1) / len(a1)
        v0 = sum((x - m0) ** 2 for x in a0) / (len(a0) - 1)
        v1 = sum((x - m1) ** 2 for x in a1) / (len(a1) - 1)
        z = (m1 - m0) / math.sqrt(v1 / len(a1) + v0 / len(a0))
        r = out[lk]
        assert r["n0"] == len(a0) and r["n1"] == len(a1)
        assert abs(r["z_stat"] - z) < 2e-6
        assert r["z_boundary"] == pytest.approx(bounds[lk])
        assert r["crossed"] == (abs(round(z * 1e6)) >= round(bounds[lk] * 1e6))


# --- SPRT --------------------------------------------------------------------


def test_sprt_constants_and_decisions(spark, sf_small):
    """The e6 constants are the true Wald quantities, and the emitted LLR
    and decisions satisfy the exact integer recurrences."""
    from flink_realtime_sessionize_sample_spark.plans import experiment_queries as R9

    assert R9._SPRT_L1 == round(1e6 * math.log(0.25 / 0.15))
    assert R9._SPRT_L0 == round(1e6 * math.log(0.75 / 0.85))
    assert R9._SPRT_A == round(1e6 * math.log(19)) == -R9._SPRT_B
    out = plans.QUERIES["sprt_purchase_rate_monitor"](spark, sf_small).collect()
    assert [r["look"] for r in sorted(out, key=lambda r: r["look"])] == [1, 2]
    for r in out:
        assert r["llr_micro"] == r["k_cum"] * R9._SPRT_L1 + (
            r["n_cum"] - r["k_cum"]
        ) * R9._SPRT_L0
        if r["llr_micro"] >= R9._SPRT_A:
            assert r["decision"] == "accept_h1"
        elif r["llr_micro"] <= R9._SPRT_B:
            assert r["decision"] == "accept_h0"
        else:
            assert r["decision"] == "continue"


# --- Kaplan-Meier ------------------------------------------------------------


def test_kaplan_meier_matches_hand_computed_curve(spark, tmp_path):
    """Survival curve on engineered sessions with a known censoring
    pattern: deaths at t=0 (x2), 200, 1000; one censored t=0 session
    still open at batch end."""
    base = pd.Timestamp("2024-01-01")
    ev = []

    def add(eid, uid, sec):
        ev.append(
            (eid, (base + pd.Timedelta(seconds=sec)).isoformat(), uid, "view", 1.0, "{}")
        )

    add(1, 1, 0), add(2, 1, 100), add(3, 1, 200)  # session dur 200 (death)
    add(4, 2, 0)  # dur 0 (death)
    add(5, 2, 5000)  # dur 0 (death; 100000 - 5000 > 1800)
    add(6, 3, 0), add(7, 3, 1000)  # dur 1000 (death)
    add(8, 9, 100000)  # dur 0, last event AT batch end -> censored
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = sorted(
        plans.QUERIES["kaplan_meier_session_survival"](spark, sf).collect(),
        key=lambda r: r["t_sec"],
    )
    got = [(r["t_sec"], r["n_risk"], r["n_events"], r["survival"]) for r in out]
    assert got == [(0, 5, 2, 0.6), (200, 2, 1, 0.3), (1000, 1, 1, 0.0)]


# --- hypothesis property tests ----------------------------------------------

import tempfile

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st


def _query_rows(spark, name, **tables) -> list:
    """Collect query ``name`` over ``tables`` written to a temp dir. The
    dir is removed only after the rows are collected: the query's pins
    are lazy, so its inputs are read at the collect."""
    with tempfile.TemporaryDirectory(prefix="r9_prop_") as d:
        for table, df in tables.items():
            df.to_parquet(f"{d}/{table}.parquet", index=False)
        return plans.QUERIES[name](spark, d).collect()


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=1, max_value=50000),  # daily cents
        min_size=5,
        max_size=25,
    )
)
def test_runs_test_property_random_daily_cents(spark, cents):
    signs = []
    for prev, cur in zip(cents, cents[1:]):
        if cur != prev:
            signs.append(1 if cur > prev else -1)
    n1, n2 = signs.count(1), signs.count(-1)
    assume(n1 >= 1 and n2 >= 1)
    rows = [
        (i + 1, 1, "O", c / 100.0, f"2024-03-{i + 1:02d}", "1-URGENT")
        for i, c in enumerate(cents)
    ]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n = n1 + n2
    out = _query_rows(spark, "runs_test_daily_revenue", orders=_orders_pdf(rows))[0]
    assert (out["n1"], out["n2"], out["runs"]) == (n1, n2, runs)
    if n >= 2 and 2 * n1 * n2 * (2 * n1 * n2 - n) > 0:
        mean = 1 + 2 * n1 * n2 / n
        var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        assert abs(out["z_stat"] - (runs - mean) / math.sqrt(var)) < 2e-6


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.sampled_from(["en", "de", "fr"]),
        ),
        min_size=8,
        max_size=40,
    )
)
def test_mutual_info_property_random_contingency(spark, pairs):
    rows = [
        (i + 1, "x", lang, src, 1) for i, (src, lang) in enumerate(pairs)
    ]
    cells = Counter((src, lang) for src, lang in pairs)
    N = len(pairs)
    ns = Counter(src for src, _ in pairs)
    nl = Counter(lang for _, lang in pairs)
    mi = sum(
        (c / N) * math.log(c * N / (ns[s] * nl[l]))
        for (s, l), c in cells.items()
    )
    out = _query_rows(spark, "mutual_info_source_lang", documents=_docs_pdf(rows))[0]
    assert out["n_cells"] == len(cells)
    assert abs(out["mi_nats"] - mi) < 1e-5
    assert out["mi_nats"] >= -1e-9  # MI is nonnegative


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=10, max_value=500),  # n_chars values
        min_size=20,
        max_size=60,
    )
)
def test_kaplan_meier_property_monotone_and_risk_consistent(spark, vals):
    """On random single-event sessions far from batch end (plus one
    censored sentinel), KM survival must be non-increasing, start below
    1, and risk sets must deplete consistently."""
    base = pd.Timestamp("2024-01-01")
    ev = []
    eid = 0
    for i, v in enumerate(vals):
        uid = i + 1
        # Two events per user: duration v, long before batch end.
        for s in (10000 * uid, 10000 * uid + v):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(seconds=s)).isoformat(), uid, "view", 1.0, "{}")
            )
    eid += 1
    far = 10000 * (len(vals) + 2)
    ev.append((eid, (base + pd.Timedelta(seconds=far)).isoformat(), 9999, "view", 1.0, "{}"))
    out = sorted(
        _query_rows(spark, "kaplan_meier_session_survival", events=_events_pdf(ev)),
        key=lambda r: r["t_sec"],
    )
    assume(out)
    total = len(vals) + 1  # + censored sentinel
    prev_s = 1.0
    removed = 0
    for r in out:
        assert r["n_risk"] <= total - removed
        assert 0.0 <= r["survival"] <= prev_s + 1e-9
        prev_s = r["survival"]
        removed += r["n_events"]
