"""Round-11 queries (plans/staging_r11.py): plan shape and
independent Python brute-force references (the staging_r8/r10
discipline — cross-engine parity proves the engines AGREE, these pin the
statistics against INTENT)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pandas as pd

from flink_realtime_sessionize_sample_spark import plans


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _round_away(x: float) -> int:
    """Spark/DuckDB round(): HALF UP = half away from zero (Python's
    round() is banker's — the PH gotcha, extended to negatives here
    because e-process increments are negative under H0)."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


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


def _explain(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jqe.explainString(mode.fromString("extended"))


# --- plan shape --------------------------------------------------------------


def test_stream_twin_readout_plan_lint(spark):
    """Lint the two streaming twins' shared readouts without running a
    replay (building a stream_* query executes one). Build the readouts
    directly over small static frames — the exact post-merge shapes the
    twins feed them ((day, n, k) for the e-value monitor, (day, value, n)
    for the distribution-drift monitor) — and lint those plans."""
    from flink_realtime_sessionize_sample_spark.plans.staging_r11 import (
        _ev_readout,
        _sdd_readout,
    )

    ev = spark.createDataFrame(
        [(d, 100 + d, 5 + (d % 3)) for d in range(8)], "day long, n long, k long"
    )
    sdd = spark.createDataFrame(
        [(d, v, 3 + ((d + v) % 4)) for d in range(8) for v in (10, 20, 30)],
        "day long, value long, n long",
    )
    offenders = {}
    for name, df in (
        ("_ev_readout", _ev_readout(ev)),
        ("_sdd_readout", _sdd_readout(sdd)),
    ):
        p = _explain(df)
        bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
        if bad:
            offenders[name] = bad
    assert not offenders, f"stream-twin readout lint failed: {offenders}"


# --- Goodman-Kruskal lambda ----------------------------------------------------


def _gk_python(cells: Counter) -> tuple[float | None, float | None, int]:
    rtot, ctot = Counter(), Counter()
    rmax, cmax = Counter(), Counter()
    for (s, l), c in cells.items():
        rtot[s] += c
        ctot[l] += c
        rmax[s] = max(rmax[s], c)
        cmax[l] = max(cmax[l], c)
    n = sum(cells.values())

    def lam(sum_rowmax, modal):
        if n - modal <= 0:
            return None
        return round((1.0 * sum_rowmax - modal) / (1.0 * n - modal), 6)

    return (
        lam(sum(rmax.values()), max(ctot.values())),
        lam(sum(cmax.values()), max(rtot.values())),
        n,
    )


def test_gk_lambda_perfect_association(spark, tmp_path):
    rows = []
    for i in range(10):
        rows.append((i, "t", "lx", "src_a", 5))
    for i in range(10, 20):
        rows.append((i, "t", "ly", "src_b", 5))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = plans.QUERIES["goodman_kruskal_lambda_source_lang"](spark, sf).collect()[0]
    assert out["n_docs"] == 20
    assert out["lambda_lang_given_source"] == 1.0
    assert out["lambda_source_given_lang"] == 1.0


def test_gk_lambda_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = load_table(spark, sf_small, "documents").select("source", "lang").collect()
    cells = Counter((r["source"], r["lang"]) for r in rows)
    l_ls, l_sl, n = _gk_python(cells)
    out = plans.QUERIES["goodman_kruskal_lambda_source_lang"](
        spark, sf_small
    ).collect()[0]
    assert out["n_docs"] == n
    assert abs(out["lambda_lang_given_source"] - l_ls) < 1e-9
    assert abs(out["lambda_source_given_lang"] - l_sl) < 1e-9


# --- Kruskal-Wallis ------------------------------------------------------------


def _kw_python(pairs) -> tuple[float, int, int]:
    """Plain-float tie-corrected KW (textbook form, midranks via sort) —
    independent of the engine's integer-quantized path."""
    vals = sorted(v for _, v in pairs)
    n = len(vals)
    # midrank per value
    rank = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2.0
        i = j
    groups = {}
    for g, v in pairs:
        groups.setdefault(g, []).append(rank[v])
    h = 12.0 / (n * (n + 1)) * sum(
        (sum(rs)) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    ties = Counter(vals)
    c = 1 - sum(t**3 - t for t in ties.values()) / (n**3 - n)
    return h / c, len(groups), n


def test_kruskal_wallis_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = (
        load_table(spark, sf_small, "documents").select("source", "n_chars").collect()
    )
    pairs = [(r["source"], r["n_chars"]) for r in rows]
    h_ref, k_ref, n_ref = _kw_python(pairs)
    out = plans.QUERIES["kruskal_wallis_length_by_source"](
        spark, sf_small
    ).collect()[0]
    assert out["n_docs"] == n_ref
    assert out["n_groups"] == k_ref
    assert out["dof"] == k_ref - 1
    # e6 per-group quantization: tolerance well above it, far below H.
    assert abs(out["h_stat"] - h_ref) < 1e-4
    assert abs(out["z_stat"] - (math.sqrt(2 * out["h_stat"]) - math.sqrt(
        2.0 * out["dof"] - 1
    ))) < 2e-6


def test_kruskal_wallis_detects_shifted_group(spark, tmp_path):
    # Two sources at the same length distribution, one shifted +1000:
    # H must be large (p ~ 0) and dof = 2.
    rows = []
    did = 0
    for s, shift in (("a", 0), ("b", 0), ("c", 1000)):
        for i in range(40):
            rows.append((did, "t", "en", s, 100 + (i % 7) + shift))
            did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = plans.QUERIES["kruskal_wallis_length_by_source"](spark, sf).collect()[0]
    h_ref, k_ref, _ = _kw_python(
        [(r[3], r[4]) for r in rows]
    )
    assert out["n_groups"] == 3 and out["dof"] == 2
    assert abs(out["h_stat"] - h_ref) < 1e-4
    assert out["p_value"] < 1e-6


# --- Mann-Kendall ---------------------------------------------------------------


def _mk_python(counts: list[int]) -> tuple[int, int, float | None]:
    n = len(counts)
    s = sum(
        (1 if counts[j] > counts[i] else -1 if counts[j] < counts[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(counts)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    if var18 <= 0:
        return s, var18, None
    if s > 0:
        z = round((s - 1) / math.sqrt(var18 / 18.0), 6)
    elif s < 0:
        z = round((s + 1) / math.sqrt(var18 / 18.0), 6)
    else:
        z = 0.0
    return s, var18, z


def test_mann_kendall_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = (
        load_table(spark, sf_small, "events")
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .count()
        .orderBy("day")
        .collect()
    )
    counts = [r["count"] for r in rows]
    s_ref, var18_ref, z_ref = _mk_python(counts)
    out = plans.QUERIES["mann_kendall_daily_trend"](spark, sf_small).collect()[0]
    assert out["n_days"] == len(counts)
    assert out["s_stat"] == s_ref
    assert out["var18"] == var18_ref
    assert abs(out["z_stat"] - z_ref) < 1e-9


def test_mann_kendall_monotone_series(spark, tmp_path):
    # Strictly increasing daily volume: S = n(n-1)/2, tiny p.
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    n_days = 12
    for d in range(n_days):
        for i in range(d + 1):  # d+1 events on day d -> strictly increasing
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", 1.0, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["mann_kendall_daily_trend"](spark, sf).collect()[0]
    assert out["s_stat"] == n_days * (n_days - 1) // 2
    assert out["z_stat"] > 4
    assert out["p_two_sided"] < 1e-4


def test_mann_kendall_constant_series_is_null(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d in range(8):
        for i in range(3):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", 1.0, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["mann_kendall_daily_trend"](spark, sf).collect()[0]
    # All days tied: the tie term exhausts the variance -> NULL z/p.
    assert out["s_stat"] == 0 and out["var18"] == 0
    assert out["z_stat"] is None and out["p_two_sided"] is None


# --- stratified CUPED -----------------------------------------------------------


def _cuped_python(per_user):
    """Mirror of the shared-dialect expressions over exact integers:
    per_user = list of (arm, x, y, npre)."""
    strata = {}
    for arm, x, y, npre in per_user:
        st = "low" if npre <= 28 else ("mid" if npre <= 37 else "high")
        strata.setdefault(st, []).append((arm, x, y))
    out = {}
    for st, rows in strata.items():
        n = len(rows)
        sx = sum(x for _, x, _ in rows)
        sy = sum(y for _, _, y in rows)
        sxx = sum(x * x for _, x, _ in rows)
        sxy = sum(x * y for _, x, y in rows)
        if n < 2 or (1e0 * n * sxx - 1e0 * sx * sx) <= 0:
            theta = 0.0
        else:
            theta = (1e0 * n * sxy - 1e0 * sx * sy) / (1e0 * n * sxx - 1e0 * sx * sx)
        xbar = 0.0 if n < 1 else (1e0 * sx) / n
        n0 = sum(1 for a, _, _ in rows if a == 0)
        n1 = n - n0
        sy0 = sum(y for a, _, y in rows if a == 0)
        sy1 = sum(y for a, _, y in rows if a == 1)
        yqs = [(a, _round_away(y - theta * (x - xbar))) for a, x, y in rows]
        syq0 = sum(y for a, y in yqs if a == 0)
        syq1 = sum(y for a, y in yqs if a == 1)
        diff_raw = (
            None
            if n0 < 1 or n1 < 1
            else round((1e0 * sy1) / n1 - (1e0 * sy0) / n0, 6)
        )
        diff_adj = (
            None
            if n0 < 1 or n1 < 1
            else round((1e0 * syq1) / n1 - (1e0 * syq0) / n0, 6)
        )
        out[st] = {
            "n_a": n0,
            "n_b": n1,
            "theta_micro": _round_away(theta * 1000000),
            "diff_raw_cents": diff_raw,
            "diff_adj_cents": diff_adj,
        }
    return out


def test_cuped_stratified_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "value"
    ).collect()
    ev = [
        (r["user_id"], int(r["ts"].timestamp() * 1_000_000),
         _round_away(r["value"] * 100))
        for r in rows
    ]
    mid = (min(u for _, u, _ in ev) + max(u for _, u, _ in ev)) // 2
    per = {}
    for uid, us, cents in ev:
        x, y, npre = per.get(uid, (0, 0, 0))
        if us < mid:
            per[uid] = (x + cents, y, npre + 1)
        else:
            per[uid] = (x, y + cents, npre)
    pu = [(_h48(str(u)) % 2, x, y, npre) for u, (x, y, npre) in per.items()]
    ref = _cuped_python(pu)
    out = {
        r["stratum"]: r
        for r in plans.QUERIES["cuped_stratified_ab"](spark, sf_small).collect()
    }
    assert set(out) == set(ref)
    for st, e in ref.items():
        r = out[st]
        assert (r["n_a"], r["n_b"]) == (e["n_a"], e["n_b"])
        assert r["theta_micro"] == e["theta_micro"]
        assert abs(r["diff_raw_cents"] - e["diff_raw_cents"]) < 1e-9
        assert abs(r["diff_adj_cents"] - e["diff_adj_cents"]) < 1e-9


def test_cuped_stratified_reduces_variance_on_correlated_users(spark, tmp_path):
    """Users with stable spend levels (y ~ x): every stratum's CUPED
    adjustment must remove most outcome variance."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for uid in range(40):
        level = 10.0 + 5.0 * (uid % 8)  # stable per-user spend level
        n_ev = 40 + (uid % 3) * 24  # npre 20/32/44 -> low/mid/high bands
        step = 1440 // n_ev  # integer minutes, all events inside one day
        for i in range(n_ev):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(minutes=i * step)).isoformat(),
                 uid, "purchase", level, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    rows = plans.QUERIES["cuped_stratified_ab"](spark, sf).collect()
    assert {r["stratum"] for r in rows} == {"low", "mid", "high"}
    for r in rows:
        if r["var_reduction"] is not None:
            assert r["var_reduction"] > 0.8


# --- e-value monitor ------------------------------------------------------------


def _ev_python(days):
    """Quantized e-process mirror over (day, n, k) tuples."""
    days = sorted(days)
    nd = len(days)
    half = nd // 2
    n1 = sum(n for _, n, _ in days[:half])
    s1 = sum(k for _, _, k in days[:half])
    assert s1 > 0 and 5 * s1 < 4 * n1
    cum, cmax, alarm, cur = [], None, None, 0
    for day, n, k in days[half:]:
        term = _round_away(
            1000000
            * (k * math.log(1.25) + (n - k) * math.log(
                (1e0 * n1 - 1.25 * s1) / (1e0 * n1 - s1)
            ))
        )
        cur += term
        cum.append((day, cur))
        if alarm is None and cur > 2_995_732:
            alarm = day
    cmax = max(c for _, c in cum)
    return {
        "n_ref_days": half,
        "n_mon_days": nd - half,
        "ref_events": n1,
        "ref_purchases": s1,
        "log_e_final": round(cum[-1][1] / 1e6, 6),
        "log_e_max": round(cmax / 1e6, 6),
        "alarm_day": alarm,
        "rejected": cmax > 2_995_732,
    }


def _rate_events(day_specs):
    """day_specs: list of (n_events, n_purchases) per consecutive day."""
    base = pd.Timestamp("2024-01-01")
    epoch = pd.Timestamp("1970-01-01")
    ev, eid, days = [], 0, []
    for d, (n, k) in enumerate(day_specs):
        day_int = (base + pd.Timedelta(days=d) - epoch).days
        days.append((day_int, n, k))
        for i in range(n):
            eid += 1
            et = "purchase" if i < k else "view"
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, et, 1.0, "{}")
            )
    return ev, days


def test_e_value_alarms_on_lifted_rate(spark, tmp_path):
    # ref: 20 days at 2/10; monitor: 20 days at 5/10 (x2.5 lift) ->
    # ~0.793 log-e per day, alarm on the 4th monitored day.
    ev, days = _rate_events([(10, 2)] * 20 + [(10, 5)] * 20)
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    ref = _ev_python(days)
    out = plans.QUERIES["e_value_rate_monitor"](spark, sf).collect()[0]
    for kk in ref:
        got = out[kk]
        if isinstance(ref[kk], float):
            assert abs(got - ref[kk]) < 1e-9, (kk, got, ref[kk])
        else:
            assert got == ref[kk], (kk, got, ref[kk])
    assert out["rejected"] is True
    assert out["alarm_day"] == days[20 + 3][0]


def test_e_value_quiet_on_stationary_rate(spark, tmp_path):
    ev, days = _rate_events([(10, 2)] * 30)
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    ref = _ev_python(days)
    out = plans.QUERIES["e_value_rate_monitor"](spark, sf).collect()[0]
    assert out["rejected"] is False and out["alarm_day"] is None
    assert abs(out["log_e_final"] - ref["log_e_final"]) < 1e-9
    # The martingale loses money betting on an absent lift.
    assert out["log_e_final"] < 0


def test_stream_e_value_twin_equals_batch_half(spark, tmp_path):
    """The streaming twin's merged partials must reproduce the batch
    e-process exactly on the replayed (odd event_id) half."""
    ev, _ = _rate_events([(10, 2)] * 20 + [(10, 5)] * 20)
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    # Independent reference: recompute (day, n, k) from the odd half.
    epoch = pd.Timestamp("1970-01-01")
    per_day = {}
    for eid, ts, _, et, _, _ in ev:
        if eid % 2 != 1:
            continue
        day = (pd.Timestamp(ts) - epoch).days
        n, k = per_day.get(day, (0, 0))
        per_day[day] = (n + 1, k + (1 if et == "purchase" else 0))
    days = [(d, n, k) for d, (n, k) in per_day.items()]
    ref = _ev_python(days)
    out = plans.QUERIES["stream_e_value_monitor"](spark, sf).collect()[0]
    for kk in ref:
        got = out[kk]
        if isinstance(ref[kk], float):
            assert abs(got - ref[kk]) < 1e-9, (kk, got, ref[kk])
        else:
            assert got == ref[kk], (kk, got, ref[kk])


# --- winnowing contamination ------------------------------------------------------


def _winnow_python(text: str) -> dict[int, int]:
    """fp -> earliest 1-based window position, mirroring the staged
    K=5/W=4 winnowing pipeline."""
    t = text.lower().strip().split(" ")
    K, W = 5, 4
    if len(t) < K:
        return {}
    hh = [_h48(" ".join(t[i : i + K])) for i in range(len(t) - K + 1)]
    if len(hh) < W:
        return {}
    first: dict[int, int] = {}
    for pos in range(1, len(hh) - W + 2):
        fp = min(hh[pos - 1 : pos - 1 + W])
        if fp not in first:
            first[fp] = pos
    return first


def _winnow_ref_rows(docs: list[tuple[int, str]]):
    fps = {d: _winnow_python(txt) for d, txt in docs}
    bench = set()
    for d, f in fps.items():
        if d % 97 == 0:
            bench |= set(f)
    rows = {}
    for d, f in fps.items():
        if d % 97 == 0 or not f:
            continue
        hits = {fp: pos for fp, pos in f.items() if fp in bench}
        if hits:
            rows[d] = {
                "n_fp": len(f),
                "n_hit": len(hits),
                "first_hit_pos": min(hits.values()),
                "coverage": round(len(hits) / len(f), 6),
            }
    return rows


def test_winnow_guarantee_catches_8_token_overlap(spark, tmp_path):
    """The winnowing guarantee: a shared run of >= W+K-1 = 8 tokens MUST
    share a fingerprint; a fully disjoint-vocabulary doc must not hit."""
    phrase = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    bench_doc = (0, f"start {phrase} end of the benchmark document text")
    hit_doc = (1, f"unrelated words before {phrase} and some trailing tokens")
    clean_doc = (2, "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa")
    docs = [bench_doc, hit_doc, clean_doc]
    rows = [(d, txt, "en", "src", len(txt)) for d, txt in docs]
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        r["doc_id"]: r
        for r in plans.QUERIES["contamination_winnow_spans"](spark, sf).collect()
    }
    ref = _winnow_ref_rows(docs)
    assert 1 in out and 1 in ref  # the guarantee
    assert 2 not in out and 0 not in out
    for d, e in ref.items():
        r = out[d]
        assert r["n_fp"] == e["n_fp"] and r["n_hit"] == e["n_hit"]
        assert r["first_hit_pos"] == e["first_hit_pos"]
        assert abs(r["coverage"] - e["coverage"]) < 1e-9


def test_winnow_matches_python_on_corpus(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    ref = _winnow_ref_rows(docs)
    out = {
        r["doc_id"]: r
        for r in plans.QUERIES["contamination_winnow_spans"](
            spark, sf_small
        ).collect()
    }
    assert set(out) == set(ref)
    for d, e in ref.items():
        r = out[d]
        assert r["n_fp"] == e["n_fp"] and r["n_hit"] == e["n_hit"]
        assert r["first_hit_pos"] == e["first_hit_pos"]
        assert abs(r["coverage"] - e["coverage"]) < 1e-9


# --- Dunn post-hoc -----------------------------------------------------------------


def _dunn_python(pairs_data):
    """(source -> list of values) -> {(a, b): z} via textbook midranks,
    tie-corrected pooled variance — independent of the doubled-integer
    path."""
    vals = sorted(v for vs in pairs_data.values() for v in vs)
    n = len(vals)
    rank = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2.0
        i = j
    ties = Counter(vals)
    tcorr = sum(t**3 - t for t in ties.values())
    base = n * (n + 1) / 12.0 - tcorr / (12.0 * (n - 1))
    out = {}
    srcs = sorted(pairs_data)
    for ai in range(len(srcs)):
        for bi in range(ai + 1, len(srcs)):
            a, b = srcs[ai], srcs[bi]
            ra = sum(rank[v] for v in pairs_data[a]) / len(pairs_data[a])
            rb = sum(rank[v] for v in pairs_data[b]) / len(pairs_data[b])
            sig = math.sqrt(base * (1.0 / len(pairs_data[a]) + 1.0 / len(pairs_data[b])))
            out[(a, b)] = (ra - rb) / sig
    return out


def test_dunn_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = (
        load_table(spark, sf_small, "documents").select("source", "n_chars").collect()
    )
    data = {}
    for r in rows:
        data.setdefault(r["source"], []).append(r["n_chars"])
    ref = _dunn_python(data)
    out = plans.QUERIES["dunn_posthoc_length_pairs"](spark, sf_small).collect()
    assert len(out) == len(ref)
    for r in out:
        z_ref = ref[(r["source_a"], r["source_b"])]
        assert abs(r["z_stat"] - z_ref) < 1e-6
        assert (r["n_a"], r["n_b"]) == (
            len(data[r["source_a"]]),
            len(data[r["source_b"]]),
        )
    # BH step-up sanity: rejections form a prefix of the p-rank order.
    ranks = sorted(out, key=lambda r: r["p_rank"])
    rej = [r["rejected"] for r in ranks]
    assert rej == sorted(rej, reverse=True)


def test_dunn_separates_shifted_group(spark, tmp_path):
    # Sources a, b identical; c shifted far: (a,c) and (b,c) must reject,
    # (a,b) must not.
    rows = []
    did = 0
    for s, shift in (("a", 0), ("b", 0), ("c", 1000)):
        for i in range(60):
            rows.append((did, "t", "en", s, 100 + (i % 9) + shift))
            did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    out = {
        (r["source_a"], r["source_b"]): r
        for r in plans.QUERIES["dunn_posthoc_length_pairs"](spark, sf).collect()
    }
    assert out[("a", "c")]["rejected"] is True
    assert out[("b", "c")]["rejected"] is True
    assert out[("a", "b")]["rejected"] is False
    assert abs(out[("a", "b")]["z_stat"]) < 0.5


# --- Cramer-von Mises drift ---------------------------------------------------------


def _cvm_python(sample1, sample2):
    """Textbook tie-collapsed two-sample CvM T plus Anderson-Darling's
    finite-N null moments — plain floats, independent of the e6 path."""
    n1, n2 = len(sample1), len(sample2)
    nn = n1 + n2
    vals = sorted(set(sample1) | set(sample2))
    from collections import Counter as C

    c1, call = C(sample1), C(sample1) + C(sample2)
    t = 0.0
    cum1 = cumall = 0
    for v in vals:
        cum1 += c1.get(v, 0)
        cumall += call[v]
        f1 = cum1 / n1
        f2 = (cumall - cum1) / n2
        t += call[v] * (f1 - f2) ** 2
    t *= n1 * n2 / nn**2
    mean = (1 + 1 / nn) / 6
    var = (
        (1 / 45)
        * ((nn + 1) / nn**2)
        * (4 * n1 * n2 * nn - 3 * (n1**2 + n2**2) - 2 * n1 * n2)
        / (4 * n1 * n2)
    )
    return t, mean, var


def test_cvm_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = load_table(spark, sf_small, "events").select("value", "ts").collect()
    us = [(int(r["ts"].timestamp() * 1_000_000), r["value"]) for r in rows]
    mid = (min(u for u, _ in us) + max(u for u, _ in us)) // 2
    s1 = [v for u, v in us if u < mid]
    s2 = [v for u, v in us if u >= mid]
    t_ref, mean_ref, var_ref = _cvm_python(s1, s2)
    out = plans.QUERIES["cvm_drift_two_sample"](spark, sf_small).collect()[0]
    assert (out["n_early"], out["n_late"]) == (len(s1), len(s2))
    assert abs(out["t_stat"] - t_ref) < 1e-4  # e6 per-value quantization
    assert abs(out["t_null_mean"] - mean_ref) < 1e-6
    z_ref = (out["t_stat"] - mean_ref) / math.sqrt(var_ref)
    assert abs(out["z_score"] - z_ref) < 1e-4


def test_cvm_detects_shifted_half(spark, tmp_path):
    # First half values ~ U{0..9}, second half shifted +5: strong drift.
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d in range(20):
        shift = 0 if d < 10 else 5
        for i in range(30):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", float((i % 10) + shift), "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["cvm_drift_two_sample"](spark, sf).collect()[0]
    s1 = [float(i % 10) for _ in range(10) for i in range(30)]
    s2 = [float((i % 10) + 5) for _ in range(10) for i in range(30)]
    t_ref, _, _ = _cvm_python(s1, s2)
    assert abs(out["t_stat"] - t_ref) < 1e-4
    assert out["drift_at_3sd"] is True and out["z_score"] > 3


def test_cvm_quiet_on_identical_halves(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d in range(20):
        for i in range(30):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", float(i % 10), "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["cvm_drift_two_sample"](spark, sf).collect()[0]
    # Identical halves: T = 0 exactly, far below the null mean.
    assert out["t_stat"] == 0.0
    assert out["drift_at_3sd"] is False and out["z_score"] < 0


# --- Matryoshka truncation audit ----------------------------------------------------


def _mrl_python(vecs):
    """vecs: {vec_id: list[float]} -> {dim: (n_hit, recall, mean_delta)}
    via plain-float cosines, mirroring the 6dp-round-before-rank rule."""

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    queries = sorted(v for v in vecs if v % 100 == 0)
    out = {}
    for d in (8, 16, 32):
        n_hit = n_fun = n_exp = n_pairs = 0
        delta_e6 = 0
        for qid in queries:
            scored = []
            for cid, cv in vecs.items():
                if cid == qid:
                    continue
                cf = cos(cv, vecs[qid])
                cd = cos(cv[:d], vecs[qid][:d])
                scored.append((cid, cf, cd))
                delta_e6 += _round_away(1_000_000 * abs(cd - cf))
                n_pairs += 1
            topf = {c for c, _, _ in sorted(scored, key=lambda t: (-t[1], t[0]))[:5]}
            byd = sorted(scored, key=lambda t: (-t[2], t[0]))
            topd = {c for c, _, _ in byd[:5]}
            short50 = {c for c, _, _ in byd[:50]}
            n_exp += len(topf)
            n_hit += len(topf & topd)
            n_fun += len(topf & short50)
        out[d] = (n_hit, round(1e0 * n_hit / n_exp, 6),
                  n_fun, round(1e0 * n_fun / n_exp, 6),
                  round(delta_e6 / (1e6 * n_pairs), 6))
    return out


def test_matryoshka_matches_python(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    rows = load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    ref = _mrl_python(vecs)
    out = {
        r["trunc_dim"]: r
        for r in plans.QUERIES["matryoshka_truncation_audit"](
            spark, sf_small
        ).collect()
    }
    assert set(out) == {8, 16, 32}
    for d, (n_hit, recall, n_fun, recall_fun, delta) in ref.items():
        r = out[d]
        assert r["n_hit"] == n_hit, (d, r["n_hit"], n_hit)
        assert abs(r["recall"] - recall) < 1e-9
        assert r["n_hit_funnel50"] == n_fun, (d, r["n_hit_funnel50"], n_fun)
        assert abs(r["recall_funnel50"] - recall_fun) < 1e-9
        # The shortlist-then-rerank funnel can only help.
        assert r["recall_funnel50"] >= r["recall"]
        # float32->float64 cosine noise at the 6dp rounding boundary can
        # flip individual e6 deltas by 1; allow 1e-5 on the mean.
        assert abs(r["mean_abs_cos_delta"] - delta) < 1e-5
    # The fidelity curve must be monotone: more dims, less cosine error.
    assert (
        out[8]["mean_abs_cos_delta"]
        > out[16]["mean_abs_cos_delta"]
        > out[32]["mean_abs_cos_delta"]
    )


# --- streaming distribution-drift monitor ---------------------------------------


def _sdd_python(day_values):
    """day_values: list of (day, value) observations -> (n1, n2, ks, t)
    via the day-rank split and textbook two-sample statistics."""
    days = sorted({d for d, _ in day_values})
    half = {d for d in days[: len(days) // 2]}
    s1 = sorted(v for d, v in day_values if d in half)
    s2 = sorted(v for d, v in day_values if d not in half)
    n1, n2 = len(s1), len(s2)
    vals = sorted(set(s1) | set(s2))
    from collections import Counter as C

    c1, c2 = C(s1), C(s2)
    ks = 0.0
    cum1 = cum2 = 0
    t = 0.0
    for v in vals:
        cum1 += c1.get(v, 0)
        cum2 += c2.get(v, 0)
        gap = abs(cum1 / n1 - cum2 / n2)
        ks = max(ks, gap)
        t += (c1.get(v, 0) + c2.get(v, 0)) * gap**2
    t *= n1 * n2 / (n1 + n2) ** 2
    return n1, n2, round(ks, 6), t


def test_stream_dist_drift_detects_shifted_days(spark, tmp_path):
    """Second half of days shifted +5 in value: both lenses must trip,
    and the twin must match the Python reference computed from the
    replayed (odd event_id) half."""
    base = pd.Timestamp("2024-01-01")
    epoch = pd.Timestamp("1970-01-01")
    ev, eid = [], 0
    for d in range(20):
        shift = 0 if d < 10 else 5
        for i in range(40):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", float((i % 10) + shift), "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    held = [
        ((pd.Timestamp(ts) - epoch).days, val)
        for eid_, ts, _, _, val, _ in ev
        if eid_ % 2 == 1
    ]
    n1, n2, ks_ref, t_ref = _sdd_python(held)
    out = plans.QUERIES["stream_dist_drift_monitor"](spark, sf).collect()[0]
    assert (out["n_early"], out["n_late"]) == (n1, n2)
    assert abs(out["ks_stat"] - ks_ref) < 1e-9
    assert abs(out["t_stat"] - t_ref) < 1e-4
    assert out["ks_drift_at_95"] is True
    assert out["drift_at_3sd"] is True and out["z_score"] > 3


def test_stream_dist_drift_quiet_on_stationary_days(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d in range(20):
        for i in range(40):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", float(i % 10), "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(ev))
    out = plans.QUERIES["stream_dist_drift_monitor"](spark, sf).collect()[0]
    # Identical day distributions: KS = 0 exactly, CvM T = 0 exactly.
    assert out["ks_stat"] == 0.0 and out["t_stat"] == 0.0
    assert out["ks_drift_at_95"] is False and out["drift_at_3sd"] is False


# --- hypothesis property tests (mann-kendall / e-value) ---------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=1, max_value=6), min_size=4, max_size=14)
)
def test_mann_kendall_property_random_series(spark, tmp_path_factory, counts):
    """Exact S / tie-corrected var18 / z on arbitrary small daily-count
    series must match the O(n^2) Python reference exactly (heavy ties by
    construction: counts drawn from {1..6})."""
    base = pd.Timestamp("2024-01-01")
    ev, eid = [], 0
    for d, c in enumerate(counts):
        for i in range(c):
            eid += 1
            ev.append(
                (eid, (base + pd.Timedelta(days=d, minutes=i)).isoformat(),
                 1, "view", 1.0, "{}")
            )
    sf = _write_tables(tmp_path_factory.mktemp("mk"), events=_events_pdf(ev))
    s_ref, var18_ref, z_ref = _mk_python(counts)
    out = plans.QUERIES["mann_kendall_daily_trend"](spark, sf).collect()[0]
    assert out["n_days"] == len(counts)
    assert out["s_stat"] == s_ref
    assert out["var18"] == var18_ref
    if z_ref is None:
        assert out["z_stat"] is None
    else:
        assert abs(out["z_stat"] - z_ref) < 1e-9


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=4, max_value=12),  # events per day
            st.integers(min_value=1, max_value=3),  # purchases per day
        ),
        min_size=6,
        max_size=16,
    )
)
def test_e_value_property_random_days(spark, tmp_path_factory, specs):
    """The quantized e-process path on arbitrary (n, k) day series must
    match the half-away-from-zero Python recursion exactly — increments
    here are routinely negative, the rounding direction this batch's
    reference helper exists for."""
    ev, days = _rate_events([(n, min(k, n)) for n, k in specs])
    # Guard: the alternative must be well-defined on the first half.
    half = len(days) // 2
    s1 = sum(k for _, _, k in sorted(days)[:half])
    n1 = sum(n for _, n, _ in sorted(days)[:half])
    if s1 <= 0 or 5 * s1 >= 4 * n1:
        return
    sf = _write_tables(tmp_path_factory.mktemp("ev"), events=_events_pdf(ev))
    ref = _ev_python(days)
    out = plans.QUERIES["e_value_rate_monitor"](spark, sf).collect()[0]
    for kk in ref:
        got = out[kk]
        if isinstance(ref[kk], float):
            assert abs(got - ref[kk]) < 1e-9, (kk, got, ref[kk])
        else:
            assert got == ref[kk], (kk, got, ref[kk])
