"""Round-12 queries (plans/staging_r12.py): plan shape and
independent Python brute-force references (the staging_r8/r10/r11
discipline — cross-engine parity proves the engines AGREE, these pin the
statistics against INTENT)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd

from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.plans import staging_r12 as S


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _round_away(x: float) -> int:
    """Spark/DuckDB round(): half AWAY from zero (Python round() is
    banker's; negative statistics need the ceil branch — the r10
    e-process lesson)."""
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _rnd6(x: float) -> float:
    return _round_away(x * 1e6) / 1e6


def _erfc_poly(z_abs_over_sqrt2: float) -> float:
    """The shared Abramowitz-Stegun 7.1.26 polynomial exactly as both
    engines evaluate it (mirrors tests/test_plans._chisq_fullgrid_ref)."""
    x = z_abs_over_sqrt2
    t = 1 / (1 + 0.3275911 * x)
    return (
        (((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t
        + 0.254829592
    ) * t * math.exp(-x * x)


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


def _load_events(sf_dir: str) -> pd.DataFrame:
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def _sessions_py(pdf: pd.DataFrame):
    """Independent replication of the reference session semantics
    (30-min gap strict / 1499-event / 12-h strict —
    SessionizeGroupMapFunction.scala:90-130 as encoded in
    sessionize_queries._SESSIONIZE_CTE): returns
    (user_id, start_sec, last_sec) per session."""
    out = []
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    secs_all = pdf["ts"].astype("int64") // 10**6
    for uid, idx in pdf.groupby("user_id").groups.items():
        start = prev = None
        cnt = 0
        for s in secs_all.loc[idx].tolist():
            if start is None:
                start, prev, cnt = s, s, 1
            elif (s - prev > 1800) or (cnt + 1 >= 1500) or (s - start > 43200):
                out.append((uid, start, prev))
                start, prev, cnt = s, s, 1
            else:
                prev, cnt = s, cnt + 1
        if start is not None:
            out.append((uid, start, prev))
    return out


# --- plan shape --------------------------------------------------------------


def test_stream_twin_readout_plan_lint(spark):
    # The ADVICE r10 #4 rule applied from birth: the streaming twin's
    # shared readout lints directly over a static (user_id, x, y) frame.
    df = S._dmr_readout(
        spark.createDataFrame(
            [(u, 2 + u % 5, 20 + u % 7) for u in range(40)],
            "user_id long, x long, y long",
        )
    )
    p = _explain(df)
    bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
    assert not bad, f"_dmr_readout lint failed: {bad}"


# --- cluster-robust A/B --------------------------------------------------------


def _crab_py(pdf: pd.DataFrame) -> dict:
    per = defaultdict(lambda: [0, 0, 0])  # user -> [nc, sc, d2c]
    for uid, start, last in _sessions_py(pdf):
        d = last - start
        per[uid][0] += 1
        per[uid][1] += d
        per[uid][2] += d * d
    m = Counter()
    for uid, (nc, sc, d2c) in per.items():
        g = _h48(str(uid)) % 2
        m[f"nu{g}"] += 1
        m[f"n{g}"] += nc
        m[f"s{g}"] += sc
        m[f"qn{g}"] += nc * nc
        m[f"qs{g}"] += sc * sc
        m[f"x{g}"] += nc * sc
        m[f"d2{g}"] += d2c

    def vcl(a):
        mn = 1.0 * m[f"s{a}"] / m[f"n{a}"]
        return (
            1.0 * m[f"qs{a}"] - 2.0 * mn * m[f"x{a}"] + mn * mn * m[f"qn{a}"]
        ) / (1.0 * m[f"n{a}"] * m[f"n{a}"])

    def viid(a):
        n, s, d2 = m[f"n{a}"], m[f"s{a}"], m[f"d2{a}"]
        return ((1.0 * n * d2 - 1.0 * s * s) / (1.0 * n * (n - 1))) / (1.0 * n)

    diff = 1.0 * m["s1"] / m["n1"] - 1.0 * m["s0"] / m["n0"]
    se_cl = math.sqrt(vcl(0) + vcl(1))
    se_iid = math.sqrt(viid(0) + viid(1))
    z = _rnd6(diff / se_cl)
    return {
        "n_users0": m["nu0"],
        "n_users1": m["nu1"],
        "n_sessions0": m["n0"],
        "n_sessions1": m["n1"],
        "mean0": _rnd6(1.0 * m["s0"] / m["n0"]),
        "mean1": _rnd6(1.0 * m["s1"] / m["n1"]),
        "diff": _rnd6(diff),
        "se_naive": _rnd6(se_iid),
        "se_cluster": _rnd6(se_cl),
        "design_effect": _rnd6((vcl(0) + vcl(1)) / (viid(0) + viid(1))),
        "z_stat": z,
        "p_value": _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_cluster_robust_matches_python(spark, sf_small):
    exp = _crab_py(_load_events(sf_small))
    row = plans.QUERIES["cluster_robust_ab_readout"](spark, sf_small).collect()[0]
    for k in ("n_users0", "n_users1", "n_sessions0", "n_sessions1"):
        assert row[k] == exp[k], k
    for k in (
        "mean0", "mean1", "diff", "se_naive", "se_cluster",
        "design_effect", "z_stat", "p_value",
    ):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_cluster_robust_deff_exceeds_one_on_heavy_users(spark, tmp_path):
    """Constant within-user durations that differ ACROSS users = maximal
    intra-cluster correlation: the cluster-robust SE must exceed the
    naive SE (design effect > 1) — the exact failure the query exists to
    expose."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    for uid in range(1, 13):
        dur = 60 * uid  # seconds; <= 1800 so each pair is one session
        for j in range(6):  # 6 sessions per user, 2 h apart
            t0 = base + pd.Timedelta(hours=2 * j, seconds=uid)
            rows.append((eid, t0, uid, "view", 1.0, "{}")); eid += 1
            rows.append((eid, t0 + pd.Timedelta(seconds=dur), uid, "view", 1.0, "{}"))
            eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    exp = _crab_py(_load_events(sf))
    row = plans.QUERIES["cluster_robust_ab_readout"](spark, sf).collect()[0]
    assert row["design_effect"] is not None and row["design_effect"] > 1.0
    assert abs(row["design_effect"] - exp["design_effect"]) < 2e-6
    assert row["se_cluster"] > row["se_naive"]


# --- delta-method ratio A/B ----------------------------------------------------


def _dmr_py(pdf: pd.DataFrame) -> dict:
    per = defaultdict(lambda: [0, 0])  # user -> [x purchases, y events]
    for uid, et in zip(pdf["user_id"], pdf["event_type"]):
        per[uid][1] += 1
        if et == "purchase":
            per[uid][0] += 1
    m = Counter()
    for uid, (x, y) in per.items():
        g = _h48(str(uid)) % 2
        m[f"nu{g}"] += 1
        m[f"sx{g}"] += x
        m[f"sy{g}"] += y
        m[f"sxx{g}"] += x * x
        m[f"syy{g}"] += y * y
        m[f"sxy{g}"] += x * y

    def r(a):
        return 1.0 * m[f"sx{a}"] / m[f"sy{a}"]

    def v(a):
        nu, sx, sy = m[f"nu{a}"], m[f"sx{a}"], m[f"sy{a}"]
        sxx, syy, sxy = m[f"sxx{a}"], m[f"syy{a}"], m[f"sxy{a}"]
        ra = r(a)
        return (
            (
                (1.0 * nu * sxx - 1.0 * sx * sx)
                - 2.0 * ra * (1.0 * nu * sxy - 1.0 * sx * sy)
                + ra * ra * (1.0 * nu * syy - 1.0 * sy * sy)
            )
            / (1.0 * nu * (nu - 1))
        ) / (1.0 * nu * (1.0 * sy / nu) * (1.0 * sy / nu))

    def vb(a):
        return r(a) * (1 - r(a)) / (1.0 * m[f"sy{a}"])

    diff = r(1) - r(0)
    se = math.sqrt(v(0) + v(1))
    z = _rnd6(diff / se)
    return {
        "n_users0": m["nu0"], "n_users1": m["nu1"],
        "events0": m["sy0"], "events1": m["sy1"],
        "purchases0": m["sx0"], "purchases1": m["sx1"],
        "rate0": _rnd6(r(0)), "rate1": _rnd6(r(1)),
        "diff": _rnd6(diff),
        "se_naive": _rnd6(math.sqrt(vb(0) + vb(1))),
        "se_delta": _rnd6(se),
        "design_effect": _rnd6((v(0) + v(1)) / (vb(0) + vb(1))),
        "z_stat": z,
        "p_value": _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_delta_method_matches_python(spark, sf_small):
    exp = _dmr_py(_load_events(sf_small))
    row = plans.QUERIES["delta_method_ratio_ab"](spark, sf_small).collect()[0]
    for k in ("n_users0", "n_users1", "events0", "events1",
              "purchases0", "purchases1"):
        assert row[k] == exp[k], k
    for k in ("rate0", "rate1", "diff", "se_naive", "se_delta",
              "design_effect", "z_stat", "p_value"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


# --- stratified log-rank -------------------------------------------------------


def _slr_py(pdf: pd.DataFrame) -> dict:
    sess = _sessions_py(pdf)
    gmx = int(pdf["ts"].astype("int64").max() // 10**6)
    strata = defaultdict(list)  # st -> [(t, dead, g)]
    for uid, start, last in sess:
        t = last - start
        censored = (gmx - last) <= 1800
        g = _h48(str(uid)) % 2
        st = (start // 21600) % 4
        strata[st].append((t, 0 if censored else 1, g))
    o1 = e_e9 = v_e9 = ndt = 0
    contributing = set()  # n_strata counts strata with >= 1 death-time
    for st, obs in strata.items():  # term — matching count(DISTINCT st)
        bytime = defaultdict(lambda: [0, 0, 0, 0])  # t -> [rm, rm1, d, d1]
        for t, dead, g in obs:
            bytime[t][0] += 1
            bytime[t][1] += g
            bytime[t][2] += dead
            bytime[t][3] += dead * g
        nr = len(obs)
        n1r = sum(g for _, _, g in obs)
        for t in sorted(bytime):
            rm, rm1, d, d1 = bytime[t]
            if d > 0 and nr > 0:
                ndt += 1
                contributing.add(st)
                o1 += d1
                e_e9 += _round_away(1000000000 * (1.0 * d * n1r) / nr)
                if nr > 1:
                    v_e9 += _round_away(
                        1000000000 * (1.0 * d * n1r * (nr - n1r) * (nr - d))
                        / (1.0 * nr * nr * (nr - 1))
                    )
            nr -= rm
            n1r -= rm1
    if v_e9 <= 0:
        z = 0.0
    else:
        z = _rnd6((1.0 * o1 * 1000000000 - e_e9) / math.sqrt(1.0 * v_e9 * 1e9))
    return {
        "n_strata": len(contributing),
        "n_death_times": ndt,
        "o1": o1,
        "e1": _rnd6(e_e9 / 1e9),
        "z_stat": z,
        "p_normal": _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_stratified_logrank_matches_python(spark, sf_small):
    exp = _slr_py(_load_events(sf_small))
    row = plans.QUERIES["stratified_logrank_survival"](spark, sf_small).collect()[0]
    assert row["n_strata"] == exp["n_strata"]
    assert row["n_death_times"] == exp["n_death_times"]
    assert row["o1"] == exp["o1"]
    for k in ("e1", "z_stat", "p_normal"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_stratified_logrank_single_stratum_reduces_to_twoarm(spark, tmp_path):
    """All sessions starting inside ONE 6-hour band = one stratum: the
    stratified test must reduce exactly to the registered two-arm
    log-rank on the same corpus (same o1/e1/z)."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")  # hours 0-5 => stratum 0 only
    for uid in range(1, 21):
        for j in range(3):
            t0 = base + pd.Timedelta(minutes=50 * j, seconds=7 * uid)
            rows.append((eid, t0, uid, "view", 1.0, "{}")); eid += 1
            rows.append(
                (eid, t0 + pd.Timedelta(seconds=30 + 11 * uid + 13 * j),
                 uid, "view", 1.0, "{}")
            )
            eid += 1
    # A late sentinel event pushes batch end far past every session, so
    # censoring is uniform FALSE (still within stratum 0's day window).
    rows.append((eid, base + pd.Timedelta(hours=4), 999, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    strat = plans.QUERIES["stratified_logrank_survival"](spark, sf).collect()[0]
    assert strat["n_strata"] == 1
    two = plans.QUERIES["logrank_test_session_survival"](spark, sf).collect()[0]
    assert strat["o1"] == two["o1"]
    assert abs(strat["e1"] - two["e1"]) < 1e-9
    assert abs(strat["z_stat"] - two["z_stat"]) < 1e-9


# --- Nelson-Aalen --------------------------------------------------------------


def _na_py(pdf: pd.DataFrame) -> list[dict]:
    sess = _sessions_py(pdf)
    gmx = int(pdf["ts"].astype("int64").max() // 10**6)
    bytime = defaultdict(lambda: [0, 0])  # t -> [d, removed]
    for uid, start, last in sess:
        t = last - start
        censored = (gmx - last) <= 1800
        bytime[t][0] += 0 if censored else 1
        bytime[t][1] += 1
    nr = len(sess)
    cum_e9 = cum_v = 0
    out = []
    for t in sorted(bytime):
        d, rm = bytime[t]
        if d > 0:
            cum_e9 += _round_away(1000000000 * (1.0 * d) / nr)
            cum_v += _round_away(1000000000000 * (1.0 * d) / (1.0 * nr * nr))
            out.append(
                {
                    "t_sec": t,
                    "n_risk": nr,
                    "n_events": d,
                    "cum_hazard": _rnd6(cum_e9 / 1e9),
                    "se_hazard": _rnd6(math.sqrt(cum_v / 1e12)),
                    "breslow_survival": _rnd6(math.exp(-(cum_e9 / 1e9))),
                }
            )
        nr -= rm
    return out


def test_nelson_aalen_matches_python(spark, sf_small):
    exp = _na_py(_load_events(sf_small))
    rows = sorted(
        plans.QUERIES["nelson_aalen_cumhaz"](spark, sf_small).collect(),
        key=lambda r: r["t_sec"],
    )
    assert len(rows) == len(exp)
    for row, e in zip(rows, exp):
        assert row["t_sec"] == e["t_sec"]
        assert row["n_risk"] == e["n_risk"]
        assert row["n_events"] == e["n_events"]
        for k in ("cum_hazard", "se_hazard", "breslow_survival"):
            assert abs(row[k] - e[k]) < 2e-6, (k, row["t_sec"])


def test_nelson_aalen_breslow_dominates_km(spark, sf_small):
    """1 - x <= exp(-x): the Breslow survival exp(-H) must dominate the
    KM product-limit curve at every shared death time — the classic
    cross-estimator sanity relation."""
    na = {
        r["t_sec"]: r["breslow_survival"]
        for r in plans.QUERIES["nelson_aalen_cumhaz"](spark, sf_small).collect()
    }
    km = {
        r["t_sec"]: r["survival"]
        for r in plans.QUERIES["kaplan_meier_session_survival"](
            spark, sf_small
        ).collect()
    }
    assert set(na) == set(km)
    assert all(na[t] >= km[t] - 1e-9 for t in na)


# --- Jonckheere-Terpstra -------------------------------------------------------


def _jt_py(pdf: pd.DataFrame) -> dict:
    groups = defaultdict(list)
    secs = pdf["ts"].astype("int64") // 10**6
    for s, val in zip(secs, pdf["value"]):
        b = ((int(s) // 3600) % 24) // 6
        groups[b].append(_round_away(val * 100))
    bs = sorted(groups)
    j2 = 0
    for ii in range(len(bs)):
        xi = sorted(groups[bs[ii]])
        for jj in range(ii + 1, len(bs)):
            for y in groups[bs[jj]]:
                import bisect

                lt = bisect.bisect_left(xi, y)
                eq = bisect.bisect_right(xi, y) - lt
                j2 += 2 * lt + eq
    n_i = [len(groups[b]) for b in bs]
    nn = sum(n_i)
    ties = Counter()
    for b in bs:
        for v in groups[b]:
            ties[v] += 1
    sum_n2 = sum(n * n for n in n_i)
    b1 = sum(n * (n - 1) * (2 * n + 5) for n in n_i)
    b2 = sum(n * (n - 1) * (n - 2) for n in n_i)
    b3 = sum(n * (n - 1) for n in n_i)
    t1 = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    t2 = sum(t * (t - 1) * (t - 2) for t in ties.values())
    t3 = sum(t * (t - 1) for t in ties.values())
    var = (
        (1.0 * nn * (nn - 1) * (2 * nn + 5) - 1.0 * b1 - 1.0 * t1) / 72.0
        + (1.0 * b2 * t2) / (36.0 * nn * (nn - 1) * (nn - 2))
        + (1.0 * b3 * t3) / (8.0 * nn * (nn - 1))
    )
    z = _rnd6((2.0 * j2 - (1.0 * nn * nn - 1.0 * sum_n2)) / (4.0 * math.sqrt(var)))
    poly = _erfc_poly(abs(z) / math.sqrt(2.0))
    return {
        "n_events": nn,
        "n_bands": len(bs),
        "jt_u2": j2,
        "z_stat": z,
        "p_value": _rnd6(poly / 2) if z >= 0 else _rnd6(1 - poly / 2),
    }


def test_jt_matches_python(spark, sf_small):
    exp = _jt_py(_load_events(sf_small))
    row = plans.QUERIES["jonckheere_terpstra_daily_trend"](
        spark, sf_small
    ).collect()[0]
    assert row["n_events"] == exp["n_events"]
    assert row["n_bands"] == exp["n_bands"]
    assert row["jt_u2"] == exp["jt_u2"]
    assert abs(row["z_stat"] - exp["z_stat"]) < 2e-6
    assert abs(row["p_value"] - exp["p_value"]) < 2e-6


def test_jt_perfect_increasing_trend(spark, tmp_path):
    """Values strictly increasing with band order: 2J must hit its
    maximum 2 * sum_{i<j} n_i n_j and the one-sided p must be small."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    for b in range(4):
        for k in range(8):
            t = base + pd.Timedelta(hours=6 * b + 1, minutes=k)
            rows.append((eid, t, 1 + eid, "view", float(b + 1), "{}"))
            eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["jonckheere_terpstra_daily_trend"](spark, sf).collect()[0]
    n = [8, 8, 8, 8]
    jmax2 = 2 * sum(n[i] * n[j] for i in range(4) for j in range(i + 1, 4))
    assert row["jt_u2"] == jmax2
    assert row["z_stat"] > 0
    assert row["p_value"] < 0.01
    assert row == plans.QUERIES["jonckheere_terpstra_daily_trend"](
        spark, sf
    ).collect()[0]  # deterministic


# --- energy distance -----------------------------------------------------------


def _ed_py(pdf: pd.DataFrame) -> dict:
    us = pdf["ts"].astype("int64")
    mid = (int(us.min()) + int(us.max())) // 2
    early = [
        _round_away(v * 100) for u, v in zip(us, pdf["value"]) if int(u) < mid
    ]
    late = [
        _round_away(v * 100) for u, v in zip(us, pdf["value"]) if int(u) >= mid
    ]

    def pairs_within(vals):
        vals = sorted(vals)
        s = tot = cnt = 0
        for i, v in enumerate(vals):
            s += v * i - tot
            tot += v
            cnt += 1
        return s

    def pairs_cross(a, b):
        import bisect

        a_sorted = sorted(a)
        pre = [0]
        for v in a_sorted:
            pre.append(pre[-1] + v)
        total = pre[-1]
        s = 0
        for y in b:
            k = bisect.bisect_left(a_sorted, y)
            s += y * k - pre[k] + (total - pre[k]) - y * (len(a_sorted) - k)
        return s

    sxx, syy, sxy = pairs_within(early), pairs_within(late), pairs_cross(early, late)
    n1, n2 = len(early), len(late)
    eps = (
        2.0 * sxy / (1.0 * n1 * n2)
        - 2.0 * sxx / (1.0 * n1 * n1)
        - 2.0 * syy / (1.0 * n2 * n2)
    )
    return {
        "n_early": n1,
        "n_late": n2,
        "sxx": sxx,
        "syy": syy,
        "sxy": sxy,
        "energy_dist": _rnd6(eps / 100.0),
        "t_stat": _rnd6(((1.0 * n1 * n2 / (n1 + n2)) * eps) / 100.0),
    }


def test_energy_distance_matches_python(spark, sf_small):
    exp = _ed_py(_load_events(sf_small))
    row = plans.QUERIES["energy_distance_drift"](spark, sf_small).collect()[0]
    for k in ("n_early", "n_late", "sxx", "syy", "sxy"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    assert abs(row["energy_dist"] - exp["energy_dist"]) < 2e-6
    assert abs(row["t_stat"] - exp["t_stat"]) < 2e-6


def test_energy_distance_zero_on_identical_halves(spark, tmp_path):
    """Identical value multisets in the two halves: the energy distance
    is exactly 0 (it is a metric — zero iff equal distributions)."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    for hour in (0, 48):  # midpoint (hour 24) splits them cleanly
        for k, v in enumerate((1.0, 2.0, 3.0, 5.0, 8.0) * 4):
            rows.append(
                (eid, base + pd.Timedelta(hours=hour, minutes=k), 1 + k,
                 "view", v, "{}")
            )
            eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["energy_distance_drift"](spark, sf).collect()[0]
    assert row["n_early"] == row["n_late"] == 20
    assert row["sxx"] == row["syy"]
    assert row["energy_dist"] == 0.0
    assert row["t_stat"] == 0.0


# --- streaming delta twin ------------------------------------------------------


def test_stream_delta_matches_batch_python_on_half(spark, sf_small):
    """The twin's contract: per-user partials merged across micro-batches
    must reproduce the batch delta readout on the replayed (odd
    event_id) half exactly — pinned against the Python reference on the
    filtered corpus, not against the Spark batch query."""
    pdf = _load_events(sf_small)
    exp = _dmr_py(pdf[pdf["event_id"] % 2 == 1])
    row = plans.QUERIES["stream_delta_ratio_guardrail"](
        spark, sf_small
    ).collect()[0]
    for k in ("n_users0", "n_users1", "events0", "events1",
              "purchases0", "purchases1"):
        assert row[k] == exp[k], k
    for k in ("rate0", "rate1", "diff", "se_naive", "se_delta",
              "design_effect", "z_stat", "p_value"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


# --- Mood's median test --------------------------------------------------------


def _mood_py(pdf) -> dict:
    vals = sorted(pdf["n_chars"].astype(int).tolist())
    n = len(vals)
    m = vals[(n + 1) // 2 - 1]  # low median: min v with 2*cum >= n+1
    cells = Counter()
    for src, v in zip(pdf["source"], pdf["n_chars"]):
        cells[(src, 1 if int(v) > m else 0)] += 1
    ns = Counter()
    nl = Counter()
    for (src, side), c in cells.items():
        ns[src] += c
        nl[side] += c
    chi2_e9 = 0
    for src in ns:
        for side in nl:
            nsl = cells.get((src, side), 0)
            a = 1e0 * nsl * n - 1e0 * ns[src] * nl[side]
            chi2_e9 += _round_away(
                1000000000 * a * a / (1e0 * ns[src] * nl[side] * n)
            )
    dof = (len(ns) - 1) * (len(nl) - 1)
    if dof < 1:
        z = None
    else:
        z = _rnd6(math.sqrt(2 * (chi2_e9 / 1e9)) - math.sqrt(2.0 * dof - 1))
    out = {
        "n_docs": n,
        "n_groups": len(ns),
        "grand_median": m,
        "n_above": nl.get(1, 0),
        "dof": dof,
        "chi2": None if dof < 1 else _rnd6(chi2_e9 / 1e9),
        "z_stat": z,
    }
    if z is None:
        out["p_value"] = None
    else:
        poly = _erfc_poly(abs(z) / math.sqrt(2.0))
        out["p_value"] = _rnd6(poly / 2) if z >= 0 else _rnd6(1 - poly / 2)
    return out


def test_mood_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _mood_py(pdf)
    row = plans.QUERIES["mood_median_test"](spark, sf_small).collect()[0]
    for k in ("n_docs", "n_groups", "grand_median", "n_above", "dof"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("chi2", "z_stat", "p_value"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_mood_separated_groups(spark, tmp_path):
    """Two sources with fully separated length distributions: every
    src_a doc below the pooled median, every src_b doc above — the
    2x2 table is diagonal and chi2 approaches n."""
    rows = []
    for i in range(40):
        rows.append((i, "t", "en", "src_a", 100 + (i % 5)))
    for i in range(40, 80):
        rows.append((i, "t", "en", "src_b", 900 + (i % 5)))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    sf = _write_tables(tmp_path, documents=pdf)
    row = plans.QUERIES["mood_median_test"](spark, sf).collect()[0]
    exp = _mood_py(pdf)
    assert row["grand_median"] == exp["grand_median"]
    assert row["n_above"] == 40
    assert row["chi2"] == exp["chi2"] and row["chi2"] > 70
    assert row["p_value"] < 1e-6


# --- RMST ----------------------------------------------------------------------

_TAU = 1800


def _rmst_py(pdf) -> dict:
    sess = _sessions_py(pdf)
    gmx = int(pdf["ts"].astype("int64").max() // 10**6)
    arms = defaultdict(list)
    for uid, start, last in sess:
        t = last - start
        censored = (gmx - last) <= 1800
        arms[_h48(str(uid)) % 2].append((t, 0 if censored else 1))
    out = {}
    for g in (0, 1):
        obs = arms.get(g)
        if not obs:
            out[g] = None
            continue
        bytime = defaultdict(lambda: [0, 0])
        for t, dead in obs:
            bytime[t][0] += 1
            bytime[t][1] += dead
        nr = len(obs)
        deaths = []
        cum_e6 = zcum = 0
        for t in sorted(bytime):
            rm, d = bytime[t]
            if d > 0:
                if nr <= d:
                    zcum += 1
                else:
                    cum_e6 += _round_away(
                        1000000 * math.log((1e0 * (nr - d)) / nr)
                    )
                deaths.append((t, nr, d, cum_e6, zcum))
            nr -= rm
        terms = []
        for i, (t, n_risk, d, ce6, zc) in enumerate(deaths):
            if t >= _TAU:
                continue
            nxt = deaths[i + 1][0] if i + 1 < len(deaths) else _TAU
            dt = min(nxt, _TAU) - t
            s = 0.0 if zc > 0 else math.exp(ce6 / 1e6)
            terms.append((t, n_risk, d, _round_away(1000000 * s * dt)))
        area = sum(te for _, _, _, te in terms)
        var_e6 = 0
        for i, (t, n_risk, d, te) in enumerate(terms):
            a_e6 = sum(te2 for _, _, _, te2 in terms[i:])
            if n_risk > d:
                var_e6 += _round_away(
                    1000000 * (a_e6 / 1e6) * (a_e6 / 1e6)
                    * (1e0 * d) / (1e0 * n_risk * (n_risk - d))
                )
        t_first = deaths[0][0] if deaths else _TAU
        rmst_e6 = min(t_first, _TAU) * 1000000 + area
        out[g] = (len(obs), rmst_e6, var_e6)
    res = {
        "n_sessions0": out[0][0] if out.get(0) else None,
        "n_sessions1": out[1][0] if out.get(1) else None,
    }
    if out.get(0) and out.get(1):
        r0, v0 = out[0][1], out[0][2]
        r1, v1 = out[1][1], out[1][2]
        res["rmst0"] = _rnd6(r0 / 1e6)
        res["rmst1"] = _rnd6(r1 / 1e6)
        res["rmst_diff"] = _rnd6((1e0 * r1 - 1e0 * r0) / 1e6)
        if (1e0 * v0 + 1e0 * v1) <= 0:
            res["se_diff"] = None
            res["z_stat"] = None
            res["p_value"] = None
        else:
            res["se_diff"] = _rnd6(math.sqrt((1e0 * v0 + 1e0 * v1) / 1e6))
            z = _rnd6(((1e0 * r1 - 1e0 * r0) / 1e6)
                      / math.sqrt((1e0 * v0 + 1e0 * v1) / 1e6))
            res["z_stat"] = z
            res["p_value"] = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))
    return res


def test_rmst_matches_python(spark, sf_small):
    exp = _rmst_py(_load_events(sf_small))
    row = plans.QUERIES["rmst_survival_difference"](spark, sf_small).collect()[0]
    assert row["n_sessions0"] == exp["n_sessions0"]
    assert row["n_sessions1"] == exp["n_sessions1"]
    for k in ("rmst0", "rmst1", "rmst_diff", "se_diff", "z_stat", "p_value"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_rmst_all_censored_gives_tau(spark, tmp_path):
    """No deaths anywhere (every session still open at batch end): the
    KM curve is flat 1 to tau in both arms, so RMST = tau exactly and
    the variance-guarded z is NULL."""
    rows = []
    base = pd.Timestamp("2024-01-01")
    for uid in range(1, 11):
        rows.append((uid, base + pd.Timedelta(seconds=uid), uid, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["rmst_survival_difference"](spark, sf).collect()[0]
    assert row["rmst0"] == float(_TAU)
    assert row["rmst1"] == float(_TAU)
    assert row["rmst_diff"] == 0.0
    assert row["z_stat"] is None and row["p_value"] is None


# --- Brunner-Munzel ------------------------------------------------------------


def _bm_py(xs, ys) -> dict:
    """lawstat-form Brunner-Munzel over plain lists (x = rest, y = en),
    with the query's per-cell integer quantization of the variance
    contributions replicated exactly."""
    n0, n1 = len(xs), len(ys)
    pooled = sorted(xs + ys)

    def midrank_map(vals):
        mr = {}
        i = 0
        svals = sorted(vals)
        while i < len(svals):
            j = i
            while j < len(svals) and svals[j] == svals[i]:
                j += 1
            mr[svals[i]] = (i + 1 + j) / 2.0
            i = j
        return mr

    mp = midrank_map(pooled)
    m0 = midrank_map(xs)
    m1 = midrank_map(ys)
    r0 = [mp[v] for v in xs]
    r1 = [mp[v] for v in ys]
    mean0, mean1 = sum(r0) / n0, sum(r1) / n1
    # per-cell quantized variance contributions (the _BM_TERM text)
    t20 = int(round(2 * sum(r0)))
    t21 = int(round(2 * sum(r1)))

    def s_int(vals, mw, ni, t2i):
        cells = Counter(vals)
        s = 0
        for v, c in cells.items():
            d2 = int(round(2 * mp[v])) - int(round(2 * mw[v]))
            e = 1e0 * d2 * ni - 1e0 * t2i + 1e0 * ni * (ni + 1)
            s += _round_away((1e0 * c) * e * e / (4e0 * ni * ni))
        return s

    s0 = s_int(xs, m0, n0, t20)
    s1 = s_int(ys, m1, n1, t21)
    v0 = 1e0 * s0 / (n0 - 1)
    v1 = 1e0 * s1 / (n1 - 1)
    den = math.sqrt(1e0 * n0 * v0 + 1e0 * n1 * v1)
    w = _rnd6(
        (1e0 * n0 * n1 * (1e0 * t21 / (2e0 * n1) - 1e0 * t20 / (2e0 * n0)))
        / ((n0 + n1) * den)
    )
    df = _rnd6(
        (1e0 * n0 * v0 + 1e0 * n1 * v1) * (1e0 * n0 * v0 + 1e0 * n1 * v1)
        / ((1e0 * n0 * v0) * (1e0 * n0 * v0) / (n0 - 1)
           + (1e0 * n1 * v1) * (1e0 * n1 * v1) / (n1 - 1))
    )
    return {
        "n_rest": n0,
        "n_en": n1,
        "p_hat": _rnd6((1e0 * t21 / (2e0 * n1) - (n1 + 1) / 2e0) / n0),
        "w_stat": w,
        "df_welch": df,
        "p_normal": _rnd6(_erfc_poly(abs(w) / math.sqrt(2.0))),
        "_mean_check": (mean0, mean1),
    }


def test_brunner_munzel_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/documents.parquet")
    xs = [int(v) for v, l in zip(pdf["n_chars"], pdf["lang"]) if l != "en"]
    ys = [int(v) for v, l in zip(pdf["n_chars"], pdf["lang"]) if l == "en"]
    exp = _bm_py(xs, ys)
    row = plans.QUERIES["brunner_munzel_en_vs_rest"](spark, sf_small).collect()[0]
    assert row["n_rest"] == exp["n_rest"] and row["n_en"] == exp["n_en"]
    for k in ("p_hat", "w_stat", "df_welch", "p_normal"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_brunner_munzel_stochastic_dominance(spark, tmp_path):
    """Every 'en' length above every non-'en' length: the relative
    effect P(X<Y)+P(X=Y)/2 must be exactly 1 and W large positive."""
    rows = []
    for i in range(30):
        rows.append((i, "t", "de", "src_a", 100 + i % 7))
    for i in range(30, 60):
        rows.append((i, "t", "en", "src_b", 500 + i % 9))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    sf = _write_tables(tmp_path, documents=pdf)
    row = plans.QUERIES["brunner_munzel_en_vs_rest"](spark, sf).collect()[0]
    assert row["p_hat"] == 1.0
    # Fully separated samples have ZERO within-group deviation variance
    # (pooled rank - within rank is constant inside each group), so the
    # studentized W guards to NULL — the documented BM degenerate case.
    assert row["w_stat"] is None


# --- Hosmer-Lemeshow -----------------------------------------------------------


def _hl_py(pdf) -> dict:
    # Replicates _RELIABILITY_CTES scoring: ECDF percentile (micro-units)
    # of whitespace token count, 10 equal-width bins capped at 9.
    dls = [len(t.lower().strip().split(" ")) for t in pdf["text"]]
    pos = [1 if l == "en" else 0 for l in pdf["lang"]]
    n_all = len(dls)
    cnt = Counter(dls)
    cum = {}
    acc = 0
    for v in sorted(cnt):
        acc += cnt[v]
        cum[v] = acc
    bins = defaultdict(lambda: [0, 0, 0])  # bin -> [nb, np, emu]
    for dl, p in zip(dls, pos):
        sm = _round_away(cum[dl] * 1000000.0 / n_all)
        b = min(sm // 100000, 9)
        bins[b][0] += 1
        bins[b][1] += p
        bins[b][2] += sm
    chi2_e9 = 0
    degen = False
    for b, (nb, np_, emu) in bins.items():
        if emu <= 0 or emu >= nb * 1000000:
            degen = True
            continue
        chi2_e9 += _round_away(
            1000000000
            * (1e0 * np_ * 1000000 - emu) * (1e0 * np_ * 1000000 - emu) * nb
            / ((1e0 * emu) * (1e0 * nb * 1000000 - emu))
        )
    n_bins = len(bins)
    dof = n_bins - 2
    if degen or dof < 1:
        z = None
    else:
        z = _rnd6(math.sqrt(2 * (chi2_e9 / 1e9)) - math.sqrt(2.0 * dof - 1))
    out = {
        "n_bins": n_bins,
        "n_docs": n_all,
        "dof": dof,
        "degenerate_bins": degen,
        "hl_chi2": None if degen or dof < 1 else _rnd6(chi2_e9 / 1e9),
        "z_stat": z,
    }
    if z is None:
        out["p_value"] = None
    else:
        poly = _erfc_poly(abs(z) / math.sqrt(2.0))
        out["p_value"] = _rnd6(poly / 2) if z >= 0 else _rnd6(1 - poly / 2)
    return out


def test_hosmer_lemeshow_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _hl_py(pdf)
    row = plans.QUERIES["hosmer_lemeshow_calibration"](
        spark, sf_small
    ).collect()[0]
    for k in ("n_bins", "n_docs", "dof", "degenerate_bins"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("hl_chi2", "z_stat", "p_value"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_energy_distance_unit_calibration(spark, tmp_path):
    """One early event at 1.00 and one late at 2.00: eps = 2E|X-Y| =
    2.0 VALUE units and T = (1*1/2)*eps = 1.0 — pins the cent de-scale
    factor (the round-11 review caught a /1e4 that shipped these 100x
    small; the statistic is linear in the values, so one cent factor)."""
    base = pd.Timestamp("2024-01-01")
    rows = [
        (0, base, 1, "view", 1.0, "{}"),
        (1, base + pd.Timedelta(hours=48), 2, "view", 2.0, "{}"),
    ]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["energy_distance_drift"](spark, sf).collect()[0]
    assert row["n_early"] == 1 and row["n_late"] == 1
    assert row["sxy"] == 100  # |100 - 200| cents, one cross pair
    assert row["energy_dist"] == 2.0
    assert row["t_stat"] == 1.0


def test_stratified_logrank_all_censored_stratum_not_counted(spark, tmp_path):
    """A stratum whose sessions are ALL censored contributes no
    death-time terms: n_strata counts contributing strata only
    (round-11 review pin — the sf0.01 corpus happens to have deaths in
    every band, so the parity test alone cannot pin this)."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    # Band 0: sessions with real deaths (end hours before batch end).
    for uid in range(1, 9):
        t0 = base + pd.Timedelta(hours=1, seconds=uid)
        rows.append((eid, t0, uid, "view", 1.0, "{}")); eid += 1
        rows.append(
            (eid, t0 + pd.Timedelta(seconds=60 * uid), uid, "view", 1.0, "{}")
        )
        eid += 1
    # Band 1 (hour 7 starts): single-event sessions at batch end — all
    # censored (gmx - last <= 1800).
    for uid in range(101, 105):
        rows.append(
            (eid, base + pd.Timedelta(hours=7, seconds=uid), uid, "view",
             1.0, "{}")
        )
        eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["stratified_logrank_survival"](spark, sf).collect()[0]
    assert row["n_strata"] == 1
    exp = _slr_py(_load_events(sf))
    assert row["n_strata"] == exp["n_strata"]
    assert row["o1"] == exp["o1"]


# --- Spiegelhalter calibration Z -------------------------------------------------


def _spz_py(pdf) -> dict:
    dls = [len(t.lower().strip().split(" ")) for t in pdf["text"]]
    pos = [1 if l == "en" else 0 for l in pdf["lang"]]
    n_all = len(dls)
    cnt = Counter(dls)
    cum, acc = {}, 0
    for v in sorted(cnt):
        acc += cnt[v]
        cum[v] = acc
    num = den = 0
    for dl, p in zip(dls, pos):
        sm = _round_away(cum[dl] * 1000000.0 / n_all)
        num += (p * 1000000 - sm) * (1000000 - 2 * sm)
        den += _round_away(
            1e9
            * ((1e0 * (1000000 - 2 * sm)) * (1000000 - 2 * sm))
            * ((1e0 * sm) * (1000000 - sm))
            / 1e24
        )
    if den <= 0:
        z = None
    else:
        z = _rnd6((num / 1e12) / math.sqrt(den / 1e9))
    return {
        "n_docs": n_all,
        "sum_dev_e12": num,
        "var_e9": den,
        "z_stat": z,
        "p_two_sided": None if z is None else _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_spiegelhalter_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _spz_py(pdf)
    row = plans.QUERIES["spiegelhalter_z_calibration"](spark, sf_small).collect()[0]
    assert row["n_docs"] == exp["n_docs"]
    assert row["sum_dev_e12"] == exp["sum_dev_e12"]
    assert row["var_e9"] == exp["var_e9"]
    for k in ("z_stat", "p_two_sided"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_spiegelhalter_degenerate_constant_score(spark, tmp_path):
    """All docs the same length -> every ECDF score is exactly 1.0
    (sm = 1e6), so the null variance sum is 0 and the test guards to
    NULL instead of dividing by zero."""
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["alpha beta gamma"] * 6,
            "lang": ["en", "de", "en", "fr", "en", "de"],
            "source": ["s"] * 6,
            "n_chars": [16] * 6,
        }
    )
    sf = _write_tables(tmp_path, documents=docs)
    row = plans.QUERIES["spiegelhalter_z_calibration"](spark, sf).collect()[0]
    assert row["var_e9"] == 0
    assert row["z_stat"] is None and row["p_two_sided"] is None


# --- Kuiper time-of-day drift ----------------------------------------------------


def _kp_py(pdf) -> dict:
    us = (pdf["ts"].astype("int64")).tolist()
    mid = (min(us) + max(us)) // 2
    tods = [(u // 1000000) % 86400 for u in us]
    early = [1 if u < mid else 0 for u in us]
    n1 = sum(early)
    n2 = len(us) - n1
    c1, call = Counter(), Counter()
    for t, e in zip(tods, early):
        c1[t] += e
        call[t] += 1
    cum1 = cuma = 0
    dplus = dminus = -1e18
    for t in sorted(call):
        cum1 += c1[t]
        cuma += call[t]
        g = cum1 / (1.0 * n1) - (cuma - cum1) / (1.0 * n2)
        dplus = max(dplus, g)
        dminus = max(dminus, -g)
    v_e6 = _round_away(1000000 * (dplus + dminus))
    ne = (1.0 * n1 * n2) / (n1 + n2)
    lam = (math.sqrt(ne) + 0.155 + 0.24 / math.sqrt(ne)) * (v_e6 / 1e6)
    if lam < 0.4:
        p = 1.0
    else:
        p = min(
            1.0,
            max(
                0.0,
                2
                * sum(
                    (4 * j * j * lam * lam - 1) * math.exp(-2 * j * j * lam * lam)
                    for j in (1, 2, 3, 4)
                ),
            ),
        )
    return {
        "n_early": n1,
        "n_late": n2,
        "d_plus": _rnd6(dplus),
        "d_minus": _rnd6(dminus),
        "kuiper_v": v_e6 / 1e6,
        "p_value": _rnd6(p),
        "drift_at_95": p < 0.05,
    }


def test_kuiper_matches_python(spark, sf_small):
    exp = _kp_py(_load_events(sf_small))
    row = plans.QUERIES["kuiper_tod_drift"](spark, sf_small).collect()[0]
    assert row["n_early"] == exp["n_early"] and row["n_late"] == exp["n_late"]
    assert row["drift_at_95"] == exp["drift_at_95"]
    for k in ("d_plus", "d_minus", "kuiper_v", "p_value"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_kuiper_rotation_invariant(spark, tmp_path):
    """THE Kuiper property: rotating every time-of-day by the same
    offset (mod 24h) leaves V unchanged — a KS statistic on the same
    data moves with the cut point. Early sample on day 0, late on day
    4, so a +7h rotation cannot push an event across the split."""
    base = pd.Timestamp("2024-01-01")

    def mk(shift_s: int) -> str:
        rows, eid = [], 0
        for day, tods in ((0, [3600, 7200, 30000, 50000, 81000]),
                          (4, [2000, 40000, 45000, 52000, 86000])):
            for tod in tods:
                t = base + pd.Timedelta(days=day, seconds=(tod + shift_s) % 86400)
                rows.append((eid, t, eid, "view", 1.0, "{}"))
                eid += 1
        d = tmp_path / f"shift{shift_s}"
        d.mkdir()
        return _write_tables(d, events=_events_pdf(rows))

    r0 = plans.QUERIES["kuiper_tod_drift"](spark, mk(0)).collect()[0]
    r7 = plans.QUERIES["kuiper_tod_drift"](spark, mk(7 * 3600)).collect()[0]
    assert r0["kuiper_v"] == r7["kuiper_v"]
    assert r0["p_value"] == r7["p_value"]


# --- Lin regression-adjusted ATE -------------------------------------------------


def _lin_py(pdf) -> dict:
    us = pdf["ts"].astype("int64").tolist()
    mid = (min(us) + max(us)) // 2
    per = defaultdict(lambda: [0, 0])
    for u, uid, v in zip(us, pdf["user_id"], pdf["value"]):
        cents = _round_away(v * 100)
        per[uid][0 if u < mid else 1] += cents
    m = Counter()
    for uid, (x, y) in per.items():
        a = _h48(str(uid)) % 2
        m[f"n{a}"] += 1
        m[f"sx{a}"] += x
        m[f"sy{a}"] += y
        m[f"sxx{a}"] += x * x
        m[f"sxy{a}"] += x * y
        m[f"syy{a}"] += y * y

    def beta(a):
        n, sx, sy, sxx, sxy = (
            m[f"n{a}"], m[f"sx{a}"], m[f"sy{a}"], m[f"sxx{a}"], m[f"sxy{a}"]
        )
        if n < 2 or (1.0 * n * sxx - (1.0 * sx) * sx) <= 0:
            return 0.0
        return (1.0 * n * sxy - (1.0 * sx) * sy) / (1.0 * n * sxx - (1.0 * sx) * sx)

    def syy_c(a):
        n, sy, syy = m[f"n{a}"], m[f"sy{a}"], m[f"syy{a}"]
        return 1.0 * syy - (1.0 * sy) * sy / n

    def rss(a):
        n, sx, sy, sxx, sxy = (
            m[f"n{a}"], m[f"sx{a}"], m[f"sy{a}"], m[f"sxx{a}"], m[f"sxy{a}"]
        )
        sxx_c = 1.0 * sxx - (1.0 * sx) * sx / n
        if sxx_c <= 0:
            return syy_c(a)
        sxy_c = 1.0 * sxy - (1.0 * sx) * sy / n
        return syy_c(a) - sxy_c * sxy_c / sxx_c

    n0, n1 = m["n0"], m["n1"]
    b0, b1 = beta(0), beta(1)
    xbp = (1.0 * (m["sx0"] + m["sx1"])) / (n0 + n1)
    mu0 = 1.0 * m["sy0"] / n0 + b0 * (xbp - 1.0 * m["sx0"] / n0)
    mu1 = 1.0 * m["sy1"] / n1 + b1 * (xbp - 1.0 * m["sx1"] / n1)
    var_adj = (
        None
        if n0 < 3 or n1 < 3
        else rss(0) / (n0 - 2) / n0 + rss(1) / (n1 - 2) / n1
    )
    var_raw = (
        None
        if n0 < 2 or n1 < 2
        else syy_c(0) / (n0 - 1) / n0 + syy_c(1) / (n1 - 1) / n1
    )
    z = (
        None
        if var_adj is None or var_adj <= 0
        else _rnd6((mu1 - mu0) / math.sqrt(var_adj))
    )
    return {
        "n_users0": n0,
        "n_users1": n1,
        "beta0_micro": _round_away(b0 * 1000000),
        "beta1_micro": _round_away(b1 * 1000000),
        "ate_raw_cents": _rnd6(1.0 * m["sy1"] / n1 - 1.0 * m["sy0"] / n0),
        "ate_adj_cents": _rnd6(mu1 - mu0),
        "se_raw": None if var_raw is None or var_raw <= 0 else _rnd6(math.sqrt(var_raw)),
        "se_adj": None if var_adj is None or var_adj <= 0 else _rnd6(math.sqrt(var_adj)),
        "var_reduction": (
            None
            if var_raw is None or var_adj is None or var_raw <= 0
            else _rnd6(1 - var_adj / var_raw)
        ),
        "z_stat": z,
        "p_two_sided": None if z is None else _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_lin_matches_python(spark, sf_small):
    exp = _lin_py(_load_events(sf_small))
    row = plans.QUERIES["lin_regression_adjusted_ab"](spark, sf_small).collect()[0]
    for k in ("n_users0", "n_users1", "beta0_micro", "beta1_micro"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in (
        "ate_raw_cents", "ate_adj_cents", "se_raw", "se_adj",
        "var_reduction", "z_stat", "p_two_sided",
    ):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_lin_recovers_per_arm_slopes(spark, tmp_path):
    """Arm 1's post spend is exactly 2x pre, arm 0's exactly 3x: Lin
    fits each arm its own slope (beta0 = 3, beta1 = 2 — a pooled CUPED
    theta would land in between and adjust BOTH arms wrong), and on a
    perfect fit the residual SE guards to NULL (documented degenerate
    case)."""
    arm1 = [u for u in range(1, 200) if _h48(str(u)) % 2 == 1][:4]
    arm0 = [u for u in range(1, 200) if _h48(str(u)) % 2 == 0][:4]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for i, uid in enumerate(arm1):
        x = 100 + 50 * i
        rows.append((eid, base + pd.Timedelta(hours=1, seconds=eid), uid, "view", x / 100, "{}")); eid += 1
        rows.append((eid, base + pd.Timedelta(days=4, seconds=eid), uid, "view", 2 * x / 100, "{}")); eid += 1
    for i, uid in enumerate(arm0):
        x = 120 + 40 * i
        rows.append((eid, base + pd.Timedelta(hours=1, seconds=eid), uid, "view", x / 100, "{}")); eid += 1
        rows.append((eid, base + pd.Timedelta(days=4, seconds=eid), uid, "view", 3 * x / 100, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["lin_regression_adjusted_ab"](spark, sf).collect()[0]
    assert row["beta1_micro"] == 2000000
    assert row["beta0_micro"] == 3000000
    exp = _lin_py(_load_events(sf))
    assert abs(row["ate_adj_cents"] - exp["ate_adj_cents"]) < 2e-6
    assert row["se_adj"] is None and row["z_stat"] is None


# --- DerSimonian-Laird random-effects pooled A/B ----------------------------------


def _dl_py(pdf) -> dict:
    us = pdf["ts"].astype("int64").tolist()
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for u, uid, et in zip(us, pdf["user_id"], pdf["event_type"]):
        day = u // 86400000000
        g = _h48(str(uid)) % 2
        y = 1 if et == "purchase" else 0
        c = cells[day]
        if g == 1:
            c[0] += y
            c[1] += 1 - y
        else:
            c[2] += y
            c[3] += 1 - y
    k_all = len(cells)
    kept = []
    for a, b, c, d in cells.values():
        n1, n0 = a + b, c + d
        if n1 > 0 and n0 > 0 and ((a > 0 and b > 0) or (c > 0 and d > 0)):
            kept.append((a, b, c, d, n1, n0))

    def vfn(a, b, c, d, n1, n0):
        return (1.0 * a) * b / ((1.0 * n1) * n1 * n1) + (1.0 * c) * d / (
            (1.0 * n0) * n0 * n0
        )

    def rdfn(a, b, c, d, n1, n0):
        return (1.0 * a) / n1 - (1.0 * c) / n0

    k = len(kept)
    # Mirror the engine's degenerate paths (review finding): every day
    # dropped -> one all-NULL-inference row; a tripwire day -> NULLs.
    if k == 0 or any(vfn(*t) < 4e-10 for t in kept):
        return {
            "k_strata": k,
            "k_dropped": k_all - k,
            "degenerate": k > 0,
            "q_stat": None,
            "i2": None,
            # k = 0 takes the else branch with tau2 = 0.0 (any_trip is
            # coalesced to 0); only a tripwire day NULLs tau2_e9.
            "tau2_e9": None if k > 0 else 0,
            "rd_fixed": None,
            "rd_random": None,
            "se_random": None,
            "z_stat": None,
            "p_two_sided": None,
        }
    vmin = min(vfn(*t) for t in kept)
    any_trip = False
    sw = swrd = swrd2 = sw2 = 0
    for t in kept:
        v, rd = vfn(*t), rdfn(*t)
        wq = _round_away(1000000 * vmin / v)
        sw += wq
        swrd += _round_away(1000000 * wq * rd)
        swrd2 += _round_away(1000000 * wq * rd * rd)
        sw2 += wq * wq
    q = None if k < 1 or sw < 1 else (
        (swrd2 / 1e6 - (swrd / 1e6) * (swrd / 1e6) / sw) / (1000000 * vmin)
    )
    cden = None if k < 1 or sw < 1 else (sw - (1.0 * sw2) / sw) / (1000000 * vmin)
    tau2 = (
        0.0
        if q is None or cden is None or cden <= 0
        else max(0.0, (q - (k - 1)) / cden)
    )
    swb = swbrd = 0
    for t in kept:
        v, rd = vfn(*t), rdfn(*t)
        wq2 = _round_away(1000000 * (vmin + tau2) / (v + tau2))
        swb += wq2
        swbrd += _round_away(1000000 * wq2 * rd)
    rd_random = None if swb < 1 else (swbrd / 1e6) / swb
    se_random = None if swb < 1 else math.sqrt(1000000 * (vmin + tau2) / swb)
    z = None if rd_random is None else _rnd6(rd_random / se_random)
    return {
        "k_strata": k,
        "k_dropped": k_all - k,
        "degenerate": any_trip,
        "q_stat": None if q is None else _rnd6(q),
        "i2": None if q is None or q <= 0 else _rnd6(max(0.0, (q - (k - 1)) / q)),
        "tau2_e9": _round_away(tau2 * 1e9),
        "rd_fixed": None if sw < 1 else _rnd6((swrd / 1e6) / sw),
        "rd_random": None if rd_random is None else _rnd6(rd_random),
        "se_random": None if se_random is None else _rnd6(se_random),
        "z_stat": z,
        "p_two_sided": None if z is None else _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    }


def test_dersimonian_laird_matches_python(spark, sf_small):
    exp = _dl_py(_load_events(sf_small))
    row = plans.QUERIES["dersimonian_laird_daily_ab"](spark, sf_small).collect()[0]
    for k in ("k_strata", "k_dropped", "degenerate", "tau2_e9"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in (
        "q_stat", "i2", "rd_fixed", "rd_random", "se_random",
        "z_stat", "p_two_sided",
    ):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_dersimonian_laird_homogeneous_days(spark, tmp_path):
    """Identical per-day 2x2s = zero between-day heterogeneity: tau^2
    estimates 0 exactly, and the random-effects pool REDUCES to the
    fixed-effect pool (wq2 == wq when tau2 = 0) — the DL sanity
    property a heterogeneous corpus cannot pin."""
    arm1 = [u for u in range(1, 200) if _h48(str(u)) % 2 == 1][0]
    arm0 = [u for u in range(1, 200) if _h48(str(u)) % 2 == 0][0]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for day in range(5):
        for et in ("purchase", "purchase", "view", "view"):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 800), arm1, et, 1.0, "{}")); eid += 1
        for et in ("purchase", "view", "view", "view"):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 800), arm0, et, 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["dersimonian_laird_daily_ab"](spark, sf).collect()[0]
    assert row["k_strata"] == 5 and row["k_dropped"] == 0
    assert row["tau2_e9"] == 0
    assert row["rd_random"] == row["rd_fixed"] == 0.25
    assert row["q_stat"] is not None and row["q_stat"] < 1e-3


def test_dersimonian_laird_all_days_dropped(spark, tmp_path):
    """Every day has traffic in only ONE hash arm -> the complete-case
    filter drops all strata, and the readout still emits ONE row with
    the k_all/k_dropped accounting and NULL inference (a grouped agg
    over the empty weight frame would emit zero rows — review pin)."""
    arm1 = [u for u in range(1, 200) if _h48(str(u)) % 2 == 1][0]
    base = pd.Timestamp("2024-01-01")
    rows = []
    for day in range(3):
        for i, et in enumerate(("purchase", "view", "view")):
            rows.append(
                (day * 10 + i, base + pd.Timedelta(days=day, seconds=i),
                 arm1, et, 1.0, "{}")
            )
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    out = plans.QUERIES["dersimonian_laird_daily_ab"](spark, sf).collect()
    assert len(out) == 1
    row = out[0]
    assert row["k_strata"] == 0 and row["k_dropped"] == 3
    assert row["degenerate"] is False
    for kcol in ("q_stat", "i2", "rd_fixed", "rd_random", "se_random",
                 "z_stat", "p_two_sided"):
        assert row[kcol] is None, kcol
    exp = _dl_py(_load_events(sf))
    assert exp["k_strata"] == 0 and exp["k_dropped"] == 3


# --- DeLong AUC CI ---------------------------------------------------------------


def _dlg_py(pdf) -> dict:
    dls = [len(t.lower().strip().split(" ")) for t in pdf["text"]]
    pos = [1 if l == "en" else 0 for l in pdf["lang"]]
    grid = defaultdict(lambda: [0, 0])  # dl -> [cnt, p]
    for dl, p in zip(dls, pos):
        grid[dl][0] += 1
        grid[dl][1] += p
    cum_all = cum_p = 0
    sp1 = sp2 = sn1 = sn2 = 0
    np_ = sum(p for _, p in grid.values())
    nn = len(dls) - np_
    for dl in sorted(grid):
        cnt, p = grid[dl]
        neg = cnt - p
        u10 = 2 * ((cum_all) - (cum_p)) + neg  # negatives strictly below + ties
        u01 = 2 * cum_p + p
        sp1 += p * u10
        sp2 += p * u10 * u10
        sn1 += neg * u01
        sn2 += neg * u01 * u01
        cum_all += cnt
        cum_p += p
    auc = (1.0 * sp1) / ((2.0 * np_) * nn)
    var = (
        None
        if np_ < 2 or nn < 2
        else (1.0 * sp2 - (1.0 * sp1) * sp1 / np_) / (np_ - 1)
        / ((2.0 * nn) * (2.0 * nn)) / np_
        + (1.0 * sn2 - (1.0 * sn1) * sn1 / nn) / (nn - 1)
        / ((2.0 * np_) * (2.0 * np_)) / nn
    )
    out = {
        "n_pos": np_,
        "n_neg": nn,
        "auc_micro": _round_away(auc * 1000000),
    }
    if var is None or var <= 0:
        out.update(se_delong=None, ci95_lo=None, ci95_hi=None,
                   z_vs_chance=None, p_two_sided=None)
    else:
        se = math.sqrt(var)
        z = _rnd6((auc - 0.5) / se)
        out.update(
            se_delong=_rnd6(se),
            ci95_lo=_rnd6(max(0.0, auc - 1.96 * se)),
            ci95_hi=_rnd6(min(1.0, auc + 1.96 * se)),
            z_vs_chance=z,
            p_two_sided=_rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
        )
    return out


def test_delong_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _dlg_py(pdf)
    row = plans.QUERIES["delong_auc_ci"](spark, sf_small).collect()[0]
    for k in ("n_pos", "n_neg", "auc_micro"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("se_delong", "ci95_lo", "ci95_hi", "z_vs_chance", "p_two_sided"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_delong_point_estimate_equals_registered_auc(spark, sf_small):
    """The CI query's point estimate must equal roc_auc_token_count's
    auc_micro exactly — same score, same label, same tie handling (the
    two eval readouts can never disagree)."""
    a = plans.QUERIES["roc_auc_token_count"](spark, sf_small).collect()[0]
    b = plans.QUERIES["delong_auc_ci"](spark, sf_small).collect()[0]
    assert b["auc_micro"] == a["auc_micro"]
    assert b["n_pos"] == a["n_pos"] and b["n_neg"] == a["n_neg"]


def test_delong_perfect_separation_guards_null(spark, tmp_path):
    """Perfect separation (every en doc longer than every non-en doc):
    AUC = 1 and BOTH structural-component variances are exactly 0, so
    the interval guards to NULL instead of claiming an impossible
    zero-width CI (the documented degenerate case)."""
    docs = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": ["w " * (10 + i * 2) if i < 4 else "w " * (50 + i) for i in range(8)],
            "lang": ["de", "de", "fr", "de", "en", "en", "en", "en"],
            "source": ["s"] * 8,
            "n_chars": [1] * 8,
        }
    )
    sf = _write_tables(tmp_path, documents=docs)
    row = plans.QUERIES["delong_auc_ci"](spark, sf).collect()[0]
    assert row["auc_micro"] == 1000000
    assert row["se_delong"] is None and row["z_vs_chance"] is None


# --- hypothesis property tests (kuiper / lin / DL / delong) ------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=86399), min_size=3, max_size=10),
    st.lists(st.integers(min_value=0, max_value=86399), min_size=3, max_size=10),
    st.integers(min_value=1, max_value=86399),
)
def test_kuiper_property_rotation_and_dominance(
    spark, tmp_path_factory, early_tods, late_tods, shift
):
    """Two Kuiper properties on arbitrary tod samples: (1) rotating
    every tod by the same offset (mod 24h) leaves V and p exactly
    unchanged; (2) V = D+ + D- dominates the one-sided sups, so
    V >= max(D+, D-) on the unrotated data."""
    base = pd.Timestamp("2024-01-01")

    def mk(tmp, s):
        rows, eid = [], 0
        for day, tods in ((0, early_tods), (4, late_tods)):
            for tod in tods:
                rows.append(
                    (eid, base + pd.Timedelta(days=day, seconds=(tod + s) % 86400),
                     eid, "view", 1.0, "{}")
                )
                eid += 1
        return _write_tables(tmp, events=_events_pdf(rows))

    q = plans.QUERIES["kuiper_tod_drift"]
    r0 = q(spark, mk(tmp_path_factory.mktemp("k0"), 0)).collect()[0]
    rs = q(spark, mk(tmp_path_factory.mktemp("ks"), shift)).collect()[0]
    assert r0["kuiper_v"] == rs["kuiper_v"]
    assert r0["p_value"] == rs["p_value"]
    assert r0["kuiper_v"] >= max(r0["d_plus"], r0["d_minus"]) - 1e-9


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),   # pre cents
            st.integers(min_value=0, max_value=500),   # post cents
        ),
        min_size=8,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=300),            # translation, cents
)
def test_lin_property_translation_invariance(spark, tmp_path_factory, xy, c):
    """Lin's adjusted ATE is invariant to adding the same constant to
    every user's POST outcome in both arms differing only through the
    raw means: ate_adj(y + c) = ate_adj(y) + (c - c) = ate_adj(y) —
    slopes and the pooled-mean evaluation point are unchanged, so the
    constant cancels in mu1 - mu0. Checked against the Python reference
    on both the original and translated corpora."""
    base = pd.Timestamp("2024-01-01")

    def mk(tmp, add):
        rows, eid = [], 0
        for uid0, (x, y) in enumerate(xy):
            uid = uid0 + 1
            rows.append((eid, base + pd.Timedelta(hours=1, seconds=eid),
                         uid, "view", x / 100, "{}")); eid += 1
            rows.append((eid, base + pd.Timedelta(days=4, seconds=eid),
                         uid, "view", (y + add) / 100, "{}")); eid += 1
        return _write_tables(tmp, events=_events_pdf(rows))

    q = plans.QUERIES["lin_regression_adjusted_ab"]
    r0 = q(spark, mk(tmp_path_factory.mktemp("l0"), 0)).collect()[0]
    rc = q(spark, mk(tmp_path_factory.mktemp("lc"), c)).collect()[0]
    exp0 = _lin_py(_load_events(mk(tmp_path_factory.mktemp("p0"), 0)))
    if exp0["ate_adj_cents"] is None:
        assert r0["ate_adj_cents"] is None
    else:
        assert abs(r0["ate_adj_cents"] - exp0["ate_adj_cents"]) < 2e-6
    if r0["ate_adj_cents"] is not None and rc["ate_adj_cents"] is not None:
        assert abs(r0["ate_adj_cents"] - rc["ate_adj_cents"]) < 1e-4
        assert r0["beta0_micro"] == rc["beta0_micro"]
        assert r0["beta1_micro"] == rc["beta1_micro"]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # arm1 purchases
            st.integers(min_value=1, max_value=6),   # arm1 views
            st.integers(min_value=1, max_value=6),   # arm0 purchases
            st.integers(min_value=1, max_value=6),   # arm0 views
        ),
        min_size=2,
        max_size=8,
    )
)
def test_dl_property_random_days(spark, tmp_path_factory, days):
    """The full quantized DL pipeline (max-normalized weights, Q, tau^2,
    two-pass re-pool) on arbitrary small day series must match the
    Python reference exactly — heavy heterogeneity by construction."""
    arm1 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 1][0]
    arm0 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 0][0]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for day, (a, b, c, d) in enumerate(days):
        for _ in range(a):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 999),
                         arm1, "purchase", 1.0, "{}")); eid += 1
        for _ in range(b):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 999),
                         arm1, "view", 1.0, "{}")); eid += 1
        for _ in range(c):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 999),
                         arm0, "purchase", 1.0, "{}")); eid += 1
        for _ in range(d):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=eid % 999),
                         arm0, "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path_factory.mktemp("dl"), events=_events_pdf(rows))
    exp = _dl_py(_load_events(sf))
    row = plans.QUERIES["dersimonian_laird_daily_ab"](spark, sf).collect()[0]
    for k in ("k_strata", "k_dropped", "degenerate", "tau2_e9"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("q_stat", "i2", "rd_fixed", "rd_random", "se_random",
              "z_stat", "p_two_sided"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=30),   # token count
            st.booleans(),                             # is_en
        ),
        min_size=6,
        max_size=24,
    )
)
def test_delong_property_random_corpus(spark, tmp_path_factory, docs_spec):
    """DeLong variance on arbitrary tied corpora must match the Python
    reference exactly, and the CI must bracket the point estimate."""
    from hypothesis import assume

    # Both classes must be present; assume() makes hypothesis replace
    # degenerate draws instead of counting them as passed examples.
    assume(any(e for _, e in docs_spec) and not all(e for _, e in docs_spec))
    docs = pd.DataFrame(
        {
            "doc_id": range(len(docs_spec)),
            "text": [" ".join(["w"] * n) for n, _ in docs_spec],
            "lang": ["en" if e else "de" for _, e in docs_spec],
            "source": ["s"] * len(docs_spec),
            "n_chars": [1] * len(docs_spec),
        }
    )
    sf = _write_tables(tmp_path_factory.mktemp("dlg"), documents=docs)
    exp = _dlg_py(docs)
    row = plans.QUERIES["delong_auc_ci"](spark, sf).collect()[0]
    assert row["auc_micro"] == exp["auc_micro"]
    for k in ("se_delong", "ci95_lo", "ci95_hi", "z_vs_chance", "p_two_sided"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])
    if row["se_delong"] is not None:
        assert row["ci95_lo"] - 1e-9 <= row["auc_micro"] / 1e6 <= row["ci95_hi"] + 1e-9


# --- DL streaming twin -------------------------------------------------------------


def test_dl_readout_plan_lint(spark):
    """ADVICE r10 #4 from birth: the DL twin's shared readout lints
    directly over a small static (day, a, b, c, d) cell frame, with no
    replay."""
    df = S._dl_readout(
        spark.createDataFrame(
            [(d, 2 + d % 3, 3, 1 + d % 2, 4) for d in range(6)],
            "day long, a long, b long, c long, d long",
        )
    )
    p = _explain(df)
    bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
    assert not bad, f"_dl_readout lint failed: {bad}"


def test_stream_dl_matches_batch_python_on_half(spark, sf_small):
    """The ingest-path twin's merged (day, arm) partials must reproduce
    the batch DL readout EXACTLY on the replayed odd-event_id half —
    including the day straddling the two micro-batches."""
    pdf = _load_events(sf_small)
    exp = _dl_py(pdf[pdf["event_id"] % 2 == 1])
    row = plans.QUERIES["stream_dersimonian_laird_monitor"](
        spark, sf_small
    ).collect()[0]
    for k in ("k_strata", "k_dropped", "degenerate", "tau2_e9"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("q_stat", "i2", "rd_fixed", "rd_random", "se_random",
              "z_stat", "p_two_sided"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


# --- weighted log-rank family ------------------------------------------------------


def _wlr_py(pdf) -> dict:
    sess = _sessions_py(pdf)
    gmx = max(pdf["ts"].astype("int64") // 10**6)
    obs = [
        (last - start, (gmx - last) <= 1800, _h48(str(uid)) % 2)
        for uid, start, last in sess
    ]
    bytime = defaultdict(lambda: [0, 0, 0, 0])  # t -> removed, removed1, d, d1
    for t, cens, g in obs:
        r = bytime[t]
        r[0] += 1
        r[1] += g
        if not cens:
            r[2] += 1
            r[3] += g
    n_all = len(obs)
    n1 = sum(g for _, _, g in obs)
    cum = cum1 = 0
    nt = o1 = 0
    sums = {s: [0, 0] for s in ("lr", "ge", "tw")}
    for t in sorted(bytime):
        removed, removed1, d, d1 = bytime[t]
        nr = n_all - cum
        n1r = n1 - cum1
        cum += removed
        cum1 += removed1
        if d <= 0 or nr <= 0:
            continue
        nt += 1
        o1 += d1
        e = (1.0 * d * n1r) / nr
        v = (
            0.0
            if nr <= 1
            else (1.0 * d * n1r * (nr - n1r) * (nr - d))
            / ((1.0 * nr) * nr * (nr - 1))
        )
        for s, w in (("lr", 1.0), ("ge", (1.0 * nr) / n_all),
                     ("tw", math.sqrt((1.0 * nr) / n_all))):
            # Two-rounding form mirroring _wlr_num_e9 (w = 1 reduces to
            # the registered test's exact integer numerator).
            sums[s][0] += _round_away(1e9 * w * d1) - _round_away(1e9 * w * e)
            sums[s][1] += _round_away(1e9 * w * w * v)
    out = {"n_death_times": nt, "o1": o1}
    for s, n in (("lr", "logrank"), ("ge", "gehan"), ("tw", "tarone_ware")):
        num, den = sums[s]
        z = 0.0 if den <= 0 else _rnd6((1.0 * num) / math.sqrt(1.0 * den * 1e9))
        out[f"z_{n}"] = z
        out[f"p_{n}"] = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))
    return out


def test_weighted_logrank_matches_python(spark, sf_small):
    exp = _wlr_py(_load_events(sf_small))
    row = plans.QUERIES["weighted_logrank_family"](spark, sf_small).collect()[0]
    assert row["n_death_times"] == exp["n_death_times"]
    assert row["o1"] == exp["o1"]
    for k in ("z_logrank", "z_gehan", "z_tarone_ware",
              "p_logrank", "p_gehan", "p_tarone_ware"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_weighted_logrank_w1_equals_registered_logrank(spark, sf_small):
    """With w = 1 the quantized numerator reduces to the registered
    test's integer form exactly, so z_logrank must reproduce
    logrank_test_session_survival's z_stat bit-for-bit (the two
    survival inferences can never disagree)."""
    a = plans.QUERIES["logrank_test_session_survival"](spark, sf_small).collect()[0]
    b = plans.QUERIES["weighted_logrank_family"](spark, sf_small).collect()[0]
    assert b["z_logrank"] == a["z_stat"]
    assert b["n_death_times"] == a["n_death_times"]
    assert b["o1"] == a["o1"]


def test_weighted_logrank_identical_arms_zero(spark, tmp_path):
    """Mirror-paired arms (one user per arm with IDENTICAL session
    patterns): at every death time d1 = d/2 and n1r = nr/2, so every
    weighted numerator term is exactly 0 and all three z are 0."""
    arm1 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 1][:3]
    arm0 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 0][:3]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for i, (u1, u0) in enumerate(zip(arm1, arm0)):
        # Spread pairs across hours so the early pairs end > 1800 s
        # before the corpus max and register as real deaths.
        t0 = base + pd.Timedelta(hours=1 + 2 * i)
        for uid in (u1, u0):
            rows.append((eid, t0, uid, "view", 1.0, "{}")); eid += 1
            rows.append(
                (eid, t0 + pd.Timedelta(seconds=120 * (i + 1)), uid, "view",
                 1.0, "{}")
            ); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["weighted_logrank_family"](spark, sf).collect()[0]
    assert row["z_logrank"] == 0.0
    assert row["z_gehan"] == 0.0
    assert row["z_tarone_ware"] == 0.0


# --- combined p-values (Fisher / Stouffer) ------------------------------------------


def _pc_py(pdf) -> dict:
    us = pdf["ts"].astype("int64").tolist()
    cells = defaultdict(lambda: [0, 0, 0, 0])
    for u, uid, et in zip(us, pdf["user_id"], pdf["event_type"]):
        day = u // 86400000000
        g = _h48(str(uid)) % 2
        y = 1 if et == "purchase" else 0
        c = cells[day]
        if g == 1:
            c[0] += y
            c[1] += 1 - y
        else:
            c[2] += y
            c[3] += 1 - y
    k = 0
    sz = sf = 0
    for a, b, c, d in cells.values():
        n1, n0 = a + b, c + d
        if n1 < 1 or n0 < 1 or (a + c) < 1 or (b + d) < 1:
            continue
        k += 1
        pooled = (1.0 * (a + c)) / (n1 + n0)
        zd = ((1.0 * a) / n1 - (1.0 * c) / n0) / math.sqrt(
            pooled * (1 - pooled) * (1.0 / n1 + 1.0 / n0)
        )
        zq = _round_away(1000000 * zd)
        p_day = _erfc_poly(abs(zq / 1e6) / math.sqrt(2.0))
        sz += zq
        sf += _round_away(-2000000 * math.log(max(p_day, 1e-300)))
    if k < 1:
        return {"k_days": 0}
    stz = _rnd6((sz / 1e6) / math.sqrt(1.0 * k))
    fz = _rnd6(math.sqrt(2 * (sf / 1e6)) - math.sqrt(2.0 * (2 * k) - 1))
    pf_poly = _erfc_poly(abs(fz) / math.sqrt(2.0))
    return {
        "k_days": k,
        "stouffer_z": stz,
        "p_stouffer": _rnd6(_erfc_poly(abs(stz) / math.sqrt(2.0))),
        "fisher_chi2": _rnd6(sf / 1e6),
        "fisher_dof": 2 * k,
        "fisher_z": fz,
        "p_fisher": _rnd6(pf_poly / 2) if fz >= 0 else _rnd6(1 - pf_poly / 2),
    }


def test_combined_pvalue_matches_python(spark, sf_small):
    exp = _pc_py(_load_events(sf_small))
    row = plans.QUERIES["combined_pvalue_daily_ab"](spark, sf_small).collect()[0]
    assert row["k_days"] == exp["k_days"]
    assert row["fisher_dof"] == exp["fisher_dof"]
    for k in ("stouffer_z", "p_stouffer", "fisher_chi2", "fisher_z", "p_fisher"):
        assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_combined_pvalue_null_days_near_one(spark, tmp_path):
    """Mirror-paired arms on every day (identical per-day 2x2s in both
    arms): every per-day z is exactly 0, so Stouffer z = 0 with
    two-sided p = 1, and each Fisher term is -2 ln(1) = 0 giving
    chi-square exactly 0 — the no-evidence fixed point of both
    combiners."""
    arm1 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 1][0]
    arm0 = [u for u in range(1, 300) if _h48(str(u)) % 2 == 0][0]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for day in range(4):
        for uid in (arm1, arm0):
            for et in ("purchase", "view", "view"):
                rows.append(
                    (eid, base + pd.Timedelta(days=day, seconds=eid % 500),
                     uid, et, 1.0, "{}")
                ); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["combined_pvalue_daily_ab"](spark, sf).collect()[0]
    assert row["k_days"] == 4
    assert row["stouffer_z"] == 0.0
    assert row["p_stouffer"] == 1.0
    assert row["fisher_chi2"] == 0.0


def test_delong_decimal_product_guard_symmetric(spark):
    """The per-row DECIMAL(38,0)-promoted product must take the loud
    NULL path IDENTICALLY in both engines past int64 (an int64 product
    would wrap in Spark and raise in DuckDB — the chi-square ADVICE
    r10 asymmetry class), and stay exact integer in range."""
    import duckdb

    term = "CAST(p AS DECIMAL(38,0)) * u10 * u10"
    expr = S._dec_sum_bigint(term)
    df = spark.createDataFrame(
        [(3_000_000_000, 6_000_000_000)], "p long, u10 long"
    )
    df.createOrReplaceTempView("_dlg_guard_t")
    s_over = spark.sql(f"SELECT {expr} AS s FROM _dlg_guard_t").collect()[0]["s"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 3000000000::BIGINT AS p, 6000000000::BIGINT AS u10"
    )
    d_over = con.execute(f"SELECT {expr} AS s FROM t").fetchone()[0]
    assert s_over is None and d_over is None
    df2 = spark.createDataFrame([(3, 7)], "p long, u10 long")
    df2.createOrReplaceTempView("_dlg_guard_t2")
    s_in = spark.sql(f"SELECT {expr} AS s FROM _dlg_guard_t2").collect()[0]["s"]
    con.execute("CREATE TABLE t2 AS SELECT 3::BIGINT AS p, 7::BIGINT AS u10")
    d_in = con.execute(f"SELECT {expr} AS s FROM t2").fetchone()[0]
    assert s_in == d_in == 147


def test_lin_moment_guard_symmetric(spark):
    """ADVICE r11 #1: the six lin second-order moment sums must take the
    loud NULL path IDENTICALLY in both engines past int64 (x*x for a
    per-user cent sum x ~ 6e9 leaves int64 at 3.6e19 — Spark would wrap,
    DuckDB would raise) and stay exact integer in range."""
    import duckdb

    expr = S._dec_sum_bigint(S._LIN_MOM.format(a="0", u="x", v="x"))
    df = spark.createDataFrame([(0, 6_000_000_000, 0)], "arm long, x long, y long")
    df.createOrReplaceTempView("_lin_guard_t")
    s_over = spark.sql(f"SELECT {expr} AS s FROM _lin_guard_t").collect()[0]["s"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 0::BIGINT AS arm,"
        " 6000000000::BIGINT AS x, 0::BIGINT AS y"
    )
    d_over = con.execute(f"SELECT {expr} AS s FROM t").fetchone()[0]
    assert s_over is None and d_over is None
    df2 = spark.createDataFrame(
        [(0, 12, 5), (1, 100, 1)], "arm long, x long, y long"
    )
    df2.createOrReplaceTempView("_lin_guard_t2")
    s_in = spark.sql(f"SELECT {expr} AS s FROM _lin_guard_t2").collect()[0]["s"]
    con.execute(
        "CREATE TABLE t2 AS SELECT * FROM (VALUES (0::BIGINT, 12::BIGINT,"
        " 5::BIGINT), (1::BIGINT, 100::BIGINT, 1::BIGINT)) v(arm, x, y)"
    )
    d_in = con.execute(f"SELECT {expr} AS s FROM t2").fetchone()[0]
    assert s_in == d_in == 144  # arm-0 row only: 12*12


def test_bucketing_floor_consistent_pre_epoch(spark):
    """ADVICE r11 #2: the tod/day bucketing pairs must agree on
    NEGATIVE-epoch micros too, and match the Python references' floor
    semantics. Measured ground truth this fix is built on: Spark ``div``
    AND DuckDB integer ``//`` both TRUNCATE toward zero (DuckDB's
    ``-1 // 2`` is 0 despite the floor-division name) and both ``%``
    sign-follow — so both sides take the truncate-then-correct floor
    form, and non-negative buckets pair Spark ``pmod`` with the DuckDB
    add-then-re-mod."""
    import duckdb

    us_vals = [-86400000001, -86400000000, -999999, -1, 0, 1, 999999,
               86399999999, 1700000000123456]
    tod_spark = f"pmod({S._fdiv_spark('us', 1000000)}, 86400)"
    tod_duck = S._pmod_duck(S._fdiv_duck("us", 1000000), 86400)
    day_spark = S._fdiv_spark("us", 86400000000)
    day_duck = S._fdiv_duck("us", 86400000000)
    df = spark.createDataFrame([(u,) for u in us_vals], "us long")
    df.createOrReplaceTempView("_bkt_t")
    s_rows = spark.sql(
        f"SELECT {tod_spark} AS tod, {day_spark} AS day FROM _bkt_t ORDER BY us"
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({u}::BIGINT)" for u in us_vals)
        + ") v(us)"
    )
    d_rows = con.execute(
        f"SELECT {tod_duck} AS tod, {day_duck} AS day FROM t ORDER BY us"
    ).fetchall()
    py = [((u // 10**6) % 86400, u // 86400000000) for u in sorted(us_vals)]
    assert [(r["tod"], r["day"]) for r in s_rows] == d_rows == py


def test_kuiper_degenerate_single_timestamp_nulls(spark, tmp_path):
    """ADVICE r11 #3: every event at ONE timestamp makes the early half
    empty (us < mid is never true when mid == us), so the ECDF gaps must
    NULL in both engines — not Spark-NULL-vs-DuckDB-NaN."""
    import duckdb

    ts = pd.Timestamp("2024-03-01 12:00:00")
    rows = [(i, ts, i % 5, "view", 1.0, "{}") for i in range(20)]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["kuiper_tod_drift"](spark, sf).collect()[0]
    assert row["n_early"] == 0 and row["n_late"] == 20
    for c in ("d_plus", "d_minus", "kuiper_v", "p_value", "drift_at_95"):
        assert row[c] is None, c
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    orow = con.execute(plans.ORACLES["kuiper_tod_drift"]).fetchone()
    assert orow[0] == 0 and orow[1] == 20
    assert all(v is None for v in orow[2:])
