"""Queries added in round 14 (now in the family modules under plans/):
plan shape and independent Python brute-force references (cross-engine
parity proves the engines AGREE, these pin the statistics against
INTENT)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.plans import experiment_queries as S


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _round_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _rnd6(x: float) -> float:
    return _round_away(x * 1e6) / 1e6


def _erfc_poly(x: float) -> float:
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


def _load_events(sf_dir: str) -> pd.DataFrame:
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def _explain(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return jqe.explainString(mode.fromString("extended"))


def _sessions_py(pdf: pd.DataFrame):
    """Independent replication of the reference session semantics
    (30-min gap strict / 1499-event / 12-h strict): returns
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
    # The ADVICE r10 #4 rule from birth: the stream twin's shared
    # readout (battery tail + Storey) lints directly over a static
    # counts frame — the exact post-merge shape the twin feeds it.
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _ab_seg_pvalues_from_counts,
    )

    per = spark.createDataFrame(
        [(f"seg_{i}", 50 + i, 5 + i % 3, 50 - i, 9 - i % 4) for i in range(8)],
        "segment string, n0 long, c0 long, n1 long, c1 long",
    )
    p = _explain(S._storey_readout(_ab_seg_pvalues_from_counts(per)))
    bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
    assert not bad, f"storey readout lint failed: {bad}"


# --- shared battery reference --------------------------------------------------


def _battery_ref(events: pd.DataFrame) -> dict:
    """(segment -> (n0, c0, n1, c1, z, p)) replicating the factored
    _AB_SEG_P_CTES battery: pooled two-proportion z rounded 6dp, p from
    the A&S erfc polynomial on the ROUNDED z, rounded 6dp."""
    cells: dict = {}
    for eid, uid, et, v in zip(
        events["event_id"], events["user_id"], events["event_type"], events["value"]
    ):
        seg = f"{et}_{int(uid) % 4}"
        arm = int(eid) % 2
        conv = 1 if (v > 60 or (arm == 1 and et == "purchase" and v > 30)) else 0
        d = cells.setdefault(seg, [0, 0, 0, 0])
        if arm == 0:
            d[0] += 1
            d[1] += conv
        else:
            d[2] += 1
            d[3] += conv
    out = {}
    for seg, (n0, c0, n1, c1) in cells.items():
        if not (0 < c0 + c1 < n0 + n1):
            continue
        pall = (c0 + c1) / (n0 + n1)
        z = _rnd6(
            (c1 / n1 - c0 / n0)
            / math.sqrt(pall * (1 - pall) * (1.0 / n0 + 1.0 / n1))
        )
        p = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))
        out[seg] = (n0, c0, n1, c1, z, p)
    return out


# --- Storey q-values -----------------------------------------------------------


def _storey_ref(events: pd.DataFrame) -> dict:
    pv = sorted(_battery_ref(events).items(), key=lambda kv: (kv[1][5], kv[0]))
    m = len(pv)
    r_tail = sum(1 for _, t in pv if t[5] > 0.5)
    pi0 = min(1.0, r_tail / (0.5 * m))
    rows: dict = {}
    qmin = None
    for i in range(m, 0, -1):
        seg, (n0, c0, n1, c1, z, p) = pv[i - 1]
        qraw = (pi0 * m * p) / i
        qmin = qraw if qmin is None else min(qmin, qraw)
        rows[seg] = {
            "n0": n0, "c0": c0, "n1": n1, "c1": c1,
            "z_stat": z, "p_value": p, "p_rank": i,
            "pi0": _rnd6(pi0), "q_value": _rnd6(qmin),
            "rejected_q05": qmin <= 0.05,
        }
    return rows


def _assert_rows_match_ref(rows, ref, float_keys, int_keys, bool_keys):
    assert len(rows) == len(ref)
    for row in rows:
        e = ref[row["segment"]]
        for k in int_keys:
            assert row[k] == e[k], (row["segment"], k, row[k], e[k])
        for k in bool_keys:
            assert row[k] == e[k], (row["segment"], k)
        for k in float_keys:
            assert abs(row[k] - e[k]) < 2e-6, (row["segment"], k, row[k], e[k])


def test_storey_matches_python(spark, sf_small):
    ref = _storey_ref(_load_events(sf_small))
    rows = plans.QUERIES["storey_qvalue_segments"](spark, sf_small).collect()
    _assert_rows_match_ref(
        rows, ref,
        float_keys=("z_stat", "p_value", "pi0", "q_value"),
        int_keys=("n0", "c0", "n1", "c1", "p_rank"),
        bool_keys=("rejected_q05",),
    )


def test_storey_q_monotone_and_rejects_bh_superset(spark, sf_small):
    """Two structural invariants: q is non-decreasing in the p-rank, and
    because q = pi0 * (BH adjusted p) with pi0 <= 1, every segment the
    registered BH step-up rejects at 0.05 must also have q <= 0.05."""
    rows = sorted(
        plans.QUERIES["storey_qvalue_segments"](spark, sf_small).collect(),
        key=lambda r: r["p_rank"],
    )
    qs = [r["q_value"] for r in rows]
    assert qs == sorted(qs)
    assert all(r["pi0"] <= 1.0 for r in rows)
    bh = plans.QUERIES["ab_segment_bh_fdr"](spark, sf_small).collect()
    bh_rejected = {r["segment"] for r in bh if r["rejected"]}
    st_rejected = {r["segment"] for r in rows if r["rejected_q05"]}
    # (At sf0.001 the planted purchase effect is below the FDR bar and
    # both sets are empty; the subset relation is the invariant.)
    assert bh_rejected <= st_rejected, (bh_rejected, st_rejected)
    # q = pi0 * (BH-adjusted p) with pi0 <= 1: check against the BH
    # adjusted p recomputed from this query's own (p, rank, m) columns.
    m = len(rows)
    adj = None
    for r in sorted(rows, key=lambda r: -r["p_rank"]):
        cur = r["p_value"] * m / r["p_rank"]
        adj = cur if adj is None else min(adj, cur)
        assert r["q_value"] <= adj + 1e-9, (r["segment"], r["q_value"], adj)


def test_storey_all_null_battery(spark, tmp_path):
    """Every segment balanced with IDENTICAL conversion in both arms:
    z = 0 -> p = 1.0 in every segment -> pi0 clamps to 1, every q-value
    is exactly 1.0, nothing is rejected."""
    rows, eid = [], 0
    ts = pd.Timestamp("2024-04-01 10:00:00")
    for et in ("view", "click"):
        for u in range(8):  # buckets 0..3, two users each
            for conv in (True, False):
                for arm in (0, 1):
                    e = eid if (eid % 2) == arm else eid + 1
                    eid = e + 1
                    rows.append(
                        (e, ts + pd.Timedelta(seconds=e), u, et,
                         100.0 if conv else 1.0, "{}")
                    )
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    out = plans.QUERIES["storey_qvalue_segments"](spark, sf).collect()
    assert len(out) == 8
    for r in out:
        assert r["z_stat"] == 0.0 and r["p_value"] == 1.0
        assert r["pi0"] == 1.0 and r["q_value"] == 1.0
        assert r["rejected_q05"] is False


# --- Benjamini-Yekutieli ---------------------------------------------------------


def _by_ref(events: pd.DataFrame) -> dict:
    pv = sorted(_battery_ref(events).items(), key=lambda kv: (kv[1][5], kv[0]))
    m = len(pv)
    he9 = sum(_round_away(1e9 / j) for j in range(1, m + 1))
    k = 0
    for i, (_, t) in enumerate(pv, start=1):
        if t[5] * m * he9 <= i * 5e7:
            k = i
    rows = {}
    for i, (seg, (n0, c0, n1, c1, z, p)) in enumerate(pv, start=1):
        rows[seg] = {
            "n0": n0, "c0": c0, "n1": n1, "c1": c1,
            "z_stat": z, "p_value": p, "p_rank": i,
            "by_thresh": _rnd6((i * 5e-2) / (m * (he9 / 1e9))),
            "rejected": i <= k,
        }
    return rows


def test_by_matches_python(spark, sf_small):
    ref = _by_ref(_load_events(sf_small))
    rows = plans.QUERIES["benjamini_yekutieli_segments"](
        spark, sf_small
    ).collect()
    _assert_rows_match_ref(
        rows, ref,
        float_keys=("z_stat", "p_value", "by_thresh"),
        int_keys=("n0", "c0", "n1", "c1", "p_rank"),
        bool_keys=("rejected",),
    )


def test_by_rejections_subset_of_bh(spark, sf_small):
    """BY's threshold is BH's divided by H_m > 1 (m >= 2), so its
    rejection set is a subset of the registered BH step-up's."""
    by = plans.QUERIES["benjamini_yekutieli_segments"](
        spark, sf_small
    ).collect()
    bh = plans.QUERIES["ab_segment_bh_fdr"](spark, sf_small).collect()
    by_rej = {r["segment"] for r in by if r["rejected"]}
    bh_rej = {r["segment"] for r in bh if r["rejected"]}
    assert by_rej <= bh_rej
    for r in by:
        assert r["by_thresh"] <= _rnd6(r["p_rank"] * 0.05 / len(by)) + 1e-9


# --- streaming Storey twin -------------------------------------------------------


def test_stream_storey_matches_batch_python_on_half(spark, sf_small):
    pdf = _load_events(sf_small)
    ref = _storey_ref(pdf[pdf["user_id"] % 2 == 1])
    rows = plans.QUERIES["stream_storey_qvalue_monitor"](
        spark, sf_small
    ).collect()
    _assert_rows_match_ref(
        rows, ref,
        float_keys=("z_stat", "p_value", "pi0", "q_value"),
        int_keys=("n0", "c0", "n1", "c1", "p_rank"),
        bool_keys=("rejected_q05",),
    )


# --- Jarque-Bera ------------------------------------------------------------------


def _jb_ref(events: pd.DataFrame) -> dict:
    cents = [_round_away(v * 100) for v in events["value"]]
    n = len(cents)
    out: dict = {"n_events": n}
    if n < 2:
        out.update({k: None for k in
                    ("mean_cents", "skewness", "kurtosis_excess", "jb_stat",
                     "p_value")})
        return out
    s1 = sum(cents)
    d2 = float(sum(c * c for c in cents))
    d3 = float(sum(c * c * c for c in cents))
    d4 = float(sum(c * c * c * c for c in cents))
    m1 = 1.0 * s1 / n
    m2 = d2 / n - m1 * m1
    out["mean_cents"] = _rnd6(m1)
    if m2 <= 0:
        out.update({k: None for k in
                    ("skewness", "kurtosis_excess", "jb_stat", "p_value")})
        return out
    m3 = d3 / n - 3.0 * m1 * (d2 / n) + 2.0 * m1 * m1 * m1
    m4 = (d4 / n - 4.0 * m1 * (d3 / n) + 6.0 * m1 * m1 * (d2 / n)
          - 3.0 * m1 * m1 * m1 * m1)
    skew = m3 / (m2 * math.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3.0
    jb = (1.0 * n / 6.0) * (skew * skew + (kurt * kurt) / 4.0)
    out.update({
        "skewness": _rnd6(skew), "kurtosis_excess": _rnd6(kurt),
        "jb_stat": _rnd6(jb), "p_value": _rnd6(math.exp(-jb / 2.0)),
    })
    return out


def test_jarque_bera_matches_python(spark, sf_small):
    ref = _jb_ref(_load_events(sf_small))
    row = plans.QUERIES["jarque_bera_event_values"](spark, sf_small).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_jarque_bera_two_point_exact(spark, tmp_path):
    """Symmetric two-point distribution (+-100 cents, equal counts):
    skewness exactly 0, excess kurtosis exactly -2, JB = n/6 exactly,
    p = exp(-n/12) — every moment is exact integer arithmetic."""
    ts = pd.Timestamp("2024-04-01")
    rows = [(i, ts + pd.Timedelta(seconds=i), i % 5, "view",
             1.0 if i % 2 else -1.0, "{}") for i in range(40)]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["jarque_bera_event_values"](spark, sf).collect()[0]
    assert row["n_events"] == 40
    assert row["mean_cents"] == 0.0
    assert row["skewness"] == 0.0
    assert row["kurtosis_excess"] == -2.0
    assert row["jb_stat"] == _rnd6(40 / 6.0)
    assert abs(row["p_value"] - _rnd6(math.exp(-40 / 12.0))) < 2e-6


def test_jarque_bera_constant_nulls_loud(spark, tmp_path):
    ts = pd.Timestamp("2024-04-01")
    rows = [(i, ts + pd.Timedelta(seconds=i), 1, "view", 5.0, "{}")
            for i in range(10)]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["jarque_bera_event_values"](spark, sf).collect()[0]
    assert row["n_events"] == 10 and row["mean_cents"] == 500.0
    for k in ("skewness", "kurtosis_excess", "jb_stat", "p_value"):
        assert row[k] is None, k


# --- Ansari-Bradley ----------------------------------------------------------------


def _ab_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])  # v -> [c, c1]
    for uid, v in zip(events["user_id"], events["value"]):
        arm = _h48(str(uid)) % 2
        c = g[_round_away(v * 100)]
        c[0] += 1
        c[1] += arm
    nn = sum(c for c, _ in g.values())
    n1 = sum(c1 for _, c1 in g.values())
    n0 = nn - n1
    out = {"n_events": nn, "n0": n0, "n1": n1}
    cum = 0
    w2 = a1 = 0
    a2d = 0.0
    for v in sorted(g):
        c, c1 = g[v]
        r2 = 2 * cum + c + 1
        a2 = (nn + 1) - abs(r2 - (nn + 1))
        w2 += c1 * a2
        a1 += c * a2
        a2d += float(c * a2 * a2)
        cum += c
    out["w_ab_x2"] = w2
    var = ((1.0 * n0 * n1) * (nn * a2d - 1.0 * a1 * a1)) / (
        (1.0 * nn * nn) * (nn - 1)
    ) if nn >= 2 else 0.0
    if nn < 2 or n0 < 1 or n1 < 1 or var <= 0:
        out.update({"e_w_ab": None, "z_stat": None, "p_value": None})
        return out
    out["e_w_ab"] = _rnd6((1.0 * n1 * a1) / nn / 2.0)
    z = _rnd6((1.0 * w2 - (1.0 * n1 * a1) / nn) / math.sqrt(var))
    out["z_stat"] = z
    out["p_value"] = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))
    return out


def test_ansari_bradley_matches_python(spark, sf_small):
    ref = _ab_ref(_load_events(sf_small))
    row = plans.QUERIES["ansari_bradley_scale_ab"](spark, sf_small).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def _users_by_arm(n_each: int):
    """First n_each user ids hashing to each arm (the battery's h48 % 2)."""
    a0, a1, uid = [], [], 0
    while len(a0) < n_each or len(a1) < n_each:
        (a0 if _h48(str(uid)) % 2 == 0 else a1).append(uid)
        uid += 1
    return a0[:n_each], a1[:n_each]


def test_ansari_bradley_identical_arms_zero(spark, tmp_path):
    """Both arms hold the identical value multiset with equal sizes:
    W2 = A1/2 = E[W2] exactly, so z = 0.0 and p = 1.0."""
    a0, a1 = _users_by_arm(3)
    ts = pd.Timestamp("2024-04-01")
    rows, eid = [], 0
    for users in (a0, a1):
        for u, val in zip(users, (10.0, 20.0, 30.0)):
            rows.append((eid, ts + pd.Timedelta(seconds=eid), u, "view", val, "{}"))
            eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["ansari_bradley_scale_ab"](spark, sf).collect()[0]
    assert row["n0"] == 3 and row["n1"] == 3
    assert row["z_stat"] == 0.0
    assert row["p_value"] == 1.0


def test_ansari_bradley_detects_scale_difference(spark, tmp_path):
    """Arm 1 occupies the extremes (values 1 and 100), arm 0 the middle
    (49..53): arm-1 scores are minimal, W2 far below E, z strongly
    negative and significant — the one-sided direction of a genuine
    dispersion increase."""
    a0, a1 = _users_by_arm(10)
    ts = pd.Timestamp("2024-04-01")
    rows, eid = [], 0
    for i, u in enumerate(a0):
        rows.append((eid, ts + pd.Timedelta(seconds=eid), u, "view",
                     float(49 + i % 5) + 0.1 * (i // 5), "{}"))
        eid += 1
    for i, u in enumerate(a1):
        rows.append((eid, ts + pd.Timedelta(seconds=eid), u, "view",
                     1.0 if i % 2 else 100.0, "{}"))
        eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["ansari_bradley_scale_ab"](spark, sf).collect()[0]
    assert row["z_stat"] < -2.0
    assert row["p_value"] < 0.05


# --- Cox score / Mantel trend -------------------------------------------------------


def _surv_obs_ref(events: pd.DataFrame):
    """(t, censored, hr) per session — Python twin of _surv_obs_hr."""
    secs = events["ts"].astype("int64") // 10**6
    mx = int(secs.max())
    out = []
    for _, start, last in _sessions_py(events):
        out.append((last - start, (mx - last) <= 1800, (start // 3600) % 24))
    return out


def _cox_terms_ref(obs, score_fn):
    """Replicates _cox_terms' e9-quantized reduction for covariate
    x = score_fn(hr). Returns (n_death_times, o, e_e9, v_e9)."""
    from collections import defaultdict

    bytime = defaultdict(lambda: [0, 0, 0, 0, 0])  # t -> [rm, rx, rx2, d, dx]
    for t, cens, hr in obs:
        x = score_fn(hr)
        b = bytime[t]
        b[0] += 1
        b[1] += x
        b[2] += x * x
        if not cens:
            b[3] += 1
            b[4] += x
    n_all = sum(b[0] for b in bytime.values())
    sx_all = sum(b[1] for b in bytime.values())
    sx2_all = sum(b[2] for b in bytime.values())
    cum = [0, 0, 0]
    o = e_e9 = v_e9 = ndt = 0
    for t in sorted(bytime):
        rm, rx, rx2, d, dx = bytime[t]
        nr = n_all - cum[0]
        sxr = sx_all - cum[1]
        sx2r = sx2_all - cum[2]
        cum = [cum[0] + rm, cum[1] + rx, cum[2] + rx2]
        if d > 0 and nr > 0:
            ndt += 1
            o += dx
            e_e9 += _round_away(1e9 * (1.0 * d * sxr) / nr)
            if nr > 1:
                v_e9 += _round_away(
                    1e9 * ((1.0 * d * (nr - d)) / (nr - 1))
                    * ((1.0 * nr * sx2r - 1.0 * sxr * sxr) / (1.0 * nr * nr))
                )
    return ndt, o, e_e9, v_e9


def _cox_z_p(o, e_e9, v_e9):
    if v_e9 <= 0:
        z = 0.0
    else:
        z = _rnd6((1.0 * o * 1e9 - e_e9) / math.sqrt(1.0 * v_e9 * 1e9))
    return z, _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))


def test_cox_score_matches_python(spark, sf_small):
    obs = _surv_obs_ref(_load_events(sf_small))
    ndt, o, e_e9, v_e9 = _cox_terms_ref(obs, lambda hr: hr)
    z, p = _cox_z_p(o, e_e9, v_e9)
    row = plans.QUERIES["cox_ph_score_test"](spark, sf_small).collect()[0]
    assert row["n_death_times"] == ndt
    assert row["o_hours"] == o
    assert abs(row["e_hours"] - _rnd6(e_e9 / 1e9)) < 2e-6
    assert abs(row["z_stat"] - z) < 2e-6
    assert abs(row["p_value"] - p) < 2e-6


def test_cox_binary_covariate_equals_logrank(spark, tmp_path):
    """With the start hour equal to each user's hash arm (0 or 1), the
    Cox score test IS the two-arm log-rank — pinned against the
    registered query on the same corpus (tolerance 2e-6: the two
    queries quantize E and V through differently-ordered but
    mathematically identical double texts)."""
    a0, a1 = _users_by_arm(5)
    base = pd.Timestamp("2024-04-01")  # midnight -> hour 0
    rows, eid = [], 0
    for arm, users in ((0, a0), (1, a1)):
        for j, u in enumerate(users):
            start = base + pd.Timedelta(hours=arm)
            for k in range(3 + j % 2):
                rows.append((eid, start + pd.Timedelta(seconds=600 * k + 60 * j),
                             u, "view", 1.0, "{}"))
                eid += 1
    # sentinel far in the future: defines batch end; its own session is
    # censored; hour 0 = arm of a known arm-0 user id
    rows.append((eid, base + pd.Timedelta(days=30), a0[4], "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    cox = plans.QUERIES["cox_ph_score_test"](spark, sf).collect()[0]
    lr = plans.QUERIES["logrank_test_session_survival"](spark, sf).collect()[0]
    assert cox["o_hours"] == lr["o1"]
    assert abs(cox["z_stat"] - lr["z_stat"]) < 2e-6
    assert cox["n_death_times"] == lr["n_death_times"]


def _mt_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    obs = [(t, c, hr // 6) for t, c, hr in _surv_obs_ref(events)]
    ndt, o, e_e9, v_e9 = _cox_terms_ref(
        [(t, c, g) for t, c, g in obs], lambda g: g
    )
    z, p = _cox_z_p(o, e_e9, v_e9)
    # per-band O/E
    grid = defaultdict(lambda: [0, 0])  # (t, g) -> [removed, d]
    bytime = defaultdict(lambda: [0, 0])  # t -> [removed, d]
    for t, cens, g in obs:
        grid[(t, g)][0] += 1
        bytime[t][0] += 1
        if not cens:
            grid[(t, g)][1] += 1
            bytime[t][1] += 1
    n_all = sum(b[0] for b in bytime.values())
    n_g = defaultdict(int)
    for (t, g), (rm, d) in grid.items():
        n_g[g] += rm
    ob = [0] * 4
    eb_e9 = [0] * 4
    cum_t = 0
    cum_g = defaultdict(int)
    for t in sorted(bytime):
        nr = n_all - cum_t
        d_t = bytime[t][1]
        for g in range(4):
            rm_g, d_g = grid.get((t, g), (0, 0))
            ngr = n_g[g] - cum_g[g]
            ob[g] += d_g
            if d_t > 0 and nr > 0:
                eb_e9[g] += _round_away(1e9 * (1.0 * d_t * ngr) / nr)
            cum_g[g] += rm_g
        cum_t += bytime[t][0]
    out = {"n_death_times": ndt, "z_stat": z, "p_value": p}
    for g in range(4):
        out[f"o_b{g}"] = ob[g]
        out[f"e_b{g}"] = _rnd6(eb_e9[g] / 1e9)
    return out


def test_mantel_trend_matches_python(spark, sf_small):
    ref = _mt_ref(_load_events(sf_small))
    row = plans.QUERIES["mantel_logrank_trend_tod"](spark, sf_small).collect()[0]
    for k, v in ref.items():
        if isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_mantel_trend_single_band_degenerate(spark, tmp_path):
    """Every session starts in band 0: the risk-set score variance is 0
    at every death time, so z reads 0.0 (the log-rank degenerate
    convention) and band 0's E equals its O exactly."""
    base = pd.Timestamp("2024-04-01 02:00:00")  # hour 2 -> band 0
    rows, eid = [], 0
    for u in range(6):
        for k in range(3):
            rows.append((eid, base + pd.Timedelta(seconds=300 * k + 7 * u),
                         u, "view", 1.0, "{}"))
            eid += 1
    rows.append((eid, base + pd.Timedelta(days=20), 99, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["mantel_logrank_trend_tod"](spark, sf).collect()[0]
    assert row["z_stat"] == 0.0
    assert row["o_b1"] == 0 and row["o_b2"] == 0 and row["o_b3"] == 0
    assert abs(row["e_b0"] - row["o_b0"]) < 2e-6


def test_mantel_trend_detects_monotone_hazard(spark, tmp_path):
    """Sessions in higher start bands die deterministically earlier:
    early deaths carry high scores while the risk-set mean is the
    overall average, so U > 0 — z positive and significant."""
    base = pd.Timestamp("2024-04-01")  # midnight
    rows, eid = [], 0
    for u in range(16):
        band = u % 4
        start = base + pd.Timedelta(hours=6 * band + 1, seconds=13 * u)
        n_ev = 5 - band  # duration (4 - band) * 1000 s
        for k in range(n_ev):
            rows.append((eid, start + pd.Timedelta(seconds=1000 * k),
                         u, "view", 1.0, "{}"))
            eid += 1
    rows.append((eid, base + pd.Timedelta(days=20), 99, "view", 1.0, "{}"))
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["mantel_logrank_trend_tod"](spark, sf).collect()[0]
    assert row["z_stat"] > 2.0
    assert row["p_value"] < 0.05


# --- Breslow-Day ---------------------------------------------------------------------


def _bd_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    cells = defaultdict(lambda: [0, 0, 0, 0])  # stratum -> [a, b, c, d]
    for uid, et, v in zip(events["user_id"], events["event_type"],
                          events["value"]):
        g = _h48(str(uid)) % 2
        y = 1 if v > 60 else 0
        cc = cells[et]
        if g == 1 and y == 1:
            cc[0] += 1
        elif g == 1:
            cc[1] += 1
        elif y == 1:
            cc[2] += 1
        else:
            cc[3] += 1
    strata = []
    for et, (a, b, c, d) in cells.items():
        n1, n0, m1, m0 = a + b, c + d, a + c, b + d
        if n1 > 0 and n0 > 0 and m1 > 0 and m0 > 0:
            strata.append((a, n1, m1, a + b + c + d))
    k = len(strata)
    out = {"n_strata": k, "dof": k - 1}
    ad_e9 = sum(_round_away(1e9 * (1.0 * a * (nt - n1 - m1 + a)) / nt)
                for a, n1, m1, nt in strata)
    bc_e9 = sum(_round_away(1e9 * (1.0 * (n1 - a) * (m1 - a)) / nt)
                for a, n1, m1, nt in strata)
    if bc_e9 == 0:
        out.update({"or_mh": None, "x2_stat": None, "z_stat": None,
                    "p_value": None})
        return out
    psi = (1.0 * ad_e9) / bc_e9
    out["or_mh"] = _rnd6(psi)
    x2_e9 = 0
    any_null = False
    for a, n1, m1, nt in strata:
        glo = max(0.0, 1.0 * (n1 + m1 - nt))
        ghi = min(1.0 * n1, 1.0 * m1)
        if abs(psi - 1.0) < 1e-12:
            att = (psi * n1 * m1) / (psi * (n1 + m1) + 1.0 * (nt - n1 - m1))
        else:
            aa = psi - 1.0
            bb = -(psi * (n1 + m1) + 1.0 * (nt - n1 - m1))
            cc2 = psi * n1 * m1
            sq = math.sqrt(max(0.0, bb * bb - 4.0 * aa * cc2))
            rt1 = (-bb + sq) / (2.0 * aa)
            rt2 = (-bb - sq) / (2.0 * aa)
            att = rt2 if glo <= rt2 <= ghi else rt1
        if att <= glo or att >= ghi:
            any_null = True
            break
        h = (1.0 / att + 1.0 / (n1 - att) + 1.0 / (m1 - att)
             + 1.0 / (nt - n1 - m1 + att))
        x2_e9 += _round_away(1e9 * ((1.0 * a - att) * (1.0 * a - att)) * h)
    if any_null or k < 2:
        out.update({"x2_stat": None, "z_stat": None, "p_value": None})
        return out
    x2 = x2_e9 / 1e9
    out["x2_stat"] = _rnd6(x2)
    dof = k - 1
    z = _rnd6(math.sqrt(2 * x2) - math.sqrt(2.0 * dof - 1))
    out["z_stat"] = z
    half = _erfc_poly(abs(z) / math.sqrt(2.0)) / 2
    out["p_value"] = _rnd6(half) if z >= 0 else _rnd6(1 - half)
    return out


def test_breslow_day_matches_python(spark, sf_small):
    ref = _bd_ref(_load_events(sf_small))
    row = plans.QUERIES["breslow_day_or_homogeneity"](
        spark, sf_small
    ).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def _bd_events(strata_cells, a0, a1):
    """Events realizing given per-stratum 2x2 cells (a, b, c, d) with
    arm-1 users drawn from a1 and arm-0 users from a0."""
    rows, eid = [], 0
    ts = pd.Timestamp("2024-04-01")
    for et, (a, b, c, d) in strata_cells.items():
        picks = ([(a1, 100.0)] * a + [(a1, 1.0)] * b
                 + [(a0, 100.0)] * c + [(a0, 1.0)] * d)
        for i, (pool, val) in enumerate(picks):
            rows.append((eid, ts + pd.Timedelta(seconds=eid), pool[i % len(pool)],
                         et, val, "{}"))
            eid += 1
    return _events_pdf(rows)


def test_breslow_day_identical_strata_zero(spark, tmp_path):
    """Identical 2x2 in every stratum: the common OR fits each stratum
    exactly, so X^2 rounds to exactly 0.0 and or_mh is the shared OR
    (= 2*3 / (2*1) = 3)."""
    a0, a1 = _users_by_arm(4)
    cells = {et: (2, 2, 1, 3) for et in ("view", "click", "purchase")}
    sf = _write_tables(tmp_path, events=_bd_events(cells, a0, a1))
    row = plans.QUERIES["breslow_day_or_homogeneity"](spark, sf).collect()[0]
    assert row["n_strata"] == 3 and row["dof"] == 2
    assert row["or_mh"] == 3.0
    assert row["x2_stat"] == 0.0
    assert row["z_stat"] is not None


def test_breslow_day_detects_heterogeneity(spark, tmp_path):
    """Opposite odds ratios in two strata (OR = 9 vs OR = 1/9): the
    common-OR fit fails both, X^2 is large and p small — the readout
    that says the registered MH summary is NOT meaningful here."""
    a0, a1 = _users_by_arm(4)
    cells = {"view": (15, 5, 5, 15), "click": (5, 15, 15, 5)}
    sf = _write_tables(tmp_path, events=_bd_events(cells, a0, a1))
    row = plans.QUERIES["breslow_day_or_homogeneity"](spark, sf).collect()[0]
    assert row["n_strata"] == 2 and row["dof"] == 1
    assert row["x2_stat"] > 10.0
    assert row["p_value"] < 0.01


# --- streaming Jarque-Bera twin ------------------------------------------------------


def test_stream_jb_matches_batch_python_on_half(spark, sf_small):
    pdf = _load_events(sf_small)
    ref = _jb_ref(pdf[pdf["event_id"] % 2 == 1])
    row = plans.QUERIES["stream_jarque_bera_monitor"](
        spark, sf_small
    ).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


# --- Fisher-z correlation difference --------------------------------------------------


def _docs_pdf(rows):
    df = pd.DataFrame(rows, columns=["doc_id", "source", "lang", "text"])
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df.astype({"doc_id": "int64"})


def _fz_ref(docs: pd.DataFrame) -> dict:
    mom = {a: [0] * 6 for a in (0, 1)}  # n, sx, sy, sxx, sxy, syy
    for did, text, nch in zip(docs["doc_id"], docs["text"], docs["n_chars"]):
        a = _h48(str(did)) % 2
        x = int(nch)
        y = len(text.strip().split(" "))
        m = mom[a]
        m[0] += 1
        m[1] += x
        m[2] += y
        m[3] += x * x
        m[4] += x * y
        m[5] += y * y
    out = {"n_a": mom[0][0], "n_b": mom[1][0]}
    rs, zs = {}, {}
    for a in (0, 1):
        n, sx, sy, sxx, sxy, syy = mom[a]
        vx = 1.0 * n * sxx - 1.0 * sx * sx
        vy = 1.0 * n * syy - 1.0 * sy * sy
        if n < 4 or vx <= 0 or vy <= 0:
            rs[a] = None
        else:
            rs[a] = (1.0 * n * sxy - 1.0 * sx * sy) / math.sqrt(vx * vy)
        zs[a] = (
            None
            if rs[a] is None or abs(rs[a]) >= 1.0
            else 0.5 * math.log((1.0 + rs[a]) / (1.0 - rs[a]))
        )
    out["r_a"] = None if rs[0] is None else _rnd6(rs[0])
    out["r_b"] = None if rs[1] is None else _rnd6(rs[1])
    if zs[0] is None or zs[1] is None:
        out.update({"z_stat": None, "p_value": None})
        return out
    z = _rnd6(
        (zs[1] - zs[0])
        / math.sqrt(1.0 / (mom[0][0] - 3) + 1.0 / (mom[1][0] - 3))
    )
    out["z_stat"] = z
    out["p_value"] = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)))
    return out


def test_fisher_z_matches_python(spark, sf_small):
    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    ref = _fz_ref(docs)
    row = plans.QUERIES["fisher_z_corr_diff_ab"](spark, sf_small).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def _fz_docs_by_arm(n_each: int):
    """First n_each doc ids hashing to each arm."""
    a0, a1, did = [], [], 0
    while len(a0) < n_each or len(a1) < n_each:
        (a0 if _h48(str(did)) % 2 == 0 else a1).append(did)
        did += 1
    return a0[:n_each], a1[:n_each]


def _doc_of(words: int, chars_pad: int) -> str:
    """A text with exactly `words` space-split tokens and a controllable
    char count (padding widens the first token)."""
    return "x" * chars_pad + " ".join("w" for _ in range(words))


def test_fisher_z_identical_arms_zero(spark, tmp_path):
    """Both arms hold the identical (chars, tokens) point set: r_a = r_b
    exactly, so the z difference is exactly 0.0 and p = 1.0."""
    a0, a1 = _fz_docs_by_arm(5)
    rows = []
    for pool in (a0, a1):
        for i, did in enumerate(pool):
            # pad 3i + i%2 keeps (chars, tokens) correlated but NOT
            # collinear (|r| = 1 would NULL the atanh by design)
            rows.append((did, "s", "en", _doc_of(2 + i, 3 * i + (i % 2) + 1)))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["fisher_z_corr_diff_ab"](spark, sf).collect()[0]
    assert row["n_a"] == 5 and row["n_b"] == 5
    assert row["r_a"] == row["r_b"]
    assert row["z_stat"] == 0.0
    assert row["p_value"] == 1.0


def test_fisher_z_perfect_correlation_nulls_loud(spark, tmp_path):
    """|r| = 1 in one arm (chars an exact linear function of tokens):
    atanh diverges, so the readout NULLs loud instead of fabricating an
    infinite z."""
    a0, a1 = _fz_docs_by_arm(5)
    rows = []
    for i, did in enumerate(a0):  # arm 0: chars = 3*tokens exactly
        words = 2 + i
        rows.append((did, "s", "en", _doc_of(words, words + 1)))
    for i, did in enumerate(a1):  # arm 1: noisy
        rows.append((did, "s", "en", _doc_of(2 + i, (7 * i) % 5 + 1)))
    docs = _docs_pdf(rows)
    # verify the arm-0 construction really is collinear:
    # chars = pad + (2*words - 1) = (words + 1) + 2*words - 1 = 3*tokens
    sub = docs[[(_h48(str(d)) % 2) == 0 for d in docs["doc_id"]]]
    xs = sub["n_chars"].tolist()
    ys = [len(t.strip().split(" ")) for t in sub["text"]]
    assert all(x == 3 * y for x, y in zip(xs, ys))
    sf = _write_tables(tmp_path, documents=docs)
    row = plans.QUERIES["fisher_z_corr_diff_ab"](spark, sf).collect()[0]
    assert row["r_a"] == 1.0
    assert row["z_stat"] is None and row["p_value"] is None


def test_fisher_z_detects_structure_difference(spark, tmp_path):
    """Arm 0 strongly positive chars-tokens relationship, arm 1 strongly
    negative: the Fisher z difference is large and significant."""
    a0, a1 = _fz_docs_by_arm(12)
    rows = []
    for i, did in enumerate(a0):  # increasing chars with tokens (+noise)
        rows.append((did, "s", "en", _doc_of(2 + i, 4 * i + (i % 2) + 1)))
    for i, did in enumerate(a1):  # decreasing chars with tokens (+noise)
        rows.append((did, "s", "en", _doc_of(2 + i, 60 - 4 * i + (i % 2))))
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["fisher_z_corr_diff_ab"](spark, sf).collect()[0]
    assert row["r_a"] > 0.9 and row["r_b"] < -0.9
    assert row["z_stat"] < -4.0
    assert row["p_value"] < 0.001


# --- Ljung-Box ------------------------------------------------------------------------


def _lb_ref(events: pd.DataFrame) -> dict:
    from collections import Counter

    us_all = events["ts"].astype("int64")
    days = Counter(int(us) // 86400000000 for us in us_all)
    nn = len(days)
    ss = sum(days.values())
    den = float(sum((nn * c - ss) ** 2 for c in days.values()))
    out = {"n_days": nn, "dof": 7}
    t_e12 = 0
    anynull = False
    rks = {}
    for k in range(1, 8):
        numk = float(
            sum(
                (nn * days[d] - ss) * (nn * days[d + k] - ss)
                for d in days
                if d + k in days
            )
        )
        rks[k] = None if den <= 0 else numk / den
        if den <= 0 or nn <= k:
            anynull = True
        else:
            t_e12 += _round_away(1e12 * (numk / den) ** 2 / (nn - k))
    if nn <= 7 or anynull:
        out.update({k: None for k in
                    ("r_lag1", "r_lag7", "q_stat", "z_stat", "p_value")})
        return out
    q = (1.0 * nn * (nn + 2)) * (t_e12 / 1e12)
    out["r_lag1"] = _rnd6(rks[1])
    out["r_lag7"] = _rnd6(rks[7])
    out["q_stat"] = _rnd6(q)
    z = _rnd6(math.sqrt(2 * q) - math.sqrt(2.0 * 7 - 1))
    out["z_stat"] = z
    half = _erfc_poly(abs(z) / math.sqrt(2.0)) / 2
    out["p_value"] = _rnd6(half) if z >= 0 else _rnd6(1 - half)
    return out


def test_ljung_box_matches_python(spark, sf_small):
    ref = _lb_ref(_load_events(sf_small))
    row = plans.QUERIES["ljung_box_daily_autocorr"](
        spark, sf_small
    ).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_ljung_box_constant_series_nulls_loud(spark, tmp_path):
    base = pd.Timestamp("2024-04-01")
    rows, eid = [], 0
    for day in range(12):
        for j in range(5):  # exactly 5 events every day
            rows.append((eid, base + pd.Timedelta(days=day, seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["ljung_box_daily_autocorr"](spark, sf).collect()[0]
    assert row["n_days"] == 12
    for k in ("r_lag1", "r_lag7", "q_stat", "z_stat", "p_value"):
        assert row[k] is None, k


def test_ljung_box_weekly_seasonality_detected(spark, tmp_path):
    """Counts spike every 7th day over 6 weeks: r_lag7 strongly
    positive, Q far into the chi-square(7) tail."""
    base = pd.Timestamp("2024-04-01")
    rows, eid = [], 0
    for day in range(42):
        n = 30 if day % 7 == 0 else 5
        for j in range(n):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["ljung_box_daily_autocorr"](spark, sf).collect()[0]
    assert row["r_lag7"] > 0.5
    assert row["q_stat"] > 30.0
    assert row["p_value"] < 0.01


def test_ljung_box_alternating_negative_lag1(spark, tmp_path):
    base = pd.Timestamp("2024-04-01")
    rows, eid = [], 0
    for day in range(20):
        n = 20 if day % 2 == 0 else 4
        for j in range(n):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["ljung_box_daily_autocorr"](spark, sf).collect()[0]
    assert row["r_lag1"] < -0.5
    assert row["p_value"] < 0.01


# --- Bowker symmetry ---------------------------------------------------------------


def _transitions_py(pdf: pd.DataFrame):
    """Within-session consecutive event-type pairs under the reference
    session semantics (the session_markov_transitions definition)."""
    from collections import Counter

    pairs: Counter = Counter()
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    secs_all = pdf["ts"].astype("int64") // 10**6
    for uid, idx in pdf.groupby("user_id").groups.items():
        start = prev = None
        cnt = 0
        prev_type = None
        for s, et in zip(secs_all.loc[idx].tolist(),
                         pdf.loc[idx, "event_type"].tolist()):
            if start is None:
                start, prev, cnt = s, s, 1
            elif (s - prev > 1800) or (cnt + 1 >= 1500) or (s - start > 43200):
                start, prev, cnt = s, s, 1  # cut: no pair across it
            else:
                pairs[(prev_type, et)] += 1
                prev, cnt = s, cnt + 1
            prev_type = et
    return pairs


def _bw_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    pairs = _transitions_py(events)
    sym = defaultdict(lambda: [0, 0])
    for (cur, nxt), n in pairs.items():
        if cur == nxt:
            continue
        a, b = min(cur, nxt), max(cur, nxt)
        if cur < nxt:
            sym[(a, b)][0] += n
        else:
            sym[(a, b)][1] += n
    dof = len(sym)
    out = {"dof": dof,
           "n_offdiag_transitions": sum(i + j for i, j in sym.values())}
    if dof < 1:
        out.update({"x2_stat": None, "z_stat": None, "p_value": None})
        return out
    x2_e9 = sum(
        _round_away(1e9 * (1.0 * nij - nji) ** 2 / (nij + nji))
        for nij, nji in sym.values()
    )
    x2 = x2_e9 / 1e9
    out["x2_stat"] = _rnd6(x2)
    z = _rnd6(math.sqrt(2 * x2) - math.sqrt(2.0 * dof - 1))
    out["z_stat"] = z
    half = _erfc_poly(abs(z) / math.sqrt(2.0)) / 2
    out["p_value"] = _rnd6(half) if z >= 0 else _rnd6(1 - half)
    return out


def test_bowker_matches_python(spark, sf_small):
    ref = _bw_ref(_load_events(sf_small))
    row = plans.QUERIES["bowker_symmetry_transitions"](
        spark, sf_small
    ).collect()[0]
    for k, v in ref.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_bowker_symmetric_chain_zero(spark, tmp_path):
    """Every session is view -> click -> view: each user contributes one
    v->c and one c->v, the matrix is exactly symmetric, X^2 = 0.0."""
    base = pd.Timestamp("2024-04-01 09:00:00")
    rows, eid = [], 0
    for u in range(6):
        for j, et in enumerate(("view", "click", "view")):
            rows.append((eid, base + pd.Timedelta(hours=u, seconds=60 * j),
                         u, et, 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["bowker_symmetry_transitions"](spark, sf).collect()[0]
    assert row["dof"] == 1 and row["n_offdiag_transitions"] == 12
    assert row["x2_stat"] == 0.0


def test_bowker_directional_chain_detected(spark, tmp_path):
    """Every session is view -> click -> purchase (never the reverse):
    both off-diagonal pairs are one-directional, X^2 = 2n exactly
    (n = 8 users -> 16.0), p small."""
    base = pd.Timestamp("2024-04-01 09:00:00")
    rows, eid = [], 0
    for u in range(8):
        for j, et in enumerate(("view", "click", "purchase")):
            rows.append((eid, base + pd.Timedelta(hours=u, seconds=60 * j),
                         u, et, 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["bowker_symmetry_transitions"](spark, sf).collect()[0]
    assert row["dof"] == 2
    assert row["x2_stat"] == 16.0
    assert row["p_value"] < 0.01
