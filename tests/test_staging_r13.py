"""Queries added in round 13 (now in the family modules under plans/):
plan shape, probit-machinery pins, and independent Python brute-force
references (cross-engine parity proves the engines AGREE, these pin
the statistics against INTENT)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from flink_realtime_sessionize_sample_spark import plans
from flink_realtime_sessionize_sample_spark.plans import experiment_queries as EX
from flink_realtime_sessionize_sample_spark.plans import hypothesis_test_queries as HT


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _round_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _rnd6(x: float) -> float:
    return _round_away(x * 1e6) / 1e6


def _rnd4(x: float) -> float:
    return _round_away(x * 1e4) / 1e4


def _erfc_poly(x: float) -> float:
    t = 1 / (1 + 0.3275911 * x)
    return (
        (((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t
        + 0.254829592
    ) * t * math.exp(-x * x)


def _phi_py(z: float) -> float:
    if z >= 0:
        return 1.0 - 0.5 * _erfc_poly(z / math.sqrt(2.0))
    return 0.5 * _erfc_poly(-z / math.sqrt(2.0))


def _probit_py(p: float) -> float | None:
    """Independent Acklam (2003) implementation — the same published
    coefficients, written from the paper's pseudocode rather than the
    module's expression text."""
    if p is None or p <= 0.0 or p >= 1.0:
        return None
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    if p < 0.02425:
        q = math.sqrt(-2.0 * math.log(p))
        num = ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]
        den = (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
        return num / den
    if p > 1 - 0.02425:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        num = ((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]
        den = (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0
        return -num / den
    q = p - 0.5
    r = q * q
    num = ((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]
    den = ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0
    return num * q / den


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
    """The ADVICE r10 #4 rule from birth: the stream twin's shared
    readout is linted directly over a static one-row six-moment frame —
    the exact post-merge shape the twin feeds it."""
    m = spark.createDataFrame(
        [(10, 12, 1000, 1100, 200000, 230000)],
        "n0 long, n1 long, s0 long, s1 long, q0 long, q1 long",
    )
    p = _explain(EX._tost_readout(m))
    bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
    assert not bad, f"tost readout lint failed: {bad}"


# --- probit machinery --------------------------------------------------------


def test_probit_text_matches_python_both_engines(spark):
    """The shared Acklam text must agree with the independent Python
    implementation in BOTH engines across all three regions, and hit
    the canonical two-sided-0.05 value at 6dp."""
    import duckdb

    ps = [0.0005, 0.001, 0.01, 0.024, 0.025, 0.2, 0.5, 0.8, 0.975,
          0.976, 0.99, 0.999, 0.9995]
    expr = HT._probit("pq")
    df = spark.createDataFrame([(p,) for p in ps], "pq double")
    df.createOrReplaceTempView("_pb_t")
    s_rows = spark.sql(f"SELECT pq, {expr} AS z FROM _pb_t ORDER BY pq").collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({p}::DOUBLE)" for p in ps)
        + ") v(pq)"
    )
    d_rows = con.execute(f"SELECT pq, {expr} AS z FROM t ORDER BY pq").fetchall()
    for (sp, sz), (dp, dz) in zip([(r["pq"], r["z"]) for r in s_rows], d_rows):
        py = _probit_py(sp)
        assert abs(sz - py) < 1e-12, (sp, sz, py)
        assert abs(dz - py) < 1e-12, (dp, dz, py)
    # canonical value (probit(0.975) = 1.9599639845...; Acklam is within
    # ~1e-9 so the 6dp round is exact)
    z975 = [r["z"] for r in s_rows if r["pq"] == 0.975][0]
    assert _rnd6(z975) == 1.959964
    # round-trip through the erfc-poly Phi: |Phi(probit(p)) - p| stays
    # below the two approximations' combined error everywhere tested
    for p in ps:
        assert abs(_phi_py(_probit_py(p)) - p) < 5e-7, p
    # out-of-domain is loud NULL in both engines
    df2 = spark.createDataFrame([(0.0,), (1.0,), (-0.2,)], "pq double")
    df2.createOrReplaceTempView("_pb_t2")
    assert all(
        r["z"] is None
        for r in spark.sql(f"SELECT {expr} AS z FROM _pb_t2").collect()
    )


# --- BCa bootstrap -----------------------------------------------------------


def _pois_cum_py() -> list[float]:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _POIS_CUM,
    )

    return [float(c) for c in _POIS_CUM]


def _bca_ref(sf_dir: str) -> dict:
    """Brute-force replication of the full BCa spec: the registered
    Poisson-replicate machinery (hash stream included), the quantized-
    center jackknife acceleration, and the Acklam/erfc alpha mapping."""
    cum = _pois_cum_py()
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = [_round_away(v * 100) for v in orders["o_totalprice"]]
    keys = orders["o_orderkey"].tolist()
    R = 100
    sums = [[0, 0] for _ in range(R)]  # swc, sw
    for key, c in zip(keys, cents):
        for rep in range(R):
            u = _h48(f"{key}:{rep}") / 281474976710656.0
            w = 7
            for k, thr in enumerate(cum):
                if u < thr:
                    w = k
                    break
            sums[rep][0] += w * c
            sums[rep][1] += w
    means = [(_rnd4(swc / sw / 100.0), rep) for rep, (swc, sw) in enumerate(sums)]
    ranked = sorted(means)  # (mean_rep, rep) — the engine's tie-break
    n = len(cents)
    s1 = sum(cents)
    point = _rnd4(s1 / n / 100.0)
    xbarq = s1 // n
    sd2 = sum((c - xbarq) ** 2 for c in cents)
    sd3 = sum((c - xbarq) ** 3 for c in cents)
    acc = 0.0 if sd2 <= 0 else float(sd3) / (6.0 * float(sd2) * math.sqrt(float(sd2)))
    less = sum(1 for m, _ in means if m < point)
    eq = sum(1 for m, _ in means if m == point)
    pq = (2.0 * less + eq) / 200.0
    z0 = _probit_py(pq)
    out = {
        "n_replicas": R,
        "point_mean": point,
        "ci_lo": ranked[2][0],
        "ci_hi": ranked[97][0],
        "z0_bc": None if z0 is None else _rnd6(z0),
        "accel": _rnd6(acc),
    }
    if z0 is None:
        out["bca_lo"] = out["bca_hi"] = None
        return out

    def endpoint(za: float, hi: bool):
        w = z0 + za
        if abs(1.0 - acc * w) < 1e-12:
            return None
        alpha = _phi_py(z0 + w / (1.0 - acc * w))
        if hi:
            rk = min(100, max(1, math.ceil(alpha * 100.0)))
        else:
            rk = min(100, max(1, int(math.floor(alpha * 100.0)) + 1))
        return ranked[rk - 1][0]

    out["bca_lo"] = endpoint(-1.959964, hi=False)
    out["bca_hi"] = endpoint(+1.959964, hi=True)
    return out


def test_bca_matches_python(spark, sf_small):
    row = plans.QUERIES["bca_bootstrap_mean_ci"](spark, sf_small).collect()[0]
    exp = _bca_ref(sf_small)
    assert row["n_replicas"] == exp["n_replicas"]
    for k in ("point_mean", "ci_lo", "ci_hi", "bca_lo", "bca_hi"):
        assert row[k] == exp[k], (k, row[k], exp[k])
    for k in ("z0_bc", "accel"):
        if exp[k] is None:
            assert row[k] is None, k
        else:
            assert abs(row[k] - exp[k]) < 2e-6, (k, row[k], exp[k])


def test_bca_symmetric_data_zero_acceleration(spark, tmp_path):
    """Values symmetric around an integer-cent mean have an exactly-zero
    third central moment — the acceleration must be EXACTLY 0.0, and
    with a = 0 the BCa interval differs from percentile only through
    z0."""
    rows = []
    for i in range(200):
        price = 100.0 if i % 2 == 0 else 300.0
        rows.append((i + 1, price))
    orders = pd.DataFrame(rows, columns=["o_orderkey", "o_totalprice"]).astype(
        {"o_orderkey": "int64"}
    )
    sf = _write_tables(tmp_path, orders=orders)
    row = plans.QUERIES["bca_bootstrap_mean_ci"](spark, sf).collect()[0]
    assert row["accel"] == 0.0
    assert row["point_mean"] == 200.0


def test_bca_constant_data_degenerate(spark, tmp_path):
    """All orders identical: every replicate mean equals the point
    estimate, so pq = 0.5 -> z0 = 0, a = 0, and the BCa interval must
    REPRODUCE the percentile interval exactly (ranks 3/98 — which here
    are all the same constant)."""
    orders = pd.DataFrame(
        [(i + 1, 250.0) for i in range(100)],
        columns=["o_orderkey", "o_totalprice"],
    ).astype({"o_orderkey": "int64"})
    sf = _write_tables(tmp_path, orders=orders)
    row = plans.QUERIES["bca_bootstrap_mean_ci"](spark, sf).collect()[0]
    assert row["z0_bc"] == 0.0
    assert row["accel"] == 0.0
    assert row["bca_lo"] == row["ci_lo"] == 250.0
    assert row["bca_hi"] == row["ci_hi"] == 250.0


# --- two-covariate ANCOVA ----------------------------------------------------


def _a2_ref(events: pd.DataFrame) -> dict:
    # events ts stored as datetime64[us] -> int64 gives micros directly
    us_all = events["ts"].astype("int64")
    cents_all = [_round_away(v * 100) for v in events["value"]]
    mn, mx = int(us_all.min()), int(us_all.max())
    mid = (mn + mx) // 2
    per = {}
    for uid, us, c in zip(events["user_id"], us_all, cents_all):
        x1, x2, y = per.get(uid, (0, 0, 0))
        if us < mid:
            x1, x2 = x1 + c, x2 + 1
        else:
            y = y + c
        per[uid] = (x1, x2, y)
    m = {}
    for a in ("0", "1"):
        for k in ("n", "sx1", "sx2", "sy", "s11", "s12", "s22", "s1y", "s2y",
                  "syy"):
            m[k + a] = 0
    for uid, (x1, x2, y) in per.items():
        a = str(_h48(str(uid)) % 2)
        m["n" + a] += 1
        m["sx1" + a] += x1
        m["sx2" + a] += x2
        m["sy" + a] += y
        m["s11" + a] += x1 * x1
        m["s12" + a] += x1 * x2
        m["s22" + a] += x2 * x2
        m["s1y" + a] += x1 * y
        m["s2y" + a] += x2 * y
        m["syy" + a] += y * y

    def C(name, a):
        n = m["n" + a]
        pairs = {
            "11": ("s11", "sx1", "sx1"), "12": ("s12", "sx1", "sx2"),
            "22": ("s22", "sx2", "sx2"), "1y": ("s1y", "sx1", "sy"),
            "2y": ("s2y", "sx2", "sy"), "yy": ("syy", "sy", "sy"),
        }
        s, u, v = pairs[name]
        return 1.0 * m[s + a] - (1.0 * m[u + a]) * m[v + a] / n

    def betas(a):
        n = m["n" + a]
        det = C("11", a) * C("22", a) - C("12", a) * C("12", a)
        if n < 4 or det <= 0.0:
            return 0.0, 0.0
        b1 = (C("1y", a) * C("22", a) - C("2y", a) * C("12", a)) / det
        b2 = (C("2y", a) * C("11", a) - C("1y", a) * C("12", a)) / det
        return b1, b2

    n0, n1 = m["n0"], m["n1"]
    b10, b20 = betas("0")
    b11, b21 = betas("1")
    x1bp = 1.0 * (m["sx10"] + m["sx11"]) / (n0 + n1)
    x2bp = 1.0 * (m["sx20"] + m["sx21"]) / (n0 + n1)
    mu0 = 1.0 * m["sy0"] / n0 + b10 * (x1bp - 1.0 * m["sx10"] / n0) + b20 * (
        x2bp - 1.0 * m["sx20"] / n0
    )
    mu1 = 1.0 * m["sy1"] / n1 + b11 * (x1bp - 1.0 * m["sx11"] / n1) + b21 * (
        x2bp - 1.0 * m["sx21"] / n1
    )
    rss0 = C("yy", "0") - b10 * C("1y", "0") - b20 * C("2y", "0")
    rss1 = C("yy", "1") - b11 * C("1y", "1") - b21 * C("2y", "1")
    var_adj = (
        None
        if n0 < 4 or n1 < 4
        else rss0 / (n0 - 3) / n0 + rss1 / (n1 - 3) / n1
    )
    var_raw = (
        None
        if n0 < 2 or n1 < 2
        else C("yy", "0") / (n0 - 1) / n0 + C("yy", "1") / (n1 - 1) / n1
    )
    out = {
        "n_users0": n0, "n_users1": n1,
        "beta_spend0_micro": _round_away(b10 * 1e6),
        "beta_count0_micro": _round_away(b20 * 1e6),
        "beta_spend1_micro": _round_away(b11 * 1e6),
        "beta_count1_micro": _round_away(b21 * 1e6),
        "ate_raw_cents": _rnd6(1.0 * m["sy1"] / n1 - 1.0 * m["sy0"] / n0),
        "ate_adj_cents": _rnd6(mu1 - mu0),
        "se_raw": None if var_raw is None or var_raw <= 0 else _rnd6(
            math.sqrt(var_raw)
        ),
        "se_adj": None if var_adj is None or var_adj <= 0 else _rnd6(
            math.sqrt(var_adj)
        ),
        "var_reduction": None if var_raw is None or var_adj is None
        or var_raw <= 0 else _rnd6(1 - var_adj / var_raw),
        "z_stat": None if var_adj is None or var_adj <= 0 else _rnd6(
            (mu1 - mu0) / math.sqrt(var_adj)
        ),
    }
    z = out["z_stat"]
    out["p_two_sided"] = None if z is None else _rnd6(
        _erfc_poly(abs(z) / math.sqrt(2.0))
    )
    return out


def test_ancova_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _a2_ref(pdf)
    row = plans.QUERIES["lin_ancova_two_cov_ab"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_ancova_recovers_exact_two_cov_fit(spark, tmp_path):
    """Per-arm y exactly linear in (x1, x2) with DIFFERENT slopes per
    arm: slopes recover exactly, RSS = 0 so the perfect-fit SE guards
    NULL (the registered lin convention)."""
    arm1 = [u for u in range(1, 400) if _h48(str(u)) % 2 == 1][:6]
    arm0 = [u for u in range(1, 400) if _h48(str(u)) % 2 == 0][:6]
    base = pd.Timestamp("2024-01-01")
    late = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    # pre-period: user j in arm a gets j pre-events of 2.00 each ->
    # x1 = 200*j cents, x2 = j. Distinct (j, extra) combos break
    # collinearity: give every OTHER user one extra 5.00 pre-event.
    for users, (c1, c2, icpt) in ((arm1, (3, 100, 700)), (arm0, (2, -50, 400))):
        for j, uid in enumerate(users, start=1):
            for _ in range(j):
                rows.append((eid, base + pd.Timedelta(seconds=eid), uid,
                             "view", 2.0, "{}")); eid += 1
            if j % 2 == 0:
                rows.append((eid, base + pd.Timedelta(seconds=eid), uid,
                             "view", 5.0, "{}")); eid += 1
    # post-period: one event worth exactly icpt + c1*x1 + c2*x2 cents
    pdf0 = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"]
    )
    pre = {}
    for uid, v in zip(pdf0["user_id"], pdf0["value"]):
        x1, x2 = pre.get(uid, (0, 0))
        pre[uid] = (x1 + _round_away(v * 100), x2 + 1)
    for users, (c1, c2, icpt) in ((arm1, (3, 100, 700)), (arm0, (2, -50, 400))):
        for uid in users:
            x1, x2 = pre[uid]
            ycents = icpt + c1 * x1 + c2 * x2
            rows.append((eid, late + pd.Timedelta(seconds=eid), uid,
                         "purchase", ycents / 100.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["lin_ancova_two_cov_ab"](spark, sf).collect()[0]
    assert row["beta_spend1_micro"] == 3_000_000
    assert row["beta_count1_micro"] == 100_000_000
    assert row["beta_spend0_micro"] == 2_000_000
    assert row["beta_count0_micro"] == -50_000_000
    assert row["se_adj"] is None and row["z_stat"] is None  # RSS = 0
    assert row["se_raw"] is not None


def test_ancova_collinear_falls_back_to_zero_slopes(spark, tmp_path):
    """Every pre-event worth exactly 2.00 makes x1 = 200*x2 for every
    user — exactly collinear covariates, det = 0 on exact integer
    moments -> both slopes 0 and ate_adj == ate_raw (the documented
    no-op fallback)."""
    arm1 = [u for u in range(1, 400) if _h48(str(u)) % 2 == 1][:5]
    arm0 = [u for u in range(1, 400) if _h48(str(u)) % 2 == 0][:5]
    base = pd.Timestamp("2024-01-01")
    late = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    for users, post in ((arm1, 9.0), (arm0, 4.0)):
        for j, uid in enumerate(users, start=1):
            for _ in range(j):
                rows.append((eid, base + pd.Timedelta(seconds=eid), uid,
                             "view", 2.0, "{}")); eid += 1
            rows.append((eid, late + pd.Timedelta(seconds=eid), uid,
                         "purchase", post + j, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["lin_ancova_two_cov_ab"](spark, sf).collect()[0]
    assert row["beta_spend0_micro"] == 0 and row["beta_count0_micro"] == 0
    assert row["beta_spend1_micro"] == 0 and row["beta_count1_micro"] == 0
    assert row["ate_adj_cents"] == row["ate_raw_cents"]


# --- alpha-spending group-sequential -----------------------------------------


def _gs_ref(events: pd.DataFrame) -> list[dict]:
    us_all = events["ts"].astype("int64")
    cents_all = [_round_away(v * 100) for v in events["value"]]
    mn, mx = int(us_all.min()), int(us_all.max())
    looks = {}
    for uid, us, c in zip(events["user_id"], us_all, cents_all):
        lk = (4 * (int(us) - mn)) // (mx - mn + 1) + 1
        a = _h48(str(uid)) % 2
        d = looks.setdefault(lk, [0, 0, 0, 0, 0, 0])
        if a == 0:
            d[0] += 1; d[2] += c; d[4] += c * c
        else:
            d[1] += 1; d[3] += c; d[5] += c * c
    cum = []
    acc = [0] * 6
    for lk in sorted(looks):
        acc = [a + b for a, b in zip(acc, looks[lk])]
        cum.append((lk, list(acc)))
    ntot = cum[-1][1][0] + cum[-1][1][1]
    out, f_prev = [], (0.0, 0.0)
    for lk, (n0, n1, s0, s1, q0, q1) in cum:
        t_e6 = _round_away(1e6 * (n0 + n1) / ntot)
        tf = t_e6 / 1e6
        if tf >= 1.0:
            f_obf = f_poc = 0.05
        else:
            f_obf = min(0.05, _erfc_poly(1.959964 / math.sqrt(2.0 * tf)))
            f_poc = min(0.05, 0.05 * math.log(1.0 + 1.718281828459045 * tf))
        i_obf, i_poc = f_obf - f_prev[0], f_poc - f_prev[1]
        f_prev = (f_obf, f_poc)
        zb_obf = None if i_obf <= 0 else _probit_py(1.0 - i_obf / 2.0)
        zb_poc = None if i_poc <= 0 else _probit_py(1.0 - i_poc / 2.0)
        vn0 = 1.0 * n0 * q0 - 1.0 * s0 * s0
        vn1 = 1.0 * n1 * q1 - 1.0 * s1 * s1
        if n0 < 2 or n1 < 2 or vn0 <= 0 or vn1 <= 0:
            z_micro = 0
        else:
            se = math.sqrt(
                vn1 / (1.0 * n1 * n1 * (n1 - 1)) + vn0 / (1.0 * n0 * n0 * (n0 - 1))
            )
            z_micro = _round_away(1e6 * (1.0 * s1 / n1 - 1.0 * s0 / n0) / se)
        out.append({
            "look": lk, "n0": n0, "n1": n1, "t_info": tf,
            "alpha_spent_obf": _rnd6(f_obf),
            "alpha_spent_pocock": _rnd6(f_poc),
            "z_bound_obf": None if zb_obf is None else _rnd6(zb_obf),
            "z_bound_pocock": None if zb_poc is None else _rnd6(zb_poc),
            "z_stat": _rnd6(z_micro / 1e6),
            "crossed_obf": None if zb_obf is None
            else abs(z_micro) >= _round_away(zb_obf * 1e6),
            "crossed_pocock": None if zb_poc is None
            else abs(z_micro) >= _round_away(zb_poc * 1e6),
        })
    return out


def test_alpha_spending_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _gs_ref(pdf)
    rows = sorted(
        plans.QUERIES["alpha_spending_gst_ab"](spark, sf_small).collect(),
        key=lambda r: r["look"],
    )
    assert len(rows) == len(exp)
    for row, e in zip(rows, exp):
        for k, v in e.items():
            if v is None:
                assert row[k] is None, (k, row["look"])
            elif isinstance(v, bool):
                assert row[k] == v, (k, row["look"])
            elif isinstance(v, int):
                assert row[k] == v, (k, row["look"], row[k], v)
            else:
                assert abs(row[k] - v) < 2e-6, (k, row["look"], row[k], v)


def test_alpha_spending_single_look_is_fixed_sample(spark, tmp_path):
    """Every event at one timestamp -> ONE look at t = 1: the whole
    alpha budget is spent at once and BOTH boundaries must equal the
    fixed-sample two-sided critical value 1.959964 exactly at 6dp (the
    K = 1 exactness of the independent-increments construction)."""
    ts = pd.Timestamp("2024-03-01 12:00:00")
    rows = [(i, ts, i % 10, "view", float(1 + i % 7), "{}") for i in range(40)]
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    rows_out = plans.QUERIES["alpha_spending_gst_ab"](spark, sf).collect()
    assert len(rows_out) == 1
    r = rows_out[0]
    assert r["look"] == 1 and r["t_info"] == 1.0
    assert r["alpha_spent_obf"] == 0.05
    assert r["alpha_spent_pocock"] == 0.05
    assert r["z_bound_obf"] == 1.959964
    assert r["z_bound_pocock"] == 1.959964


def test_alpha_spending_monotone_and_exhausted(spark, sf_small):
    """Cumulative spend is non-decreasing in the look index for both
    families, ends at exactly alpha = 0.05, and the OBF-like boundary
    is strictly decreasing (the hallmark strict-early shape)."""
    rows = sorted(
        plans.QUERIES["alpha_spending_gst_ab"](spark, sf_small).collect(),
        key=lambda r: r["look"],
    )
    obf = [r["alpha_spent_obf"] for r in rows]
    poc = [r["alpha_spent_pocock"] for r in rows]
    assert obf == sorted(obf) and poc == sorted(poc)
    assert obf[-1] == 0.05 and poc[-1] == 0.05
    zb = [r["z_bound_obf"] for r in rows]
    assert all(a > b for a, b in zip(zb, zb[1:]))


def test_gs_q_guard_symmetric_past_int64(spark):
    """ADVICE r12 #1: the alpha-spending squared-cent look partials sum
    in DECIMAL(38,0) (per-row product promoted first, the DeLong rule)
    and the CUMULATIVE total converts to int64 through the symmetric
    guard — past int64 BOTH engines read NULL (the raw BIGINT cast was
    asymmetric: Spark wraps silently, DuckDB raises), in range both read
    the exact integer."""
    import duckdb

    dq = EX._GS_DQ.format(a=0)
    wq = EX._GS_WQ.format(a=0)
    inner = "SELECT look, {dq} AS dq0 FROM {t} GROUP BY look"
    outer = f"SELECT look, {wq} AS q0 FROM ({{g}}) g ORDER BY look"
    # cents = 4e9 -> cents^2 = 1.6e19 > int64 max at look 1; the
    # cumulative total at look 2 is still past int64 (propagates).
    rows = [(1, 0, 4_000_000_000), (2, 0, 3)]
    df = spark.createDataFrame(rows, "look long, arm long, cents long")
    df.createOrReplaceTempView("_gsq_t")
    s = spark.sql(
        outer.format(g=inner.format(dq=dq, t="_gsq_t"))
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1::BIGINT, 0::BIGINT,"
        " 4000000000::BIGINT), (2::BIGINT, 0::BIGINT, 3::BIGINT))"
        " v(look, arm, cents)"
    )
    d = con.execute(outer.format(g=inner.format(dq=dq, t="t"))).fetchall()
    assert s[0]["q0"] is None and d[0][1] is None
    assert s[1]["q0"] is None and d[1][1] is None
    # in range: exact integers, identical in both engines
    df2 = spark.createDataFrame(
        [(1, 0, 5), (2, 0, 3), (2, 1, 7)], "look long, arm long, cents long"
    )
    df2.createOrReplaceTempView("_gsq_t2")
    s2 = spark.sql(
        outer.format(g=inner.format(dq=dq, t="_gsq_t2"))
    ).collect()
    con.execute(
        "CREATE TABLE t2 AS SELECT * FROM (VALUES (1::BIGINT, 0::BIGINT,"
        " 5::BIGINT), (2::BIGINT, 0::BIGINT, 3::BIGINT),"
        " (2::BIGINT, 1::BIGINT, 7::BIGINT)) v(look, arm, cents)"
    )
    d2 = con.execute(outer.format(g=inner.format(dq=dq, t="t2"))).fetchall()
    assert [r["q0"] for r in s2] == [r[1] for r in d2] == [25, 34]


# --- TOST equivalence --------------------------------------------------------


def _tost_ref(events: pd.DataFrame) -> dict:
    cents_all = [_round_away(v * 100) for v in events["value"]]
    m = {"n0": 0, "n1": 0, "s0": 0, "s1": 0, "q0": 0, "q1": 0}
    for uid, c in zip(events["user_id"], cents_all):
        a = str(_h48(str(uid)) % 2)
        m["n" + a] += 1
        m["s" + a] += c
        m["q" + a] += c * c
    n0, n1, s0, s1, q0, q1 = (m[k] for k in ("n0", "n1", "s0", "s1", "q0", "q1"))
    vn0 = 1.0 * n0 * q0 - 1.0 * s0 * s0
    vn1 = 1.0 * n1 * q1 - 1.0 * s1 * s1
    out = {"n0": n0, "n1": n1,
           "mean0_cents": None if n0 < 1 else _rnd6(1.0 * s0 / n0),
           "mean1_cents": None if n1 < 1 else _rnd6(1.0 * s1 / n1)}
    if n0 < 2 or n1 < 2 or vn0 <= 0 or vn1 <= 0:
        out.update({"diff_cents": _rnd6(1.0 * s1 / n1 - 1.0 * s0 / n0),
                    "margin_cents": _rnd6(0.05 * abs(1.0 * (s0 + s1)) / (n0 + n1)),
                    "z_lower": None, "z_upper": None,
                    "p_tost": None, "equivalent_at_95": None})
        return out
    diff = 1.0 * s1 / n1 - 1.0 * s0 / n0
    delta = 0.05 * abs(1.0 * (s0 + s1)) / (n0 + n1)
    se = math.sqrt(vn1 / (1.0 * n1 * n1 * (n1 - 1)) + vn0 / (1.0 * n0 * n0 * (n0 - 1)))
    zl_micro = _round_away(1e6 * (diff + delta) / se)
    zu_micro = _round_away(1e6 * (delta - diff) / se)

    def p_up(z):
        return _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)) / 2) if z >= 0 \
            else _rnd6(1 - _erfc_poly(abs(z) / math.sqrt(2.0)) / 2)

    pl, pu = p_up(zl_micro / 1e6), p_up(zu_micro / 1e6)
    out.update({"diff_cents": _rnd6(diff), "margin_cents": _rnd6(delta),
                "z_lower": _rnd6(zl_micro / 1e6), "z_upper": _rnd6(zu_micro / 1e6),
                "p_tost": max(pl, pu), "equivalent_at_95": max(pl, pu) < 0.05})
    return out


def test_tost_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _tost_ref(pdf)
    row = plans.QUERIES["tost_equivalence_ab"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, (bool, int)):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_tost_identical_arms_equivalent(spark, tmp_path):
    """Mirror-identical arms with plenty of data: diff = 0, the margin
    is 5% of the mean, and with tight SEs both one-sided tests reject —
    equivalence demonstrated."""
    arm1 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 1][:40]
    arm0 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 0][:40]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for u1, u0 in zip(arm1, arm0):
        for j in range(25):
            v = float(10 + (j % 5))
            rows.append((eid, base + pd.Timedelta(seconds=eid), u1, "view", v, "{}")); eid += 1
            rows.append((eid, base + pd.Timedelta(seconds=eid), u0, "view", v, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["tost_equivalence_ab"](spark, sf).collect()[0]
    assert row["diff_cents"] == 0.0
    assert row["equivalent_at_95"] is True
    assert row["p_tost"] < 0.05


def test_tost_separated_arms_not_equivalent(spark, tmp_path):
    """Arms 2x apart: the difference dwarfs the 5% margin — TOST must
    NOT declare equivalence (p_tost ~ 1)."""
    arm1 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 1][:30]
    arm0 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 0][:30]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for u1, u0 in zip(arm1, arm0):
        for j in range(10):
            rows.append((eid, base + pd.Timedelta(seconds=eid), u1, "view",
                         float(200 + j % 3), "{}")); eid += 1
            rows.append((eid, base + pd.Timedelta(seconds=eid), u0, "view",
                         float(100 + j % 3), "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["tost_equivalence_ab"](spark, sf).collect()[0]
    assert row["equivalent_at_95"] is False
    assert row["p_tost"] > 0.5


# --- Fligner-Killeen ---------------------------------------------------------


def _docs_pdf(rows):
    df = pd.DataFrame(rows, columns=["doc_id", "source", "lang", "text"])
    df["n_chars"] = df["text"].str.len().astype("int64")
    df["n_words"] = df["text"].str.split().str.len().astype("int64")
    return df.astype({"doc_id": "int64"})


def _fk_ref(docs: pd.DataFrame) -> dict:
    from collections import Counter, defaultdict

    groups = defaultdict(list)
    for s, n in zip(docs["source"], docs["n_chars"]):
        groups[s].append(int(n))
    devs_by_group = {}
    for s, vals in groups.items():
        vals.sort()
        nj = len(vals)
        # LOW median: smallest v with 2*cum >= nj over the value grid
        cnt = Counter(vals)
        cum, med = 0, None
        for v in sorted(cnt):
            cum += cnt[v]
            if 2 * cum >= nj:
                med = v
                break
        devs_by_group[s] = [abs(v - med) for v in vals]
    pooled = Counter()
    for s, ds in devs_by_group.items():
        pooled.update(ds)
    nn = sum(pooled.values())
    cum = 0
    r2 = {}
    for d in sorted(pooled):
        c = pooled[d]
        r2[d] = 2 * cum + c + 1
        cum += c
    aq = {d: _round_away(1e6 * _probit_py(0.5 + r2[d] / (4.0 * (nn + 1))))
          for d in pooled}
    sat = sum(pooled[d] * aq[d] for d in pooled)
    sq = sum(pooled[d] * aq[d] * aq[d] for d in pooled)
    k = len(groups)
    sum_e6 = 0
    for s, ds in devs_by_group.items():
        nj = len(ds)
        saj = float(sum(aq[d] for d in ds))
        devj = saj - nj * (float(sat) / nn)
        sum_e6 += _round_away(devj * devj / (nj * 1e6))
    vv = ((float(sq) - float(sat) * sat / nn) / (nn - 1)) / 1e12
    if nn < 3 or k < 2 or vv <= 0:
        x2 = None
    else:
        x2 = (sum_e6 / 1e6) / vv
    dof = k - 1
    z = None if x2 is None else _rnd6(math.sqrt(2 * x2) - math.sqrt(2.0 * dof - 1))
    p = None if z is None else (
        _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)) / 2) if z >= 0
        else _rnd6(1 - _erfc_poly(abs(z) / math.sqrt(2.0)) / 2)
    )
    return {"n_docs": nn, "n_groups": k, "dof": dof,
            "x2_stat": None if x2 is None else _rnd6(x2),
            "z_stat": z, "p_value": p}


def test_fligner_killeen_matches_python(spark, sf_small):
    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _fk_ref(docs)
    row = plans.QUERIES["fligner_killeen_scale_by_source"](
        spark, sf_small
    ).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_fligner_killeen_identical_dispersion_zero(spark, tmp_path):
    """Two sources whose deviation multisets are IDENTICAL (same shape,
    shifted location): per-group mean scores coincide exactly and the
    statistic must be EXACTLY 0 — FK is location-free by construction."""
    rows = []
    did = 0
    for j in range(12):
        ln_a = 100 + (j % 3) * 10     # lengths 100/110/120
        ln_b = 500 + (j % 3) * 10     # same spread, shifted
        rows.append((did, "src_a", "en", "x" * ln_a)); did += 1
        rows.append((did, "src_b", "en", "x" * ln_b)); did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["fligner_killeen_scale_by_source"](
        spark, sf
    ).collect()[0]
    assert row["n_groups"] == 2
    assert row["x2_stat"] == 0.0


def test_fligner_killeen_detects_scale_difference(spark, tmp_path):
    """One tight source vs one wildly-dispersed source: the statistic
    must be large and the one-sided p small."""
    rows = []
    did = 0
    for j in range(30):
        rows.append((did, "tight", "en", "x" * 200)); did += 1
        rows.append((did, "wide", "en", "x" * (50 + (j * 37) % 400))); did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["fligner_killeen_scale_by_source"](
        spark, sf
    ).collect()[0]
    assert row["x2_stat"] is not None and row["x2_stat"] > 10
    assert row["p_value"] < 0.01


# --- Hodges-Lehmann ----------------------------------------------------------


def _hl_ref(events: pd.DataFrame) -> dict:
    from collections import Counter

    c0, c1 = Counter(), Counter()
    for uid, v in zip(events["user_id"], events["value"]):
        cents = _round_away(v * 100)
        (c1 if _h48(str(uid)) % 2 == 1 else c0)[cents] += 1
    n0, n1 = sum(c0.values()), sum(c1.values())
    out = {"n0": n0, "n1": n1, "n_pairs": n0 * n1}
    if n0 < 1 or n1 < 1:
        out.update({"hl_shift_cents": None, "ci_lo_cents": None,
                    "ci_hi_cents": None})
        return out
    diffs = Counter()
    for a, ca in c1.items():
        for b, cb in c0.items():
            diffs[a - b] += ca * cb
    t = n0 * n1
    k = max(1, int(math.floor(t / 2.0
                              - 1.959964 * math.sqrt(t * (n0 + n1 + 1) / 12.0))))
    cum, hl, lo, hi = 0, None, None, None
    for d in sorted(diffs):
        cum += diffs[d]
        if hl is None and 2 * cum >= t:
            hl = d
        if lo is None and cum >= k:
            lo = d
        if hi is None and cum >= t + 1 - k:
            hi = d
    out.update({"hl_shift_cents": hl, "ci_lo_cents": lo, "ci_hi_cents": hi})
    return out


def test_hodges_lehmann_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _hl_ref(pdf)
    row = plans.QUERIES["hodges_lehmann_shift_ab"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        assert row[k] == v, (k, row[k], v)


def test_hodges_lehmann_pure_shift_recovered(spark, tmp_path):
    """Arm 1 is arm 0 shifted by exactly +7.50: every pairwise
    difference distribution is symmetric around 750 cents and the HL
    estimate must be EXACTLY 750, with the CI containing it."""
    arm1 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 1][:20]
    arm0 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 0][:20]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for u1, u0 in zip(arm1, arm0):
        for j in range(15):
            v = float(10 + (j % 5))
            rows.append((eid, base + pd.Timedelta(seconds=eid), u0, "view",
                         v, "{}")); eid += 1
            rows.append((eid, base + pd.Timedelta(seconds=eid), u1, "view",
                         v + 7.5, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["hodges_lehmann_shift_ab"](spark, sf).collect()[0]
    assert row["hl_shift_cents"] == 750
    assert row["ci_lo_cents"] <= 750 <= row["ci_hi_cents"]


def test_hodges_lehmann_identical_arms_zero(spark, tmp_path):
    """Mirror-identical arms: the difference distribution is symmetric
    around 0 and the LOW median must be <= 0 with 0 inside the CI (and
    exactly 0 when the pair count at 0 crosses the midpoint)."""
    arm1 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 1][:10]
    arm0 = [u for u in range(1, 2000) if _h48(str(u)) % 2 == 0][:10]
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for u1, u0 in zip(arm1, arm0):
        for j in range(20):
            v = float(50)
            rows.append((eid, base + pd.Timedelta(seconds=eid), u0, "view",
                         v, "{}")); eid += 1
            rows.append((eid, base + pd.Timedelta(seconds=eid), u1, "view",
                         v, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["hodges_lehmann_shift_ab"](spark, sf).collect()[0]
    assert row["hl_shift_cents"] == 0
    assert row["ci_lo_cents"] == 0 and row["ci_hi_cents"] == 0


# --- Page trend test ---------------------------------------------------------


def _pg_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    us_all = events["ts"].astype("int64")
    cells = defaultdict(lambda: [0, 0])  # (type, band) -> [s, n]
    for et, us, v in zip(events["event_type"], us_all, events["value"]):
        band = ((int(us) // 1000000 // 3600) % 24) // 6
        c = cells[(et, band)]
        c[0] += _round_away(v * 100)
        c[1] += 1
    bands_sorted = sorted({b for _, b in cells})
    kk = len(bands_sorted)
    # Dense coefficient: position of the band among observed bands
    # (1..kk), matching the contiguous-1..k Page formulas (ADVICE r12 #2).
    jmap = {b: j for j, b in enumerate(bands_sorted, start=1)}
    by_type = defaultdict(dict)
    for (et, b), (s, n) in cells.items():
        by_type[et][b] = (s, n)
    blocks = {et: d for et, d in by_type.items() if len(d) == kk}
    l_stat, nb = 0, len(blocks)
    for et, d in blocks.items():
        order = sorted(d.items(), key=lambda kv: (kv[1][0] / kv[1][1], kv[0]))
        for r, (b, _) in enumerate(order, start=1):
            l_stat += jmap[b] * r
    out = {"n_blocks": nb, "k_bands": kk, "l_stat": l_stat}
    if nb < 1 or kk < 2:
        out.update({"e_l": None, "z_stat": None, "p_value": None})
        return out
    e_l = nb * kk * (kk + 1) ** 2 / 4.0
    var = nb * kk * kk * (kk + 1) * (kk * kk - 1) / 144.0
    z_micro = _round_away(1e6 * (l_stat - e_l) / math.sqrt(var))
    z = z_micro / 1e6
    p = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)) / 2) if z >= 0 \
        else _rnd6(1 - _erfc_poly(abs(z) / math.sqrt(2.0)) / 2)
    out.update({"e_l": _rnd6(e_l), "z_stat": _rnd6(z), "p_value": p})
    return out


def test_page_trend_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _pg_ref(pdf)
    row = plans.QUERIES["page_trend_test_tod"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_page_trend_perfect_monotone(spark, tmp_path):
    """Means strictly increasing across the four bands inside every
    block: every block ranks 1..4 in band order, so L hits its exact
    maximum b * sum(j^2) = 30b and the one-sided p is small."""
    base = pd.Timestamp("2024-01-01")  # midnight UTC
    rows, eid = [], 0
    for et in ("view", "click", "purchase"):
        for band in range(4):
            for j in range(5):
                ts = base + pd.Timedelta(hours=6 * band + 1, seconds=eid % 30)
                rows.append((eid, ts, eid % 7, et, float(10 * (band + 1)), "{}"))
                eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["page_trend_test_tod"](spark, sf).collect()[0]
    assert row["n_blocks"] == 3 and row["k_bands"] == 4
    assert row["l_stat"] == 90  # 3 blocks x sum j^2 = 3 x 30
    assert row["p_value"] < 0.01


def test_page_trend_anti_monotone(spark, tmp_path):
    """Means strictly DECREASING across bands: L hits its exact minimum
    b * sum(j (k+1-j)) = 20b and the one-sided (increasing) p is ~1."""
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for et in ("view", "click"):
        for band in range(4):
            for j in range(5):
                ts = base + pd.Timedelta(hours=6 * band + 1, seconds=eid % 30)
                rows.append((eid, ts, eid % 7, et, float(10 * (4 - band)), "{}"))
                eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["page_trend_test_tod"](spark, sf).collect()[0]
    assert row["l_stat"] == 40  # 2 blocks x 20
    assert row["p_value"] > 0.95


def test_page_trend_absent_band_dense_coefficients(spark, tmp_path):
    """ADVICE r12 #2: with a 6h band absent corpus-wide (no events in
    hours 6-11 -> bands {0,2,3}, k=3) the Page coefficients must be the
    DENSE positions {1,2,3}, not the raw {1,3,4} — a perfect monotone
    rise across the three observed bands hits L's exact maximum for
    k=3: b * sum(j^2) = 14b. The Python reference shares the dense map,
    so the parity test covers the grid too."""
    base = pd.Timestamp("2024-01-01")  # midnight UTC
    rows, eid = [], 0
    for et in ("view", "click"):
        for pos, band in enumerate((0, 2, 3)):  # band 1 absent everywhere
            for j in range(5):
                ts = base + pd.Timedelta(hours=6 * band + 1, seconds=eid % 30)
                rows.append((eid, ts, eid % 7, et, float(10 * (pos + 1)), "{}"))
                eid += 1
    pdf = _events_pdf(rows)
    sf = _write_tables(tmp_path, events=pdf)
    row = plans.QUERIES["page_trend_test_tod"](spark, sf).collect()[0]
    assert row["k_bands"] == 3 and row["n_blocks"] == 2
    assert row["l_stat"] == 28  # 2 blocks x sum(j^2) = 2 x 14
    assert row["p_value"] < 0.05
    exp = _pg_ref(pdf.assign(ts=pdf["ts"].astype("datetime64[us]")))
    assert exp["l_stat"] == 28 and exp["k_bands"] == 3


# --- Wilcoxon signed-rank ----------------------------------------------------


def _ws_ref(events: pd.DataFrame) -> dict:
    from collections import Counter, defaultdict

    us_all = events["ts"].astype("int64")
    mn, mx = int(us_all.min()), int(us_all.max())
    mid = (mn + mx) // 2
    per = defaultdict(int)
    for uid, us, v in zip(events["user_id"], us_all, events["value"]):
        c = _round_away(v * 100)
        per[uid] += c if us >= mid else -c
    n_users = len(per)
    nz = [(abs(d), 1 if d > 0 else 0) for d in per.values() if d != 0]
    out = {"n_users": n_users, "n_nonzero": len(nz)}
    if not nz:
        out.update({"w_plus": None, "e_w": None, "z_stat": None,
                    "p_two_sided": None})
        return out
    cnt, cp = Counter(), Counter()
    for ad, pos in nz:
        cnt[ad] += 1
        cp[ad] += pos
    cum, w2p, tt = 0, 0, 0
    for ad in sorted(cnt):
        c = cnt[ad]
        r2 = 2 * cum + c + 1
        w2p += cp[ad] * r2
        tt += c ** 3 - c
        cum += c
    n = len(nz)
    var = (1.0 * n * (n + 1)) * (2.0 * n + 1) / 6.0 - tt / 12.0
    if var <= 0:
        out.update({"w_plus": w2p / 2.0, "e_w": _rnd6(n * (n + 1) / 4.0),
                    "z_stat": None, "p_two_sided": None})
        return out
    z_micro = _round_away(1e6 * (w2p - 1.0 * n * (n + 1) / 2.0) / math.sqrt(var))
    z = z_micro / 1e6
    out.update({
        "w_plus": w2p / 2.0,
        "e_w": _rnd6(n * (n + 1) / 4.0),
        "z_stat": _rnd6(z),
        "p_two_sided": _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    })
    return out


def test_wilcoxon_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _ws_ref(pdf)
    row = plans.QUERIES["wilcoxon_signed_rank_prepost"](
        spark, sf_small
    ).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_wilcoxon_all_positive_is_max(spark, tmp_path):
    """Every user spends strictly more post-midpoint: W+ hits its exact
    maximum n(n+1)/2 and the two-sided p is small."""
    base = pd.Timestamp("2024-01-01")
    late = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    for uid in range(1, 21):
        rows.append((eid, base + pd.Timedelta(seconds=eid), uid, "view",
                     10.0, "{}")); eid += 1
        rows.append((eid, late + pd.Timedelta(seconds=eid), uid, "purchase",
                     10.0 + uid, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["wilcoxon_signed_rank_prepost"](
        spark, sf
    ).collect()[0]
    n = row["n_nonzero"]
    assert n == 20
    assert row["w_plus"] == n * (n + 1) / 2.0
    assert row["p_two_sided"] < 0.01


def test_wilcoxon_mirror_pairs_zero(spark, tmp_path):
    """Half the users gain +d, a mirrored half loses -d at the same
    magnitudes: W+ is exactly half the rank total, z = 0, p = 1."""
    base = pd.Timestamp("2024-01-01")
    late = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    for j in range(1, 11):
        up, dn = 100 + 2 * j, 101 + 2 * j
        rows.append((eid, base + pd.Timedelta(seconds=eid), up, "view",
                     10.0, "{}")); eid += 1
        rows.append((eid, late + pd.Timedelta(seconds=eid), up, "view",
                     10.0 + j, "{}")); eid += 1
        rows.append((eid, base + pd.Timedelta(seconds=eid), dn, "view",
                     10.0 + j, "{}")); eid += 1
        rows.append((eid, late + pd.Timedelta(seconds=eid), dn, "view",
                     10.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["wilcoxon_signed_rank_prepost"](
        spark, sf
    ).collect()[0]
    assert row["n_nonzero"] == 20
    assert row["z_stat"] == 0.0
    assert row["p_two_sided"] == 1.0


# --- Bartlett ----------------------------------------------------------------


def _bl_ref(docs: pd.DataFrame) -> dict:
    from collections import defaultdict

    groups = defaultdict(list)
    for src, n in zip(docs["source"], docs["n_chars"]):
        groups[src].append(int(n))
    k = len(groups)
    nn = sum(len(v) for v in groups.values())
    t6 = v6 = i9 = 0
    any_bad = 0
    for vals in groups.values():
        n = len(vals)
        s = sum(vals)
        q = sum(v * v for v in vals)
        num = 1.0 * q - (1.0 * s) * s / n
        if n < 2 or num <= 0:
            any_bad = 1
            continue
        t6 += _round_away(1e6 * (n - 1) * math.log(num / (n - 1)))
        v6 += _round_away(1e6 * num)
        i9 += _round_away(1e9 / (1.0 * (n - 1)))
    out = {"n_docs": nn, "n_groups": k, "dof": k - 1}
    if k < 2 or nn - k < 1 or any_bad or v6 <= 0:
        out.update({"t_stat": None, "z_stat": None, "p_value": None})
        return out
    t = max(0.0, ((1.0 * nn - k) * math.log((v6 / 1e6) / (nn - k)) - t6 / 1e6) / (
        1.0 + (i9 / 1e9 - 1.0 / (nn - k)) / (3.0 * (k - 1))
    ))
    z = _rnd6(math.sqrt(2 * t) - math.sqrt(2.0 * (k - 1) - 1))
    p = _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0)) / 2) if z >= 0 \
        else _rnd6(1 - _erfc_poly(abs(z) / math.sqrt(2.0)) / 2)
    out.update({"t_stat": _rnd6(t), "z_stat": z, "p_value": p})
    return out


def test_bartlett_matches_python(spark, sf_small):
    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    exp = _bl_ref(docs)
    row = plans.QUERIES["bartlett_variance_by_source"](
        spark, sf_small
    ).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_bartlett_equal_variances_zero(spark, tmp_path):
    """Two sources with IDENTICAL length multisets (shifted location
    does not enter a variance test through the centered moments): the
    statistic is 0 to 6dp."""
    rows, did = [], 0
    for j in range(20):
        ln = 100 + (j % 5) * 7
        rows.append((did, "src_a", "en", "x" * ln)); did += 1
        rows.append((did, "src_b", "en", "y" * (ln + 300))); did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["bartlett_variance_by_source"](
        spark, sf
    ).collect()[0]
    assert row["t_stat"] == 0.0


def test_bartlett_constant_group_nulls_loud(spark, tmp_path):
    """A zero-variance group makes ln s^2 undefined: the readout must
    NULL the statistic rather than emit anything."""
    rows, did = [], 0
    for j in range(10):
        rows.append((did, "const", "en", "x" * 100)); did += 1
        rows.append((did, "varied", "en", "x" * (100 + j * 13))); did += 1
    sf = _write_tables(tmp_path, documents=_docs_pdf(rows))
    row = plans.QUERIES["bartlett_variance_by_source"](
        spark, sf
    ).collect()[0]
    assert row["t_stat"] is None and row["z_stat"] is None
    assert row["p_value"] is None


def test_stream_tost_matches_batch_python_on_half(spark, sf_small):
    """The streaming twin over the odd-event_id replay must equal the
    batch TOST reference restricted to the same half — per-arm integer
    partials merge exactly."""
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half = pdf[pdf["event_id"] % 2 == 1]
    exp = _tost_ref(half)
    row = plans.QUERIES["stream_tost_guardrail"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, (bool, int)):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


# --- Theil-Sen CI ------------------------------------------------------------


def _tsc_ref(events: pd.DataFrame) -> dict:
    from collections import Counter

    us_all = events["ts"].astype("int64")
    days = Counter(int(us) // 86400000000 for us in us_all)
    ds = sorted(days)
    nn = len(ds)
    slopes = []
    for i in range(nn):
        for j in range(i + 1, nn):
            da, db = ds[i], ds[j]
            s6 = _round_away((days[db] - days[da]) * 1e6 / (db - da))
            slopes.append((s6, da, db))
    slopes.sort()
    t = len(slopes)
    out = {"n_days": nn, "n_pairs": t}
    if t < 1:
        out.update({"sen_slope": None, "ci_lo": None, "ci_hi": None,
                    "trend_significant": None})
        return out
    mids = {(t + 1) // 2, t // 2 + 1}
    med = sum(slopes[r - 1][0] for r in mids) / len(mids)
    out["sen_slope"] = _rnd6(med / 1e6)
    if nn < 3:
        out.update({"ci_lo": None, "ci_hi": None, "trend_significant": None})
        return out
    c = 1.959964 * math.sqrt(1.0 * nn * (nn - 1) * (2.0 * nn + 5) / 18.0)
    m1 = max(1, _round_away((t - c) / 2.0))
    m2 = min(t, _round_away((t + c) / 2.0) + 1)
    lo, hi = slopes[m1 - 1][0], slopes[m2 - 1][0]
    out.update({"ci_lo": _rnd6(lo / 1e6), "ci_hi": _rnd6(hi / 1e6),
                "trend_significant": lo > 0 or hi < 0})
    return out


def test_theil_sen_ci_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _tsc_ref(pdf)
    row = plans.QUERIES["theil_sen_ci_daily_trend"](
        spark, sf_small
    ).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, (bool, int)):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_theil_sen_ci_exact_linear_trend(spark, tmp_path):
    """Daily counts exactly linear in the day index: every pairwise
    slope is the same constant, so the CI degenerates to the point —
    and a positive slope must read significant."""
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for day in range(8):
        for j in range(10 + 5 * day):  # c(d) = 10 + 5d
            rows.append((eid, base + pd.Timedelta(days=day, seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["theil_sen_ci_daily_trend"](spark, sf).collect()[0]
    assert row["n_days"] == 8 and row["n_pairs"] == 28
    assert row["sen_slope"] == 5.0
    assert row["ci_lo"] == 5.0 and row["ci_hi"] == 5.0
    assert row["trend_significant"] is True


def test_theil_sen_ci_flat_not_significant(spark, tmp_path):
    """Identical counts every day: every slope is 0 and the CI is
    exactly [0, 0] — not significant."""
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for day in range(6):
        for j in range(12):
            rows.append((eid, base + pd.Timedelta(days=day, seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["theil_sen_ci_daily_trend"](spark, sf).collect()[0]
    assert row["sen_slope"] == 0.0
    assert row["ci_lo"] == 0.0 and row["ci_hi"] == 0.0
    assert row["trend_significant"] is False


def test_theil_sen_ci_pre_epoch_days_floor(spark, tmp_path):
    """ADVICE r12 #3: the day bucket uses the true-floor ``_fdiv`` pair,
    so pre-1970 timestamps land in the Python reference's floor day.
    Discriminating corpus: events at 03:00 on days -2..1 relative to the
    epoch — truncating division would merge days -2 and -1 into one
    bucket (3 days), floor keeps all 4; counts are exactly linear
    (slope 2/day), so the CI must degenerate to the point."""
    rows, eid = [], 0
    for day in (-2, -1, 0, 1):
        base = pd.Timestamp("1970-01-01") + pd.Timedelta(days=day, hours=3)
        for j in range(6 + 2 * (day + 2)):  # c(d) = 10 + 2d
            rows.append((eid, base + pd.Timedelta(seconds=j), 1 + j,
                         "view", 1.0, "{}")); eid += 1
    pdf = _events_pdf(rows)
    sf = _write_tables(tmp_path, events=pdf)
    exp = _tsc_ref(pdf.assign(ts=pdf["ts"].astype("datetime64[us]")))
    assert exp["n_days"] == 4  # the Python floor reference sees 4 days
    row = plans.QUERIES["theil_sen_ci_daily_trend"](spark, sf).collect()[0]
    assert row["n_days"] == 4 and row["n_pairs"] == 6
    assert row["sen_slope"] == 2.0
    assert row["ci_lo"] == 2.0 and row["ci_hi"] == 2.0
    assert row["trend_significant"] is True


# --- sign test ---------------------------------------------------------------


def _sg_ref(events: pd.DataFrame) -> dict:
    from collections import defaultdict

    us_all = events["ts"].astype("int64")
    mn, mx = int(us_all.min()), int(us_all.max())
    mid = (mn + mx) // 2
    per = defaultdict(int)
    for uid, us, v in zip(events["user_id"], us_all, events["value"]):
        c = _round_away(v * 100)
        per[uid] += c if us >= mid else -c
    n_users = len(per)
    nz = [d for d in per.values() if d != 0]
    n, pos = len(nz), sum(1 for d in nz if d > 0)
    out = {"n_users": n_users, "n_nonzero": n, "n_positive": pos}
    if n < 1:
        out.update({"z_stat": None, "p_two_sided": None})
        return out
    if 2 * pos == n:
        z_micro = 0
    elif 2 * pos > n:
        z_micro = _round_away(1e6 * (2.0 * pos - n - 1) / math.sqrt(1.0 * n))
    else:
        z_micro = _round_away(1e6 * (2.0 * pos - n + 1) / math.sqrt(1.0 * n))
    z = z_micro / 1e6
    out.update({
        "z_stat": _rnd6(z),
        "p_two_sided": _rnd6(_erfc_poly(abs(z) / math.sqrt(2.0))),
    })
    return out


def test_sign_test_matches_python(spark, sf_small):
    pdf = pd.read_parquet(f"{sf_small}/events.parquet")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = _sg_ref(pdf)
    row = plans.QUERIES["sign_test_prepost"](spark, sf_small).collect()[0]
    for k, v in exp.items():
        if v is None:
            assert row[k] is None, k
        elif isinstance(v, int):
            assert row[k] == v, (k, row[k], v)
        else:
            assert abs(row[k] - v) < 2e-6, (k, row[k], v)


def test_sign_test_balanced_signs_zero(spark, tmp_path):
    """Exactly half the users gain and half lose: 2 pos = n pins
    z = 0 exactly (the continuity correction must not push a balanced
    count off zero) and p = 1."""
    base = pd.Timestamp("2024-01-01")
    late = pd.Timestamp("2024-06-01")
    rows, eid = [], 0
    for j in range(1, 9):
        up, dn = 2 * j, 2 * j + 1
        rows.append((eid, base + pd.Timedelta(seconds=eid), up, "view",
                     10.0, "{}")); eid += 1
        rows.append((eid, late + pd.Timedelta(seconds=eid), up, "view",
                     20.0 + j, "{}")); eid += 1
        rows.append((eid, base + pd.Timedelta(seconds=eid), dn, "view",
                     20.0 + j, "{}")); eid += 1
        rows.append((eid, late + pd.Timedelta(seconds=eid), dn, "view",
                     10.0, "{}")); eid += 1
    sf = _write_tables(tmp_path, events=_events_pdf(rows))
    row = plans.QUERIES["sign_test_prepost"](spark, sf).collect()[0]
    assert row["n_nonzero"] == 16 and row["n_positive"] == 8
    assert row["z_stat"] == 0.0 and row["p_two_sided"] == 1.0
