"""Round-13 capability queries (12 queries).

Each query is registered with ``registry.query``, checked against its
DuckDB oracle by the full-registry sweep (tools/verify_drive.py), and
pinned by independent Python references in tests/test_staging_r13.py.

The batch (the three round-11 verdict "next round #6" picks, each a
measured-need family completion):

* ``bca_bootstrap_mean_ci`` — Efron's (1987) bias-corrected-and-
  accelerated bootstrap interval over the registered Poisson-bootstrap
  replicate machinery: the percentile interval in ``bootstrap_mean_ci``
  is first-order accurate and visibly off-center exactly when the
  statistic's distribution is skewed — which session/order values are —
  while BCa corrects both the median bias (z0, from the replicate
  distribution itself) and the skew (the acceleration a, from the exact
  third central moment);
* ``lin_ancova_two_cov_ab`` — Lin (2013) regression-adjusted ATE with
  TWO covariates (pre-period spend AND pre-period activity) via closed-
  form 2x2 normal equations over exact integer moments — the multi-
  covariate generalization of the registered single-covariate
  ``lin_regression_adjusted_ab``, the experimentation family's last
  inference gap;
* ``alpha_spending_gst_ab`` — Lan–DeMets (1983) style alpha-SPENDING
  group-sequential readout with both canonical spending families
  (O'Brien-Fleming-like and Pocock-like) over the registered
  ``obrien_fleming_ab_looks`` cumulative-look frame — the registered
  query fixes K=4 equally-spaced looks with tabulated boundaries, while
  spending functions give a boundary at ANY observed information
  fraction, which is how every production experiment monitor actually
  runs.

New shared machinery: an Acklam (2003) inverse-normal-CDF (probit)
rational approximation as ONE shared expression text (max relative
error ~1.15e-9, far below the 6dp output rounding; evaluated on
identically-derived doubles in both engines so cross-engine parity is
exact, and pinned against an independent Python implementation plus
round-trip checks in the tests).

Exactness discipline unchanged (staging_r8 header, the dialect-trap
register): integer or quantized-integer corpus sums through the shared
DECIMAL(38,0) symmetric-overflow guard where a sum or per-row product
can leave int64, single shared double expressions over identical exact
operands, e-notation double literals inside expression text (never bare
decimals — Spark parses them as DECIMAL), 6dp rounds with ``+ 0.0``,
floor(x+0.5)/ceil(x-0.5) half-away-from-zero rounding in the Python
references, no raw TIMESTAMP outputs, floor-consistent bucketing via
the staging_r12 ``_fdiv_spark``/``_fdiv_duck`` pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators.mat import materialize
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.plans.round9_queries import (
    _OBF_Z_MICRO,
)
from flink_realtime_sessionize_sample_spark.plans.staging_r12 import (
    _dec_sum_bigint,
    _fdiv_duck,
    _fdiv_spark,
    _LIN_MOM,
    _pmod_duck,
)
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

def _as_erfc_poly() -> str:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _AS_ERFC_POLY,
    )

    return _AS_ERFC_POLY


# --- shared probit (inverse normal CDF) ------------------------------------------

# Acklam's rational approximation (P. J. Acklam, 2003 — the public
# standard when erfinv is unavailable; also the basis of many database
# UDF implementations). Three regions: a central rational in
# r = (p - 1/2)^2 and two tail rationals in q = sqrt(-2 ln p_tail).
# Max relative error ~1.15e-9 over (0, 1) — five orders below the 6dp
# output rounding — and because both engines evaluate the IDENTICAL
# text on identically-derived doubles, cross-engine parity is exact
# regardless of the approximation error. All literals e-notation (the
# bare-decimal DECIMAL trap).
_PB_A = (
    "(((((-3.969683028665376e+01 * {r} + 2.209460984245205e+02) * {r}"
    " + -2.759285104469687e+02) * {r} + 1.383577518672690e+02) * {r}"
    " + -3.066479806614716e+01) * {r} + 2.506628277459239e+00)"
)
_PB_B = (
    "(((((-5.447609879822406e+01 * {r} + 1.615858368580409e+02) * {r}"
    " + -1.556989798598866e+02) * {r} + 6.680131188771972e+01) * {r}"
    " + -1.328068155288572e+01) * {r} + 1e0)"
)
_PB_C = (
    "(((((-7.784894002430293e-03 * {q} + -3.223964580411365e-01) * {q}"
    " + -2.400758277161838e+00) * {q} + -2.549732539343734e+00) * {q}"
    " + 4.374664141464968e+00) * {q} + 2.938163982698783e+00)"
)
_PB_D = (
    "((((7.784695709041462e-03 * {q} + 3.224671290700398e-01) * {q}"
    " + 2.445134137142996e+00) * {q} + 3.754408661907416e+00) * {q} + 1e0)"
)


def _probit(pq: str) -> str:
    """Probit (Phi^-1) expression text over the double expression ``pq``.

    NULL outside (0, 1) — the loud degenerate path, consistent with the
    staging_r12 guard conventions. The lower tail's C/D rational is
    negative by construction; the upper tail negates it (symmetry)."""
    ql = f"sqrt(-2e0 * ln({pq}))"
    qu = f"sqrt(-2e0 * ln(1e0 - ({pq})))"
    qc = f"(({pq}) - 0.5e0)"
    rc = f"({qc} * {qc})"
    return (
        f"CASE WHEN ({pq}) IS NULL OR ({pq}) <= 0e0 OR ({pq}) >= 1e0 THEN NULL"
        f" WHEN ({pq}) < 0.02425e0"
        f" THEN ({_PB_C.format(q=ql)}) / ({_PB_D.format(q=ql)})"
        f" WHEN ({pq}) > 0.97575e0"
        f" THEN -(({_PB_C.format(q=qu)}) / ({_PB_D.format(q=qu)}))"
        f" ELSE ({_PB_A.format(r=rc)}) * {qc} / ({_PB_B.format(r=rc)}) END"
    )


def _phi(z: str, xcol: str, tcol: str) -> str:
    """Normal CDF text over the column ``z`` via the house erfc
    polynomial, whose helper columns ``xcol`` = |z|/sqrt(2) and ``tcol``
    = 1/(1 + 0.3275911 * xcol) must already exist on the frame (the
    established _x/_t pattern, renamed per evaluation site — ``_t``
    replaced before ``_x`` per the string-splice lesson)."""
    poly = _as_erfc_poly().replace("_t", tcol).replace("_x", xcol)
    return (
        f"CASE WHEN {z} IS NULL THEN NULL"
        f" WHEN {z} >= 0e0 THEN 1e0 - 0.5e0 * ({poly})"
        f" ELSE 0.5e0 * ({poly}) END"
    )


# --- BCa bootstrap CI for mean order value ---------------------------------------

# Acceleration from the jackknife closed form for the mean: with
# d_i = x_i - xbar, a = sum d^3 / (6 * (sum d^2)^{3/2}) — the (n-1)
# powers of the leave-one-out influence values cancel exactly (Efron
# 1987 eq. 6.6 specialized to the mean). The center is quantized to the
# integer-cent floor mean xbarq = S1 div n so both engines (and the
# Python reference) share EXACT integer deviations; the induced center
# offset is < 1 cent and perturbs a at O(skew * cent/sd) — documented
# spec, identical everywhere, and the symmetric-data intent pin (a = 0)
# holds exactly. Per-row d^2/d^3 promote to DECIMAL(38,0) BEFORE
# multiplying (d^3 ~ 1.25e23 at max cents — far past int64; the
# DECIMAL sums stay exact to 38 digits, unreachable even at 1e10
# orders) and convert to DOUBLE once through one shared text.
_BCA_D2 = (
    "CAST(sum(CAST(cents - xbarq AS DECIMAL(38,0))"
    " * (cents - xbarq)) AS DOUBLE)"
)
_BCA_D3 = (
    "CAST(sum(CAST(cents - xbarq AS DECIMAL(38,0))"
    " * (cents - xbarq) * (cents - xbarq)) AS DOUBLE)"
)
_BCA_ACC = (
    "CASE WHEN sd2 <= 0e0 THEN 0e0"
    " ELSE sd3 / (6e0 * sd2 * sqrt(sd2)) END"
)
# z0 = probit of the fraction of replicate means below the point
# estimate (ties counted half — the standard mid-p convention, and the
# only convention under which the all-means-equal degenerate gives the
# exact fixed point z0 = 0). The fraction is an exact small rational
# from integer counts, so both engines feed probit the same double.
_BCA_PQ = "(2e0 * less + eq) / 200e0"
# BCa endpoint alphas (Efron 1987 eq. 2.3): alpha_lo/hi =
# Phi(z0 + (z0 -+ z_{a/2}) / (1 - a (z0 -+ z_{a/2}))), z_{a/2} =
# 1.959964. The denominator tripwire NULLs the interval loud when the
# acceleration geometry degenerates (|1 - a w| ~ 0).
_BCA_ZARG = (
    "CASE WHEN z0 IS NULL THEN NULL"
    " WHEN abs(1e0 - acc * (z0 {s} 1.959964e0)) < 1e-12 THEN NULL"
    " ELSE z0 + (z0 {s} 1.959964e0) / (1e0 - acc * (z0 {s} 1.959964e0)) END"
)
# Percentile ranks from the alphas over the R=100 ranked replicate
# means: lo = floor(alpha*R) + 1, hi = ceil(alpha*R), both clamped to
# [1, R] — the registered bootstrap_mean_ci's rank-3/rank-98 convention
# generalized (alpha = 0.025/0.975 reproduce exactly ranks 3 and 98,
# the a = 0, z0 = 0 fixed-point intent pin).
_BCA_LO_RK = (
    "CASE WHEN alo IS NULL THEN NULL"
    " ELSE least(100, greatest(1, CAST(floor(alo * 100e0) AS BIGINT) + 1)) END"
)
_BCA_HI_RK = (
    "CASE WHEN ahi IS NULL THEN NULL"
    " ELSE least(100, greatest(1, CAST(ceil(ahi * 100e0) AS BIGINT))) END"
)


def _bca_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _pois_case,
    )

    u = T.h48_duck("concat(o.o_orderkey::VARCHAR, ':', r.i::VARCHAR)")
    phi_lo = _phi("zlo", "_xl", "_tl")
    phi_hi = _phi("zhi", "_xh", "_th")
    return f"""
WITH reps AS (
  SELECT o.o_orderkey, round(o.o_totalprice * 100)::BIGINT AS cents, r.i AS rep,
         {u} / 281474976710656.0 AS u
  FROM orders o, range(0, 100) r(i)
), weighted AS (
  SELECT rep, cents, {_pois_case('u')} AS w FROM reps
), means AS (
  SELECT rep,
         round(sum(w * cents)::BIGINT / sum(w)::BIGINT / 100.0, 4) + 0.0
           AS mean_rep
  FROM weighted GROUP BY rep
), ranked AS (
  SELECT mean_rep, row_number() OVER (ORDER BY mean_rep, rep) AS rk FROM means
), base AS (
  SELECT count(*)::BIGINT AS n_orders,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS s1
  FROM orders
), point AS (
  SELECT n_orders, s1,
         round((1e0 * s1) / n_orders / 100.0, 4) + 0.0 AS point_mean,
         s1 // n_orders AS xbarq
  FROM base
), mom AS (
  SELECT {_BCA_D2} AS sd2, {_BCA_D3} AS sd3
  FROM (SELECT round(o_totalprice * 100)::BIGINT AS cents FROM orders) oc,
       point
), cnt AS (
  SELECT sum(CASE WHEN m.mean_rep < p.point_mean THEN 1 ELSE 0 END)::BIGINT
           AS less,
         sum(CASE WHEN m.mean_rep = p.point_mean THEN 1 ELSE 0 END)::BIGINT
           AS eq
  FROM means m, point p
), zc AS (
  SELECT less, eq, {_BCA_PQ} AS pq, (SELECT {_BCA_ACC} FROM mom) AS acc
  FROM cnt
), z0t AS (SELECT *, {_probit("pq")} AS z0 FROM zc),
args AS (
  SELECT *, {_BCA_ZARG.replace("{s}", "-")} AS zlo,
            {_BCA_ZARG.replace("{s}", "+")} AS zhi
  FROM z0t
), hlp AS (
  SELECT *, abs(zlo) / sqrt(2e0) AS _xl,
         1e0 / (1e0 + 0.3275911 * (abs(zlo) / sqrt(2e0))) AS _tl,
         abs(zhi) / sqrt(2e0) AS _xh,
         1e0 / (1e0 + 0.3275911 * (abs(zhi) / sqrt(2e0))) AS _th
  FROM args
), al AS (
  SELECT *, {phi_lo} AS alo, {phi_hi} AS ahi FROM hlp
), rks AS (
  SELECT *, {_BCA_LO_RK} AS lo_rk, {_BCA_HI_RK} AS hi_rk FROM al
), sel AS (
  SELECT max(CASE WHEN k.rk = r.lo_rk THEN k.mean_rep END) AS bca_lo,
         max(CASE WHEN k.rk = r.hi_rk THEN k.mean_rep END) AS bca_hi
  FROM ranked k, rks r
), stats AS (
  SELECT count(*)::BIGINT AS n_replicas,
         max(CASE WHEN rk = 3 THEN mean_rep END) AS ci_lo,
         max(CASE WHEN rk = 98 THEN mean_rep END) AS ci_hi
  FROM ranked
)
SELECT s.n_replicas, p.point_mean, s.ci_lo, s.ci_hi,
       CASE WHEN r.z0 IS NULL THEN NULL ELSE round(r.z0, 6) + 0.0 END AS z0_bc,
       round(r.acc, 6) + 0.0 AS accel,
       e.bca_lo, e.bca_hi
FROM point p, rks r, stats s, sel e
"""


@query("bca_bootstrap_mean_ci", oracle=_bca_oracle())
def bca_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa (bias-corrected and accelerated) bootstrap 95% interval for
    mean order value — Efron (1987), "Better bootstrap confidence
    intervals": the second-order-accurate upgrade of the registered
    percentile interval (``bootstrap_mean_ci``, whose Poisson-replicate
    machinery — Chamandy et al. 2012 — this query REUSES verbatim, hash
    stream included, so the two intervals are computed over the
    identical 100 replicate means and are directly comparable).

    Percentile intervals under-cover on skewed statistics; order values
    are strongly right-skewed, so the BCa endpoints shift both interval
    ends toward the long tail. z0 (median-bias correction) is the probit
    of the fraction of replicate means below the point estimate (ties
    half-counted; probit = the shared Acklam text, see module header);
    the acceleration uses the jackknife closed form for the mean —
    sum d^3 / (6 (sum d^2)^1.5) over EXACT integer cent deviations from
    the floor-mean xbarq = S1 div n (cents are positive so truncating
    and floor division coincide; the sub-cent center offset is part of
    the documented spec and identical in both engines and the Python
    reference). The adjusted alphas map back to replicate ranks with
    the registered query's floor/ceil convention, so a = 0, z0 = 0
    reproduces ranks 3/98 — the percentile interval — EXACTLY (intent
    pin). Degenerate paths are loud NULLs: all replicate means on one
    side of the point estimate (pq outside (0,1)) or an acceleration
    denominator near zero NULL the BCa bounds while the percentile
    bounds and point estimate remain.

    Exactness: d^2/d^3 per-row products promote to DECIMAL(38,0) before
    multiplying (d^3 ~ 1.25e23 at max cents — the staging_r12 DeLong
    per-row-product lesson; 38 digits unreachable even at 1e10 orders),
    the two sums stay exact decimals and convert to DOUBLE through one
    shared text; every alpha/rank derivation is one shared text over
    identical doubles.

    Scale shape: the replicate frame is the registered single-pass
    map-side-combinable (row x 100) aggregate; the moment pass is ONE
    additional orders aggregate with a broadcast 1-row center (2 corpus
    scans total, census-documented); everything downstream operates on
    the bounded 100-row replicate frame."""
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _cents,
        _pois_case,
    )

    R = 100
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    reps = orders.select(
        F.col("o_orderkey"),
        _cents("o_totalprice").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("rep"),
    ).withColumn(
        "u",
        F.expr(
            T.h48_spark(
                "concat(cast(o_orderkey as string), ':', cast(rep as string))"
            )
        )
        / F.lit(281474976710656.0),
    )
    weighted = reps.withColumn("w", F.expr(_pois_case("u")))
    means = (
        weighted.groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .select(
            "rep",
            (
                F.round(F.col("swc") / F.col("sw") / F.lit(100.0), 4) + F.lit(0.0)
            ).alias("mean_rep"),
        )
    )
    # Bounded 100-row frame with three consumers (ranked, cnt, sel):
    # checkpoint so the corpus-sized replicate aggregate runs once under
    # every config (exchange.reuse=false included).
    means = materialize(means)
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_rep", "rep"))
    )
    base = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents("o_totalprice")).cast("long").alias("s1"),
    )
    point = base.select(
        "n_orders",
        "s1",
        (
            F.round(F.col("s1") * 1e0 / F.col("n_orders") / F.lit(100.0), 4)
            + F.lit(0.0)
        ).alias("point_mean"),
        F.expr("s1 div n_orders").alias("xbarq"),
    )
    point = materialize(point)
    mom = (
        orders.select(_cents("o_totalprice").alias("cents"))
        .crossJoin(F.broadcast(point.select("xbarq")))
        .agg(F.expr(_BCA_D2).alias("sd2"), F.expr(_BCA_D3).alias("sd3"))
    )
    cnt = means.crossJoin(F.broadcast(point.select("point_mean"))).agg(
        F.sum(F.when(F.col("mean_rep") < F.col("point_mean"), 1).otherwise(0))
        .cast("long")
        .alias("less"),
        F.sum(F.when(F.col("mean_rep") == F.col("point_mean"), 1).otherwise(0))
        .cast("long")
        .alias("eq"),
    )
    zc = cnt.crossJoin(F.broadcast(mom)).select(
        "less", "eq", F.expr(_BCA_PQ).alias("pq"), F.expr(_BCA_ACC).alias("acc")
    )
    z0t = zc.withColumn("z0", F.expr(_probit("pq")))
    args = z0t.select(
        "*",
        F.expr(_BCA_ZARG.replace("{s}", "-")).alias("zlo"),
        F.expr(_BCA_ZARG.replace("{s}", "+")).alias("zhi"),
    )
    hlp = args.select(
        "*",
        (F.abs(F.col("zlo")) / F.sqrt(F.lit(2.0))).alias("_xl"),
        (1 / (1 + 0.3275911 * (F.abs(F.col("zlo")) / F.sqrt(F.lit(2.0))))).alias(
            "_tl"
        ),
        (F.abs(F.col("zhi")) / F.sqrt(F.lit(2.0))).alias("_xh"),
        (1 / (1 + 0.3275911 * (F.abs(F.col("zhi")) / F.sqrt(F.lit(2.0))))).alias(
            "_th"
        ),
    )
    al = hlp.select(
        "*",
        F.expr(_phi("zlo", "_xl", "_tl")).alias("alo"),
        F.expr(_phi("zhi", "_xh", "_th")).alias("ahi"),
    )
    rks = al.select(
        "*",
        F.expr(_BCA_LO_RK).alias("lo_rk"),
        F.expr(_BCA_HI_RK).alias("hi_rk"),
    )
    sel = ranked.crossJoin(F.broadcast(rks.select("lo_rk", "hi_rk"))).agg(
        F.max(F.when(F.col("rk") == F.col("lo_rk"), F.col("mean_rep"))).alias(
            "bca_lo"
        ),
        F.max(F.when(F.col("rk") == F.col("hi_rk"), F.col("mean_rep"))).alias(
            "bca_hi"
        ),
    )
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.max(F.when(F.col("rk") == 3, F.col("mean_rep"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == 98, F.col("mean_rep"))).alias("ci_hi"),
    )
    return (
        point.select("point_mean")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(rks.select("z0", "acc")))
        .crossJoin(F.broadcast(sel))
        .select(
            "n_replicas",
            "point_mean",
            "ci_lo",
            "ci_hi",
            F.expr(
                "CASE WHEN z0 IS NULL THEN NULL"
                " ELSE round(z0, 6) + 0.0 END"
            ).alias("z0_bc"),
            (F.round(F.col("acc"), 6) + F.lit(0.0)).alias("accel"),
            "bca_lo",
            "bca_hi",
        )
    )


# --- Lin (2013) two-covariate ANCOVA ATE ------------------------------------------

# Centered second moments per arm over the ten exact integer moments
# (doubles over exact int64/guarded sums; squared integer sums promote
# BEFORE multiplying — the _LIN_SYY pattern). ``{a}`` is the arm suffix,
# substituted via .replace (not .format — the texts nest braces).
_A2_C11 = "(1e0 * s11{a} - (1e0 * sx1{a}) * sx1{a} / n{a})"
_A2_C12 = "(1e0 * s12{a} - (1e0 * sx1{a}) * sx2{a} / n{a})"
_A2_C22 = "(1e0 * s22{a} - (1e0 * sx2{a}) * sx2{a} / n{a})"
_A2_C1Y = "(1e0 * s1y{a} - (1e0 * sx1{a}) * sy{a} / n{a})"
_A2_C2Y = "(1e0 * s2y{a} - (1e0 * sx2{a}) * sy{a} / n{a})"
_A2_CYY = "(1e0 * syy{a} - (1e0 * sy{a}) * sy{a} / n{a})"
_A2_DET = f"({_A2_C11} * {_A2_C22} - {_A2_C12} * {_A2_C12})"
# Per-arm slopes by Cramer's rule on the 2x2 normal equations;
# degenerate arms (n < 4 for the n-3 residual dof, or a non-positive
# determinant — exactly-collinear covariates give det exactly 0 on
# integer inputs) contribute slope (0, 0): the adjustment is a no-op
# there (the _CUPED_THETA / lin_regression_adjusted_ab convention).
_A2_B1 = (
    f"CASE WHEN n{{a}} < 4 OR {_A2_DET} <= 0e0 THEN 0e0"
    f" ELSE ({_A2_C1Y} * {_A2_C22} - {_A2_C2Y} * {_A2_C12}) / {_A2_DET} END"
)
_A2_B2 = (
    f"CASE WHEN n{{a}} < 4 OR {_A2_DET} <= 0e0 THEN 0e0"
    f" ELSE ({_A2_C2Y} * {_A2_C11} - {_A2_C1Y} * {_A2_C12}) / {_A2_DET} END"
)
# RSS after the per-arm fit: Cyy - b1*C1y - b2*C2y (reduces to Cyy when
# the arm fell back to slope 0 — no extra CASE needed).
_A2_RSS = (
    f"(({_A2_CYY}) - beta1{{a}} * ({_A2_C1Y}) - beta2{{a}} * ({_A2_C2Y}))"
)


def _a2(text: str, a: str) -> str:
    return text.replace("{a}", a)


def _a2_oracle() -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    poly = _as_erfc_poly()
    mom = []
    for a in ("0", "1"):
        mom.append(
            f"sum(CASE WHEN arm = {a} THEN 1 ELSE 0 END)::BIGINT AS n{a},\n"
            f"    sum(CASE WHEN arm = {a} THEN x1 ELSE 0 END)::BIGINT AS sx1{a},\n"
            f"    sum(CASE WHEN arm = {a} THEN x2 ELSE 0 END)::BIGINT AS sx2{a},\n"
            f"    sum(CASE WHEN arm = {a} THEN y ELSE 0 END)::BIGINT AS sy{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='x1', v='x1'))} AS s11{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='x1', v='x2'))} AS s12{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='x2', v='x2'))} AS s22{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='x1', v='y'))} AS s1y{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='x2', v='y'))} AS s2y{a},\n"
            f"    {_dec_sum_bigint(_LIN_MOM.format(a=a, u='y', v='y'))} AS syy{a}"
        )
    moms = ",\n    ".join(mom)
    rss0 = _a2(_A2_RSS, "0")
    rss1 = _a2(_A2_RSS, "1")
    cyy0 = _a2(_A2_CYY, "0")
    cyy1 = _a2(_A2_CYY, "1")
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
bounds AS (SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev),
per_user AS (
  SELECT user_id, {arm} % 2 AS arm,
         sum(CASE WHEN us < (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT AS x1,
         sum(CASE WHEN us < (SELECT mid FROM bounds) THEN 1 ELSE 0 END)::BIGINT AS x2,
         sum(CASE WHEN us >= (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT AS y
  FROM ev GROUP BY user_id
),
m AS (
  SELECT
    {moms}
  FROM per_user
),
bt AS (
  SELECT *, {_a2(_A2_B1, "0")} AS beta10, {_a2(_A2_B2, "0")} AS beta20,
         {_a2(_A2_B1, "1")} AS beta11, {_a2(_A2_B2, "1")} AS beta21,
         CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
              ELSE (1e0 * (sx10 + sx11)) / (n0 + n1) END AS x1bp,
         CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
              ELSE (1e0 * (sx20 + sx21)) / (n0 + n1) END AS x2bp
  FROM m
),
mu AS (
  SELECT *,
         (1e0 * sy0) / n0 + beta10 * (x1bp - (1e0 * sx10) / n0)
           + beta20 * (x2bp - (1e0 * sx20) / n0) AS mu0,
         (1e0 * sy1) / n1 + beta11 * (x1bp - (1e0 * sx11) / n1)
           + beta21 * (x2bp - (1e0 * sx21) / n1) AS mu1,
         CASE WHEN n0 < 4 OR n1 < 4 THEN NULL
              ELSE ({rss0}) / (n0 - 3) / n0 + ({rss1}) / (n1 - 3) / n1 END
           AS var_adj,
         CASE WHEN n0 < 2 OR n1 < 2 THEN NULL
              ELSE ({cyy0}) / (n0 - 1) / n0 + ({cyy1}) / (n1 - 1) / n1 END
           AS var_raw
  FROM bt
),
zz AS (
  SELECT n0, n1,
         CAST(round(beta10 * 1000000) AS BIGINT) AS beta_spend0_micro,
         CAST(round(beta20 * 1000000) AS BIGINT) AS beta_count0_micro,
         CAST(round(beta11 * 1000000) AS BIGINT) AS beta_spend1_micro,
         CAST(round(beta21 * 1000000) AS BIGINT) AS beta_count1_micro,
         CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
              ELSE round((1e0 * sy1) / n1 - (1e0 * sy0) / n0, 6) + 0.0 END
           AS ate_raw_cents,
         CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
              ELSE round(mu1 - mu0, 6) + 0.0 END AS ate_adj_cents,
         CASE WHEN var_raw IS NULL OR var_raw <= 0 THEN NULL
              ELSE round(sqrt(var_raw), 6) + 0.0 END AS se_raw,
         CASE WHEN var_adj IS NULL OR var_adj <= 0 THEN NULL
              ELSE round(sqrt(var_adj), 6) + 0.0 END AS se_adj,
         CASE WHEN var_raw IS NULL OR var_adj IS NULL OR var_raw <= 0 THEN NULL
              ELSE round(1 - var_adj / var_raw, 6) + 0.0 END AS var_reduction,
         CASE WHEN var_adj IS NULL OR var_adj <= 0 THEN NULL
              ELSE round((mu1 - mu0) / sqrt(var_adj), 6) + 0.0 END AS z_stat
  FROM mu
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n0 AS n_users0, n1 AS n_users1,
       beta_spend0_micro, beta_count0_micro,
       beta_spend1_micro, beta_count1_micro,
       ate_raw_cents, ate_adj_cents, se_raw, se_adj, var_reduction, z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_two_sided
FROM xt
"""


@query("lin_ancova_two_cov_ab", oracle=_a2_oracle())
def lin_ancova_two_cov_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-adjusted ATE with per-arm fits on TWO covariates —
    Lin (2013) / classical ANCOVA with full treatment interactions: the
    registered ``lin_regression_adjusted_ab`` adjusts on the pre-period
    spend alone; real experiments adjust on several pre-period
    covariates at once (here pre-period spend x1 AND pre-period
    activity count x2), which is never worse asymptotically and
    strictly better whenever the second covariate carries independent
    outcome signal. Per-arm OLS on (1, x1, x2) solved in CLOSED FORM by
    Cramer's rule on the 2x2 centered normal equations — no iterative
    solver, no matrix library: just ten exact integer moments per arm.

    Exactness: per-user (x1, x2, y) are exact integer aggregates with
    the broadcast floor-division midpoint (``_fdiv`` pair — the ADVICE
    r11 #2 discipline from birth); the six second-order moment sums per
    arm promote per-row products to DECIMAL(38,0) and ride the shared
    ``_dec_sum_bigint`` guard (loud symmetric NULL past int64 — which
    NULLs slopes and inference downstream); centered moments, slopes,
    adjusted means, residual variances are shared CASE texts over the
    guarded sums; degenerate arms (n < 4 or exactly-collinear
    covariates, det <= 0) fall back to slope (0, 0) — the adjustment
    becomes a documented no-op, ``ate_adj == ate_raw``. The Welch-style
    SE uses per-arm residual mean squares with n - 3 dof; z and the
    two-sided p (shared erfc polynomial) evaluate on rounded values.

    Scale shape: identical to the single-covariate sibling — one corpus
    aggregate to the per-user frame (broadcast 1-row midpoint), then
    ONE conditional aggregate straight to a single 20-moment row; no
    per-stratum frames, no second corpus pass."""
    arm = F.pmod(F.expr(T.h48_spark("cast(user_id as string)")), F.lit(2))
    poly = _as_erfc_poly()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(
        F.expr(_fdiv_spark("min(us) + max(us)", 2)).alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x1"),
            F.sum(F.when(F.col("us") < F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("x2"),
            F.sum(F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(arm.alias("arm"), "x1", "x2", "y")
    )
    sums = []
    for a in ("0", "1"):
        cond = F.col("arm") == int(a)
        sums += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{a}"),
            F.sum(F.when(cond, F.col("x1")).otherwise(0))
            .cast("long")
            .alias(f"sx1{a}"),
            F.sum(F.when(cond, F.col("x2")).otherwise(0))
            .cast("long")
            .alias(f"sx2{a}"),
            F.sum(F.when(cond, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"sy{a}"),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="x1", v="x1"))).alias(
                f"s11{a}"
            ),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="x1", v="x2"))).alias(
                f"s12{a}"
            ),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="x2", v="x2"))).alias(
                f"s22{a}"
            ),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="x1", v="y"))).alias(
                f"s1y{a}"
            ),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="x2", v="y"))).alias(
                f"s2y{a}"
            ),
            F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u="y", v="y"))).alias(
                f"syy{a}"
            ),
        ]
    m = per_user.agg(*sums)
    bt = m.select(
        "*",
        F.expr(_a2(_A2_B1, "0")).alias("beta10"),
        F.expr(_a2(_A2_B2, "0")).alias("beta20"),
        F.expr(_a2(_A2_B1, "1")).alias("beta11"),
        F.expr(_a2(_A2_B2, "1")).alias("beta21"),
        F.expr(
            "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            " ELSE (1e0 * (sx10 + sx11)) / (n0 + n1) END"
        ).alias("x1bp"),
        F.expr(
            "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            " ELSE (1e0 * (sx20 + sx21)) / (n0 + n1) END"
        ).alias("x2bp"),
    )
    rss0 = _a2(_A2_RSS, "0")
    rss1 = _a2(_A2_RSS, "1")
    cyy0 = _a2(_A2_CYY, "0")
    cyy1 = _a2(_A2_CYY, "1")
    mu = bt.select(
        "*",
        F.expr(
            "(1e0 * sy0) / n0 + beta10 * (x1bp - (1e0 * sx10) / n0)"
            " + beta20 * (x2bp - (1e0 * sx20) / n0)"
        ).alias("mu0"),
        F.expr(
            "(1e0 * sy1) / n1 + beta11 * (x1bp - (1e0 * sx11) / n1)"
            " + beta21 * (x2bp - (1e0 * sx21) / n1)"
        ).alias("mu1"),
        F.expr(
            f"CASE WHEN n0 < 4 OR n1 < 4 THEN NULL"
            f" ELSE ({rss0}) / (n0 - 3) / n0 + ({rss1}) / (n1 - 3) / n1 END"
        ).alias("var_adj"),
        F.expr(
            f"CASE WHEN n0 < 2 OR n1 < 2 THEN NULL"
            f" ELSE ({cyy0}) / (n0 - 1) / n0 + ({cyy1}) / (n1 - 1) / n1 END"
        ).alias("var_raw"),
    )
    zz = mu.select(
        "n0",
        "n1",
        F.round(F.col("beta10") * 1000000).cast("long").alias("beta_spend0_micro"),
        F.round(F.col("beta20") * 1000000).cast("long").alias("beta_count0_micro"),
        F.round(F.col("beta11") * 1000000).cast("long").alias("beta_spend1_micro"),
        F.round(F.col("beta21") * 1000000).cast("long").alias("beta_count1_micro"),
        F.expr(
            "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            " ELSE round((1e0 * sy1) / n1 - (1e0 * sy0) / n0, 6) + 0.0 END"
        ).alias("ate_raw_cents"),
        F.expr(
            "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            " ELSE round(mu1 - mu0, 6) + 0.0 END"
        ).alias("ate_adj_cents"),
        F.expr(
            "CASE WHEN var_raw IS NULL OR var_raw <= 0 THEN NULL"
            " ELSE round(sqrt(var_raw), 6) + 0.0 END"
        ).alias("se_raw"),
        F.expr(
            "CASE WHEN var_adj IS NULL OR var_adj <= 0 THEN NULL"
            " ELSE round(sqrt(var_adj), 6) + 0.0 END"
        ).alias("se_adj"),
        F.expr(
            "CASE WHEN var_raw IS NULL OR var_adj IS NULL OR var_raw <= 0 THEN NULL"
            " ELSE round(1 - var_adj / var_raw, 6) + 0.0 END"
        ).alias("var_reduction"),
        F.expr(
            "CASE WHEN var_adj IS NULL OR var_adj <= 0 THEN NULL"
            " ELSE round((mu1 - mu0) / sqrt(var_adj), 6) + 0.0 END"
        ).alias("z_stat"),
    )
    xt = zz.withColumn(
        "_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))
    ).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        F.col("n0").alias("n_users0"),
        F.col("n1").alias("n_users1"),
        "beta_spend0_micro",
        "beta_count0_micro",
        "beta_spend1_micro",
        "beta_count1_micro",
        "ate_raw_cents",
        "ate_adj_cents",
        "se_raw",
        "se_adj",
        "var_reduction",
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_two_sided"),
    )


# --- Lan-DeMets alpha-spending group-sequential readout ---------------------------

# Spending families at two-sided alpha = 0.05 (Lan & DeMets 1983;
# DeMets & Lan 1994 survey):
#   OBF-like:    f(t) = 2 * (1 - Phi(z_{a/2} / sqrt(t)))  [= erfc(z_{a/2}/sqrt(2t))]
#   Pocock-like: f(t) = alpha * ln(1 + (e - 1) * t)
# Both satisfy f(0+) ~ 0 and f(1) = alpha. Both texts PIN t >= 1 to
# exactly 5e-2: the erfc polynomial lands ~1.4e-7 below alpha at t = 1
# (and ln(1 + (e-1)) is one ulp under 1), so without the pin the final
# look would under-spend by the approximation error and the K = 1
# fixed-point intent pin (boundary = 1.959964) would drift to
# 1.959965. The per-look boundary converts each spending INCREMENT to a
# two-sided z through the shared probit: z_k = probit(1 - inc_k / 2) —
# the independent-increments approximation (it ignores the correlation
# between looks, so boundaries are mildly conservative vs the exact
# multivariate-normal recursion; the K = 1 fixed point is exact:
# inc = alpha -> z = 1.959964 — the intent pin). Documented spec,
# identical in both engines and the Python reference.
_GS_F_OBF = "CASE WHEN tf >= 1e0 THEN 5e-2 ELSE least(5e-2, ({poly})) END"
_GS_F_POC = (
    "CASE WHEN tf >= 1e0 THEN 5e-2"
    " ELSE least(5e-2, 5e-2 * ln(1e0 + 1.718281828459045e0 * tf)) END"
)
_GS_PQ = "CASE WHEN {i} <= 0e0 THEN NULL ELSE 1e0 - ({i}) / 2e0 END"
# Per-look squared-cent partials sum in DECIMAL(38,0) (exact — the
# per-row product is promoted BEFORE the sum, the DeLong rule), and the
# cumulative look total converts to int64 through the symmetric
# overflow guard (ADVICE r12 #1: the raw BIGINT cast was asymmetric
# past int64 — Spark wraps silently, DuckDB raises). Guarding at the
# cumulative cast (not per look) keeps NULL propagation loud without a
# window-SUM-skips-NULLs tripwire: the DECIMAL partials can't be NULL,
# and a cumulative total past int64 reads NULL in BOTH engines.
_GS_DQ = (
    "sum(CASE WHEN arm = {a} THEN CAST(cents AS DECIMAL(38,0)) * cents"
    " ELSE CAST(0 AS DECIMAL(38,0)) END)"
)
_GS_WSPEC = "ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_GS_WQ = (
    f"CASE WHEN abs(sum(CAST(dq{{a}} AS DECIMAL(38,0))) OVER ({_GS_WSPEC}))"
    " > 9223372036854775807 THEN CAST(NULL AS BIGINT)"
    f" ELSE CAST(sum(CAST(dq{{a}} AS DECIMAL(38,0))) OVER ({_GS_WSPEC})"
    " AS BIGINT) END"
)
_GS_CROSS = (
    "CASE WHEN {zb} IS NULL THEN NULL"
    " ELSE abs(z_micro) >= CAST(round(({zb}) * 1000000e0) AS BIGINT) END"
)


def _gs_oracle() -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    poly_o = _as_erfc_poly().replace("_t", "_to").replace("_x", "_xo")
    return f"""
WITH e AS (
  SELECT {arm} % 2 AS arm, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
rng AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
lk AS (
  SELECT ((4 * (us - mn)) // (mx - mn + 1)) + 1 AS look,
         arm, cents
  FROM e CROSS JOIN rng
),
g AS (
  SELECT look,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dn1,
         CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS ds0,
         CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS ds1,
         {_GS_DQ.format(a=0)} AS dq0,
         {_GS_DQ.format(a=1)} AS dq1
  FROM lk GROUP BY look
),
c AS (
  SELECT look,
         CAST(sum(dn0) OVER w AS BIGINT) AS n0,
         CAST(sum(dn1) OVER w AS BIGINT) AS n1,
         CAST(sum(ds0) OVER w AS BIGINT) AS s0,
         CAST(sum(ds1) OVER w AS BIGINT) AS s1,
         {_GS_WQ.format(a=0)} AS q0,
         {_GS_WQ.format(a=1)} AS q1
  FROM g WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)
),
tot AS (SELECT max(n0 + n1) AS ntot FROM c),
ti AS (
  SELECT c.*, CAST(round(1000000e0 * (c.n0 + c.n1) / t.ntot) AS BIGINT) AS t_e6
  FROM c, tot t
),
tf AS (SELECT *, t_e6 / 1e6 AS tf FROM ti),
hx AS (
  SELECT *, 1.959964e0 / sqrt(2e0 * tf) AS _xo,
         1e0 / (1e0 + 0.3275911 * (1.959964e0 / sqrt(2e0 * tf))) AS _to
  FROM tf
),
fs AS (
  SELECT *, {_GS_F_OBF.format(poly=poly_o)} AS f_obf, {_GS_F_POC} AS f_poc
  FROM hx
),
inc AS (
  SELECT *, f_obf - coalesce(lag(f_obf) OVER (ORDER BY look), 0e0) AS i_obf,
         f_poc - coalesce(lag(f_poc) OVER (ORDER BY look), 0e0) AS i_poc
  FROM fs
),
pq AS (
  SELECT *, {_GS_PQ.format(i="i_obf")} AS pq_obf,
         {_GS_PQ.format(i="i_poc")} AS pq_poc
  FROM inc
),
zb AS (
  SELECT *, {_probit("pq_obf")} AS zb_obf, {_probit("pq_poc")} AS zb_poc
  FROM pq
),
zz AS (SELECT *, {_OBF_Z_MICRO} AS z_micro FROM zb)
SELECT look, n0, n1, t_e6 / 1e6 + 0.0 AS t_info,
       round(f_obf, 6) + 0.0 AS alpha_spent_obf,
       round(f_poc, 6) + 0.0 AS alpha_spent_pocock,
       CASE WHEN zb_obf IS NULL THEN NULL
            ELSE round(zb_obf, 6) + 0.0 END AS z_bound_obf,
       CASE WHEN zb_poc IS NULL THEN NULL
            ELSE round(zb_poc, 6) + 0.0 END AS z_bound_pocock,
       round(z_micro / 1e6, 6) + 0.0 AS z_stat,
       {_GS_CROSS.format(zb="zb_obf")} AS crossed_obf,
       {_GS_CROSS.format(zb="zb_poc")} AS crossed_pocock
FROM zz
"""


@query("alpha_spending_gst_ab", oracle=_gs_oracle())
def alpha_spending_gst_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B readout with Lan–DeMets ALPHA-SPENDING
    boundaries (Lan & DeMets 1983) in both canonical families —
    O'Brien-Fleming-like and Pocock-like spending — over the exact
    cumulative-look frame of the registered ``obrien_fleming_ab_looks``
    (same look assignment, same cumulative Welch z via the imported
    ``_OBF_Z_MICRO``, so the two monitors can never disagree about the
    observed statistic). The registered query needs its K=4 boundary
    table known in advance; spending functions allocate the two-sided
    alpha = 0.05 budget continuously in OBSERVED information time
    t_k = (n0+n1)_k / (n0+n1)_K, which is how production monitors
    handle unequal/unplanned looks.

    Boundary construction: per-look spending increments convert to
    two-sided z-bounds through the shared Acklam probit,
    z_k = probit(1 - inc_k/2) — the independent-increments
    approximation (mildly conservative vs the exact multivariate-normal
    recursion; at K = 1 it is exact and the boundary is exactly
    probit(1 - alpha/2) = 1.959964, the intent pin). The OBF-like
    spending function evaluates through the shared erfc polynomial
    (f(t) = erfc(1.959964/sqrt(2t))), and BOTH families pin t >= 1 to
    exactly alpha so the budget is spent in full at the final look
    despite the polynomial's ~1e-7 shortfall there.

    Exactness: information fractions e6-quantize from exact integer
    cumulative counts through one shared text; both spending functions,
    increments, probits, and crossing comparisons are shared texts over
    those identical doubles; the crossing test compares INTEGERS
    (|z_micro| vs the e6-quantized boundary — the registered OBF
    pattern); a non-positive increment (impossible for strictly
    increasing t, the defensive guard) NULLs that look's boundary loud.
    The squared-cent look partials sum in DECIMAL(38,0) (per-row product
    promoted first, the DeLong rule) and the cumulative totals convert
    to int64 through the symmetric overflow guard, so past int64 BOTH
    engines read NULL z/crossing instead of Spark wrapping silently
    while DuckDB raises (ADVICE r12 #1; the registered
    ``obrien_fleming_ab_looks`` sibling keeps its raw cast — documented
    int64 envelope — until its own rotation window).

    Scale shape: identical to the registered sibling — one scan + 1-row
    min/max broadcast to assign looks, one map-side-combined aggregate
    to the <=4-row look frame, then bounded-frame windows only."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    e = load_table(spark, sf_dir, "events").select(
        arm.alias("arm"),
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    rng = e.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    lk = e.crossJoin(F.broadcast(rng)).select(
        (F.expr("(4 * (us - mn)) div (mx - mn + 1)") + 1).alias("look"),
        "arm",
        "cents",
    )
    g = lk.groupBy("look").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("dn0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("dn1"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("ds0"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("ds1"),
        F.expr(_GS_DQ.format(a=0)).alias("dq0"),
        F.expr(_GS_DQ.format(a=1)).alias("dq1"),
    )
    w = Window.orderBy("look").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "look",
        F.sum("dn0").over(w).cast("long").alias("n0"),
        F.sum("dn1").over(w).cast("long").alias("n1"),
        F.sum("ds0").over(w).cast("long").alias("s0"),
        F.sum("ds1").over(w).cast("long").alias("s1"),
        F.expr(_GS_WQ.format(a=0)).alias("q0"),
        F.expr(_GS_WQ.format(a=1)).alias("q1"),
    )
    # Bounded <=4-row frame with two consumers (the total row and the
    # per-look spending chain): checkpoint so the corpus scans once
    # under every config.
    c = materialize(c)
    tot = c.agg(F.max(F.col("n0") + F.col("n1")).alias("ntot"))
    ti = c.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(
            "CAST(round(1000000e0 * (n0 + n1) / ntot) AS BIGINT)"
        ).alias("t_e6"),
    )
    tf = ti.withColumn("tf", F.col("t_e6") / F.lit(1e6))
    hx = tf.select(
        "*",
        F.expr("1.959964e0 / sqrt(2e0 * tf)").alias("_xo"),
        F.expr(
            "1e0 / (1e0 + 0.3275911 * (1.959964e0 / sqrt(2e0 * tf)))"
        ).alias("_to"),
    )
    poly_o = _as_erfc_poly().replace("_t", "_to").replace("_x", "_xo")
    fs = hx.select(
        "*",
        F.expr(_GS_F_OBF.format(poly=poly_o)).alias("f_obf"),
        F.expr(_GS_F_POC).alias("f_poc"),
    )
    lw = Window.orderBy("look")
    inc = fs.select(
        "*",
        (
            F.col("f_obf")
            - F.coalesce(F.lag("f_obf").over(lw), F.lit(0.0))
        ).alias("i_obf"),
        (
            F.col("f_poc")
            - F.coalesce(F.lag("f_poc").over(lw), F.lit(0.0))
        ).alias("i_poc"),
    )
    pq = inc.select(
        "*",
        F.expr(_GS_PQ.format(i="i_obf")).alias("pq_obf"),
        F.expr(_GS_PQ.format(i="i_poc")).alias("pq_poc"),
    )
    zb = pq.select(
        "*",
        F.expr(_probit("pq_obf")).alias("zb_obf"),
        F.expr(_probit("pq_poc")).alias("zb_poc"),
    )
    zz = zb.withColumn("z_micro", F.expr(_OBF_Z_MICRO))
    return zz.select(
        "look",
        "n0",
        "n1",
        (F.col("t_e6") / F.lit(1e6) + F.lit(0.0)).alias("t_info"),
        (F.round(F.col("f_obf"), 6) + F.lit(0.0)).alias("alpha_spent_obf"),
        (F.round(F.col("f_poc"), 6) + F.lit(0.0)).alias("alpha_spent_pocock"),
        F.expr(
            "CASE WHEN zb_obf IS NULL THEN NULL"
            " ELSE round(zb_obf, 6) + 0.0 END"
        ).alias("z_bound_obf"),
        F.expr(
            "CASE WHEN zb_poc IS NULL THEN NULL"
            " ELSE round(zb_poc, 6) + 0.0 END"
        ).alias("z_bound_pocock"),
        (F.round(F.col("z_micro") / 1e6, 6) + F.lit(0.0)).alias("z_stat"),
        F.expr(_GS_CROSS.format(zb="zb_obf")).alias("crossed_obf"),
        F.expr(_GS_CROSS.format(zb="zb_poc")).alias("crossed_pocock"),
    )


# --- TOST equivalence test --------------------------------------------------------

# Two One-Sided Tests (Schuirmann 1987) on the event-value metric between
# the user-hash arms: H0 "the arms DIFFER by more than the margin" is
# rejected — equivalence demonstrated — only when BOTH one-sided tests
# reject. The margin is RELATIVE: delta = 5% of the pooled mean (the
# standard relative-equivalence convention; self-scaling, no
# dataset-specific constant). Welch moments are the registered
# obrien_fleming/welch shape; z's e6-quantize through shared texts.
_TOST_SE = (
    "sqrt((1e0 * n1 * q1 - 1e0 * s1 * s1) / (1e0 * n1 * n1 * (n1 - 1))"
    " + (1e0 * n0 * q0 - 1e0 * s0 * s0) / (1e0 * n0 * n0 * (n0 - 1)))"
)
_TOST_GUARD = (
    "n0 < 2 OR n1 < 2 OR q0 IS NULL OR q1 IS NULL"
    " OR (1e0 * n0 * q0 - 1e0 * s0 * s0) <= 0"
    " OR (1e0 * n1 * q1 - 1e0 * s1 * s1) <= 0"
)
_TOST_DIFF = "(1e0 * s1 / n1 - 1e0 * s0 / n0)"
_TOST_DELTA = "(5e-2 * abs(1e0 * (s0 + s1)) / (n0 + n1))"
_TOST_ZL_MICRO = (
    f"CASE WHEN {_TOST_GUARD} THEN NULL"
    f" ELSE CAST(round(1000000 * ({_TOST_DIFF} + {_TOST_DELTA}) / ({_TOST_SE}))"
    f" AS BIGINT) END"
)
_TOST_ZU_MICRO = (
    f"CASE WHEN {_TOST_GUARD} THEN NULL"
    f" ELSE CAST(round(1000000 * ({_TOST_DELTA} - {_TOST_DIFF}) / ({_TOST_SE}))"
    f" AS BIGINT) END"
)
# One-sided upper p of a signed z (reject for LARGE z): the kruskal-
# wallis poly/2 convention, over renamed helper columns.
def _p_upper(z: str, xcol: str, tcol: str) -> str:
    poly = _as_erfc_poly().replace("_t", tcol).replace("_x", xcol)
    return (
        f"CASE WHEN {z} IS NULL THEN NULL"
        f" WHEN {z} >= 0 THEN round(({poly}) / 2, 6) + 0.0"
        f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
    )


def _tost_oracle(where: str = "") -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    pl = _p_upper("zl", "_xl", "_tl")
    pu = _p_upper("zu", "_xh", "_th")
    return f"""
WITH e AS (
  SELECT {arm} % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events {where}
),
m AS (
  SELECT
    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
    sum(CASE WHEN arm = 0 THEN cents ELSE 0 END)::BIGINT AS s0,
    sum(CASE WHEN arm = 1 THEN cents ELSE 0 END)::BIGINT AS s1,
    {_dec_sum_bigint("CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END")} AS q0,
    {_dec_sum_bigint("CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) * cents ELSE 0 END")} AS q1
  FROM e
),
zm AS (
  SELECT *, {_TOST_ZL_MICRO} AS zl_micro, {_TOST_ZU_MICRO} AS zu_micro FROM m
),
zz AS (
  SELECT *, zl_micro / 1e6 AS zl, zu_micro / 1e6 AS zu FROM zm
),
hlp AS (
  SELECT *, abs(zl) / sqrt(2.0) AS _xl,
         1 / (1 + 0.3275911 * (abs(zl) / sqrt(2.0))) AS _tl,
         abs(zu) / sqrt(2.0) AS _xh,
         1 / (1 + 0.3275911 * (abs(zu) / sqrt(2.0))) AS _th
  FROM zz
),
ps AS (SELECT *, {pl} AS p_lower, {pu} AS p_upper FROM hlp)
SELECT n0, n1,
       CASE WHEN n0 < 1 THEN NULL
            ELSE round((1e0 * s0) / n0, 6) + 0.0 END AS mean0_cents,
       CASE WHEN n1 < 1 THEN NULL
            ELSE round((1e0 * s1) / n1, 6) + 0.0 END AS mean1_cents,
       CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
            ELSE round({_TOST_DIFF}, 6) + 0.0 END AS diff_cents,
       CASE WHEN n0 < 1 OR n1 < 1 THEN NULL
            ELSE round({_TOST_DELTA}, 6) + 0.0 END AS margin_cents,
       CASE WHEN zl IS NULL THEN NULL ELSE round(zl, 6) + 0.0 END AS z_lower,
       CASE WHEN zu IS NULL THEN NULL ELSE round(zu, 6) + 0.0 END AS z_upper,
       CASE WHEN p_lower IS NULL OR p_upper IS NULL THEN NULL
            ELSE greatest(p_lower, p_upper) END AS p_tost,
       CASE WHEN p_lower IS NULL OR p_upper IS NULL THEN NULL
            ELSE greatest(p_lower, p_upper) < 5e-2 END AS equivalent_at_95
FROM ps
"""


def _tost_readout(m: DataFrame) -> DataFrame:
    """The TOST scalar pipeline over the one-row six-moment frame
    (n0, n1, s0, s1, q0, q1) — shared by the batch query and the
    streaming twin so the two can never disagree (the _dmr_readout /
    _dl_readout convention), and lintable over a static frame (the
    ADVICE r10 #4 rule)."""
    zm = m.select(
        "*",
        F.expr(_TOST_ZL_MICRO).alias("zl_micro"),
        F.expr(_TOST_ZU_MICRO).alias("zu_micro"),
    )
    zz = zm.select(
        "*",
        (F.col("zl_micro") / F.lit(1e6)).alias("zl"),
        (F.col("zu_micro") / F.lit(1e6)).alias("zu"),
    )
    hlp = zz.select(
        "*",
        (F.abs(F.col("zl")) / F.sqrt(F.lit(2.0))).alias("_xl"),
        (1 / (1 + 0.3275911 * (F.abs(F.col("zl")) / F.sqrt(F.lit(2.0))))).alias(
            "_tl"
        ),
        (F.abs(F.col("zu")) / F.sqrt(F.lit(2.0))).alias("_xh"),
        (1 / (1 + 0.3275911 * (F.abs(F.col("zu")) / F.sqrt(F.lit(2.0))))).alias(
            "_th"
        ),
    )
    ps = hlp.select(
        "*",
        F.expr(_p_upper("zl", "_xl", "_tl")).alias("p_lower"),
        F.expr(_p_upper("zu", "_xh", "_th")).alias("p_upper"),
    )
    return ps.select(
        "n0",
        "n1",
        F.expr(
            "CASE WHEN n0 < 1 THEN NULL"
            " ELSE round((1e0 * s0) / n0, 6) + 0.0 END"
        ).alias("mean0_cents"),
        F.expr(
            "CASE WHEN n1 < 1 THEN NULL"
            " ELSE round((1e0 * s1) / n1, 6) + 0.0 END"
        ).alias("mean1_cents"),
        F.expr(
            f"CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            f" ELSE round({_TOST_DIFF}, 6) + 0.0 END"
        ).alias("diff_cents"),
        F.expr(
            f"CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
            f" ELSE round({_TOST_DELTA}, 6) + 0.0 END"
        ).alias("margin_cents"),
        F.expr(
            "CASE WHEN zl IS NULL THEN NULL ELSE round(zl, 6) + 0.0 END"
        ).alias("z_lower"),
        F.expr(
            "CASE WHEN zu IS NULL THEN NULL ELSE round(zu, 6) + 0.0 END"
        ).alias("z_upper"),
        F.expr(
            "CASE WHEN p_lower IS NULL OR p_upper IS NULL THEN NULL"
            " ELSE greatest(p_lower, p_upper) END"
        ).alias("p_tost"),
        F.expr(
            "CASE WHEN p_lower IS NULL OR p_upper IS NULL THEN NULL"
            " ELSE greatest(p_lower, p_upper) < 5e-2 END"
        ).alias("equivalent_at_95"),
    )


@query("tost_equivalence_ab", oracle=_tost_oracle())
def tost_equivalence_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987, "two one-sided tests") on
    the event-value metric between the user-hash arms — the inference the
    registered significance tests CANNOT provide: a non-significant
    Welch p never demonstrates the arms are the SAME, while TOST rejects
    "they differ by more than the margin" only when BOTH one-sided tests
    reject, which is the standard non-inferiority/parity readout for
    launch reviews ("the new path is provably within 5% of control").
    Margin: 5% of the pooled mean (relative equivalence, self-scaling).

    Exactness: the four first moments are exact int64 cent sums; the two
    squared-cent sums promote per-row to DECIMAL(38,0) and ride the
    shared ``_dec_sum_bigint`` guard (loud symmetric NULL past int64 —
    which NULLs both z's and the verdict); diff/margin/SE/z are shared
    texts over the exact moments, both z's e6-quantized before the p
    evaluation; one-sided p's use the erfc polynomial poly/2 convention
    (the kruskal_wallis precedent); p_tost = max(p_lower, p_upper).

    Scale shape: ONE conditional aggregate straight from the scan to a
    single 6-moment row — no joins, no windows, nothing bounded by more
    than one output row."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    e = load_table(spark, sf_dir, "events").select(
        arm.alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    m = e.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.expr(
            _dec_sum_bigint(
                "CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) * cents"
                " ELSE 0 END"
            )
        ).alias("q0"),
        F.expr(
            _dec_sum_bigint(
                "CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) * cents"
                " ELSE 0 END"
            )
        ).alias("q1"),
    )
    return _tost_readout(m)


# --- Fligner-Killeen k-group scale test -------------------------------------------

# Fligner-Killeen (1976; Conover, Johnson & Johnson 1981 form): rank the
# pooled ABSOLUTE DEVIATIONS from each group's own median, transform the
# mid-ranks through normal scores a(r) = probit(1/2 + r/(2(N+1))), and
# test equality of the per-group mean scores with
#   X^2 = sum_j n_j (Abar_j - abar)^2 / V,   V = sum (a - abar)^2 / (N-1).
# The robust k-group SCALE test — rank-based where the registered
# brown_forsythe_length_variance is moment-based — and the second
# consumer of the shared Acklam probit. Scores e6-quantize (aq) so every
# corpus sum is EXACT (DECIMAL(38,0) accumulation, double conversion
# once); the aq scale cancels between numerator and V, so the statistic
# is computed in quantized-score units exactly. Mid-ranks are kept
# DOUBLED (r2) so ties stay integer (the KW device); the probit argument
# 1/2 + r2/(4(N+1)) is an exact-rational double in (0.5, 1).
_FK_PQ = "0.5e0 + r2 / (4e0 * (nn + 1))"
_FK_TERM_E6 = (
    "CAST(round((1e0 * devj * devj) / (1e0 * nj * 1000000)) AS BIGINT)"
)
_FK_VV = "(((sq - sat * sat / nn) / (nn - 1)) / 1e12)"
_FK_X2 = (
    f"CASE WHEN nn < 3 OR k < 2 OR sum_e6 IS NULL"
    f" OR ({_FK_VV}) <= 0e0 THEN NULL"
    f" ELSE (sum_e6 / 1e6) / ({_FK_VV}) END"
)
_FK_Z = (
    f"CASE WHEN ({_FK_X2}) IS NULL THEN NULL"
    f" ELSE round(sqrt(2 * ({_FK_X2})) - sqrt(2.0 * dof - 1), 6) + 0.0 END"
)


def _fk_oracle() -> str:
    poly = _as_erfc_poly()
    aq_expr = f"CAST(round(1000000 * ({_probit(_FK_PQ)})) AS BIGINT)"
    return f"""
WITH sg AS (
  SELECT source, n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY source, n_chars
),
njf AS (SELECT source, sum(c)::BIGINT AS nj FROM sg GROUP BY source),
cums AS (
  SELECT source, v, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM sg
),
med AS (
  SELECT cums.source, min(cums.v) AS med
  FROM cums JOIN njf ON cums.source = njf.source
  WHERE 2 * cums.cum >= njf.nj
  GROUP BY cums.source
),
sd AS (
  SELECT sg.source, abs(sg.v - med.med) AS d, sum(sg.c)::BIGINT AS c
  FROM sg JOIN med ON sg.source = med.source
  GROUP BY sg.source, abs(sg.v - med.med)
),
g AS (SELECT d, sum(c)::BIGINT AS cnt FROM sd GROUP BY d),
rk AS (
  SELECT d, cnt,
         CAST(sum(cnt) OVER (ORDER BY d) AS BIGINT) AS cum_all
  FROM g
),
a2 AS (SELECT d, cnt, 2 * (cum_all - cnt) + cnt + 1 AS r2 FROM rk),
tot AS (SELECT sum(cnt)::BIGINT AS nn FROM g),
aqt AS (
  SELECT a2.d, a2.cnt, t.nn, {aq_expr} AS aq
  FROM a2 CROSS JOIN tot t
),
pool AS (
  SELECT CAST(sum(CAST(cnt AS DECIMAL(38,0)) * aq) AS DOUBLE) AS sat,
         CAST(sum(CAST(cnt AS DECIMAL(38,0)) * aq * aq) AS DOUBLE) AS sq,
         max(nn)::BIGINT AS nn
  FROM aqt
),
per AS (
  SELECT sd.source, sum(sd.c)::BIGINT AS nj,
         CAST(sum(CAST(sd.c AS DECIMAL(38,0)) * aqt.aq) AS DOUBLE) AS saj
  FROM sd JOIN aqt ON sd.d = aqt.d
  GROUP BY sd.source
),
terms AS (
  SELECT per.nj, per.saj - per.nj * (pool.sat / pool.nn) AS devj,
         pool.sat, pool.sq, pool.nn
  FROM per CROSS JOIN pool
),
s AS (
  SELECT count(*)::BIGINT AS k,
         {_dec_sum_bigint(_FK_TERM_E6)} AS sum_e6,
         max(sat) AS sat, max(sq) AS sq, max(nn)::BIGINT AS nn
  FROM terms
),
st AS (SELECT nn AS n_docs, k AS n_groups, k - 1 AS dof, sum_e6, sat, sq, nn, k
       FROM s),
zz AS (SELECT *, {_FK_Z} AS z_stat FROM st),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_docs, n_groups, dof,
       CASE WHEN ({_FK_X2}) IS NULL THEN NULL
            ELSE round(({_FK_X2}), 6) + 0.0 END AS x2_stat,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("fligner_killeen_scale_by_source", oracle=_fk_oracle())
def fligner_killeen_scale_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen test: do the k = |sources| document-length
    distributions share one SCALE? The rank-based robust completion of
    the variance-homogeneity family — the registered
    ``brown_forsythe_length_variance`` tests the same hypothesis through
    moment ratios (an F statistic sensitive to heavy tails), while
    Fligner-Killeen ranks absolute deviations from each group's own
    median and normal-scores them, which keeps its level under ANY
    continuous parent (the standard recommendation — Conover, Johnson &
    Johnson 1981's power study — and R's default ``fligner.test``).
    Second consumer of the shared Acklam probit machinery.

    Exactness: per-group LOW medians from exact integer cumulative
    counts (partitioned window over the bounded (source x length) grid);
    pooled deviation mid-ranks kept DOUBLED (the KW/roc_auc device);
    normal scores evaluate the shared probit on exact-rational doubles
    and e6-quantize, so every corpus accumulation is an EXACT
    DECIMAL(38,0) integer sum (double conversion happens once, on the
    three pooled scalars); the per-group X^2 terms e6-quantize through
    shared text before the k-row guarded sum (``_dec_sum_bigint`` — loud
    symmetric NULL); X^2, Fisher's z (the house large-dof chi-square
    tail device) and the one-sided erfc p are single shared double
    expressions. Degenerate corpora (every deviation equal -> V = 0)
    yield NULL via the shared guard.

    Scale shape: ONE corpus aggregate to the (source x distinct-length)
    frame (checkpointed, bounded by |S| x |length domain|); medians ride
    a PARTITIONED cumulative window over that grid; deviation ranks ride
    the banded global-rank pass over the bounded deviation grid; the
    per-group frame is k rows and the statistic is a scalar reduce. No
    corpus-sized shuffle after the first aggregate."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    sg = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sg = materialize(sg)  # bounded |S| x |values|; 3 consumers
    njf = sg.groupBy("source").agg(F.sum("c").cast("long").alias("nj"))
    wsrc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = sg.select(
        "source", "v", "c", F.sum("c").over(wsrc).cast("long").alias("cum")
    )
    med = (
        cums.join(njf, "source")
        .filter(2 * F.col("cum") >= F.col("nj"))
        .groupBy("source")
        .agg(F.min("v").alias("med"))
    )
    sd = (
        sg.join(F.broadcast(med), "source")
        .select("source", F.abs(F.col("v") - F.col("med")).alias("d"), "c")
        .groupBy("source", "d")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    sd = materialize(sd)  # bounded deviation grid; 2 consumers
    g = sd.groupBy("d").agg(F.sum("c").cast("long").alias("cnt"))
    rk = with_global_rank(
        g, ["d"], rank_col="_rk", sum_col="cnt", cum_col="cum_all"
    )
    a2 = rk.select(
        "d", "cnt",
        (2 * (F.col("cum_all") - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
    )
    tot = g.agg(F.sum("cnt").cast("long").alias("nn"))
    aq_expr = f"CAST(round(1000000 * ({_probit(_FK_PQ)})) AS BIGINT)"
    aqt = a2.crossJoin(F.broadcast(tot)).select(
        "d", "cnt", "nn", F.expr(aq_expr).alias("aq")
    )
    aqt = materialize(aqt)  # bounded; feeds pool + the per-group join
    pool = aqt.agg(
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * aq) AS DOUBLE)"
        ).alias("sat"),
        F.expr(
            "CAST(sum(CAST(cnt AS DECIMAL(38,0)) * aq * aq) AS DOUBLE)"
        ).alias("sq"),
        F.max("nn").cast("long").alias("nn"),
    )
    per = (
        sd.join(aqt.select("d", "aq"), "d")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * aq) AS DOUBLE)"
            ).alias("saj"),
        )
    )
    terms = per.crossJoin(F.broadcast(pool)).select(
        "nj",
        (F.col("saj") - F.col("nj") * (F.col("sat") / F.col("nn"))).alias("devj"),
        "sat",
        "sq",
        "nn",
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(_dec_sum_bigint(_FK_TERM_E6)).alias("sum_e6"),
        F.max("sat").alias("sat"),
        F.max("sq").alias("sq"),
        F.max("nn").cast("long").alias("nn"),
    )
    st = s.select(
        F.col("nn").alias("n_docs"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).alias("dof"),
        "sum_e6",
        "sat",
        "sq",
        "nn",
        "k",
    )
    zz = st.withColumn("z_stat", F.expr(_FK_Z))
    xt = zz.withColumn(
        "_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))
    ).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    poly = _as_erfc_poly()
    return xt.select(
        "n_docs",
        "n_groups",
        "dof",
        F.expr(
            f"CASE WHEN ({_FK_X2}) IS NULL THEN NULL"
            f" ELSE round(({_FK_X2}), 6) + 0.0 END"
        ).alias("x2_stat"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Hodges-Lehmann shift estimate + CI --------------------------------------------

# Hodges & Lehmann (1963): the median of all n0*n1 pairwise differences
# (arm1 value - arm0 value) — THE standard effect-size companion of the
# registered Mann-Whitney test (which reports significance but no
# magnitude), with the Moses large-sample confidence bounds: the
# interval endpoints are the k-th and (T+1-k)-th smallest pairwise
# differences at k = floor(T/2 - z_{a/2} sqrt(n0 n1 (n0+n1+1)/12))
# (Hollander & Wolfe ch. 4). Computed EXACTLY over the bounded
# value-domain grid: per-arm (cent value, count) frames convolve into
# the pairwise-difference DISTRIBUTION (weight of d = sum_v c1(v+d)
# c0(v)), so the "n0*n1 pairs" never materialize — the grid is bounded
# by |V|^2 (value DOMAIN squared, corpus-size-independent) and every
# rank lookup is an integer cumulative over it. LOW-median/order
# conventions: value at the smallest cumulative >= the target rank.
_HL_K = (
    "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
    " ELSE greatest(1, CAST(floor((1e0 * n0 * n1) / 2e0"
    " - 1.959964e0 * sqrt((1e0 * n0 * n1) * (n0 + n1 + 1) / 12e0))"
    " AS BIGINT)) END"
)


def _hl_oracle() -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    return f"""
WITH e AS (
  SELECT {arm} % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
v0 AS (SELECT cents AS v, count(*)::BIGINT AS c FROM e WHERE arm = 0 GROUP BY cents),
v1 AS (SELECT cents AS v, count(*)::BIGINT AS c FROM e WHERE arm = 1 GROUP BY cents),
grid AS (
  SELECT v1.v - v0.v AS d, sum(v1.c * v0.c)::BIGINT AS w
  FROM v1 CROSS JOIN v0
  GROUP BY v1.v - v0.v
),
tot AS (
  SELECT (SELECT sum(c) FROM v0)::BIGINT AS n0,
         (SELECT sum(c) FROM v1)::BIGINT AS n1
),
cum AS (
  SELECT d, w, CAST(sum(w) OVER (ORDER BY d) AS BIGINT) AS cw FROM grid
),
kk AS (SELECT n0, n1, n0 * n1 AS t, {_HL_K} AS k FROM tot),
med AS (
  SELECT min(c.d) AS hl
  FROM cum c, kk
  WHERE 2 * c.cw >= kk.t
),
lo AS (SELECT min(c.d) AS ci_lo FROM cum c, kk WHERE c.cw >= kk.k),
hi AS (SELECT min(c.d) AS ci_hi FROM cum c, kk WHERE c.cw >= kk.t + 1 - kk.k)
SELECT kk.n0, kk.n1, kk.t AS n_pairs,
       med.hl AS hl_shift_cents,
       CASE WHEN kk.k IS NULL THEN NULL ELSE lo.ci_lo END AS ci_lo_cents,
       CASE WHEN kk.k IS NULL THEN NULL ELSE hi.ci_hi END AS ci_hi_cents
FROM kk, med, lo, hi
"""


def _hl_frame(e: DataFrame) -> DataFrame:
    """Hodges-Lehmann convolution-grid pipeline over an ``(arm, cents)``
    frame — factored out of the query so bench.py can run the 10x
    corpus-scale smoke (the r13 promotion-time receipt: the grid is
    value-domain-bounded, so the ratio-vs-linear must read ~flat)."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    # Bounded per-arm value-count frames off ONE scan (checkpoint the
    # shared (arm, value) aggregate so the corpus scans once under
    # every config).
    av = e.groupBy("arm", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    av = materialize(av)
    v0 = av.filter(F.col("arm") == 0).select(F.col("cents").alias("v"), "c")
    v1 = av.filter(F.col("arm") == 1).select(
        F.col("cents").alias("v1"), F.col("c").alias("c1")
    )
    grid = (
        v1.crossJoin(F.broadcast(v0))
        .groupBy((F.col("v1") - F.col("v")).alias("d"))
        .agg(F.sum(F.col("c1") * F.col("c")).cast("long").alias("w"))
    )
    cum = with_global_rank(
        grid, ["d"], rank_col="_rk", sum_col="w", cum_col="cw"
    ).select("d", "w", "cw")
    cum = materialize(cum)  # bounded diff grid; three rank lookups
    tot = av.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    kk = tot.select(
        "n0",
        "n1",
        (F.col("n0") * F.col("n1")).alias("t"),
        F.expr(_HL_K).alias("k"),
    )
    joined = cum.crossJoin(F.broadcast(kk))
    med = joined.filter(2 * F.col("cw") >= F.col("t")).agg(
        F.min("d").alias("hl")
    )
    lo = joined.filter(F.col("cw") >= F.col("k")).agg(
        F.min("d").alias("ci_lo")
    )
    hi = joined.filter(
        F.col("cw") >= F.col("t") + 1 - F.col("k")
    ).agg(F.min("d").alias("ci_hi"))
    return (
        kk.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n0",
            "n1",
            F.col("t").alias("n_pairs"),
            F.col("hl").alias("hl_shift_cents"),
            F.expr(
                "CASE WHEN k IS NULL THEN NULL ELSE ci_lo END"
            ).alias("ci_lo_cents"),
            F.expr(
                "CASE WHEN k IS NULL THEN NULL ELSE ci_hi END"
            ).alias("ci_hi_cents"),
        )
    )


@query("hodges_lehmann_shift_ab", oracle=_hl_oracle())
def hodges_lehmann_shift_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimate with Moses 95% bounds between the
    user-hash arms on the event-value metric — the EFFECT SIZE the rank
    family was missing: the registered ``mann_whitney_en_tokens`` (and
    the r12 ``brunner_munzel_en_vs_rest``) report whether distributions
    differ, Hodges-Lehmann reports BY HOW MUCH (median of all n0*n1
    pairwise differences — consistent, median-unbiased, 0.955
    asymptotically efficient vs the mean under normality and robust far
    beyond it), and the Moses bounds give the CI every readout quotes.

    Exactness: all n0*n1 pairwise differences reduce to the bounded
    difference-distribution grid (per-arm cent-value counts convolved:
    weight(d) = sum_v c1(v) c0(v - d)) — exact integer weights, exact
    integer cumulative ranks (n0*n1 <= 9e18 keeps every rank in int64
    to ~3e9 events per arm); the HL point is the LOW weighted median
    (smallest d with 2 cum >= n0*n1) and the CI endpoints are the
    k-th / (T+1-k)-th order statistics with k from ONE shared double
    expression over exact integers. Degenerate arms (n0 or n1 = 0) NULL
    the estimate loud.

    Scale shape: one corpus scan -> two bounded (value, count) frames
    (the 2dp value DOMAIN, corpus-size-independent); the pair grid is a
    broadcast nested-loop join of the two bounded frames (|V0| x |V1|,
    never corpus-sized) aggregated straight onto the difference grid;
    ranks ride one banded global-order pass over that grid. Nothing
    downstream of the first aggregate scales with corpus rows (pinned
    by bench.py's ``scale_smoke_hl_grid`` 10x ratio)."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    e = load_table(spark, sf_dir, "events").select(
        arm.alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return _hl_frame(e)


# --- Page's trend test -------------------------------------------------------------

# Page (1963): the ORDERED-alternative test for b blocks x k ordered
# treatments — where the registered friedman_test_event_mix asks "do the
# treatments differ at all within blocks" and jonckheere_terpstra
# handles the UNblocked ordered design, Page's L answers the blocked
# monotone question ("does the metric rise across the day inside every
# event type"). L = sum_j j * R_j over within-block ranks; under H0
# E[L] = b k (k+1)^2 / 4 and Var[L] = b k^2 (k+1) (k^2 - 1) / 144
# (no-tie normal approximation — ties across cell MEANS are measure-zero
# and broken deterministically by band index, the documented spec).
_PG_Z = (
    "CASE WHEN b < 1 OR kk < 2 THEN NULL"
    " ELSE CAST(round(1000000 * ((1e0 * l - (1e0 * b * kk * (kk + 1) * (kk + 1)) / 4e0)"
    " / sqrt((1e0 * b * kk * kk) * (kk + 1) * (1e0 * kk * kk - 1) / 144e0)))"
    " AS BIGINT) END"
)


def _pg_oracle() -> str:
    poly = _as_erfc_poly()
    return f"""
WITH e AS (
  SELECT event_type,
         {_pmod_duck(_fdiv_duck(_fdiv_duck("epoch_us(ts)", 1000000), 3600), 24)} // 6 AS band,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cells AS (
  SELECT event_type, band, sum(cents)::BIGINT AS s, count(*)::BIGINT AS n
  FROM e GROUP BY event_type, band
),
kb AS (SELECT count(DISTINCT band)::BIGINT AS kk FROM cells),
blocks AS (
  SELECT event_type FROM cells GROUP BY event_type
  HAVING count(*) = (SELECT kk FROM kb)
),
bmap AS (
  SELECT band, row_number() OVER (ORDER BY band) AS jj
  FROM (SELECT DISTINCT band FROM cells) db
),
ranked AS (
  SELECT c.event_type, c.band,
         row_number() OVER (PARTITION BY c.event_type
                            ORDER BY (1e0 * c.s) / c.n, c.band) AS r
  FROM cells c JOIN blocks USING (event_type)
),
l AS (
  SELECT CAST(sum(jj * r) AS BIGINT) AS l,
         count(DISTINCT event_type)::BIGINT AS b
  FROM ranked JOIN bmap USING (band)
),
st AS (SELECT l.l, l.b, kb.kk FROM l, kb),
zz AS (
  SELECT b AS n_blocks, kk AS k_bands, l AS l_stat,
         CASE WHEN b < 1 OR kk < 2 THEN NULL
              ELSE round((1e0 * b * kk * (kk + 1) * (kk + 1)) / 4e0, 6) + 0.0
              END AS e_l,
         ({_PG_Z}) / 1e6 AS z_stat_raw
  FROM st
),
xt AS (
  SELECT *, round(z_stat_raw, 6) + 0.0 AS z_stat,
         abs(z_stat_raw) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat_raw) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_blocks, k_bands, l_stat, e_l,
       CASE WHEN z_stat_raw IS NULL THEN NULL ELSE z_stat END AS z_stat,
       CASE WHEN z_stat_raw IS NULL THEN NULL
            WHEN z_stat_raw >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("page_trend_test_tod", oracle=_pg_oracle())
def page_trend_test_tod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (Page 1963) for a monotone diurnal effect: do
    mean event values RISE across the four ordered 6-hour time-of-day
    bands consistently WITHIN each event type? The blocked
    ordered-alternative member that completes the trend family — the
    registered ``friedman_test_event_mix`` tests unordered within-block
    differences, ``jonckheere_terpstra_daily_trend`` tests the ordered
    k-sample design without blocks, and Page's L is the blocked ordered
    design (strictly more powerful than Friedman against monotone
    alternatives, the reason experimentation texts pair them).

    Exactness: cell means are exact-operand doubles (integer cent sums /
    integer counts — identical in both engines); within-block ranks are
    row_number over (mean, band) — the deterministic tie-break is part
    of the documented spec (mean ties across cells are measure-zero);
    L is an exact int64; E[L], Var[L] and z are one shared text
    (no-tie normal approximation, Hollander & Wolfe ch. 7), z
    e6-quantized before the one-sided erfc p (the kruskal_wallis poly/2
    convention). Incomplete blocks (an event type missing a band) are
    DROPPED and the complete-block count is reported — Page's statistic
    is defined over complete blocks only. The Page coefficient is the
    DENSE rank of the band among observed bands (1..k), so a band
    absent corpus-wide keeps the coefficients contiguous and the
    E[L]/Var[L] formulas valid (ADVICE r12 #2; with all four bands
    present it equals band+1). The band bucketing reuses the
    floor-consistent ``_fdiv``/``pmod`` forms (ADVICE r11 #2 discipline
    from birth).

    Scale shape: one corpus scan -> hash aggregate onto the bounded
    (event_type x 4-band) cell grid; everything downstream (block
    filter, partitioned rank window, scalar reduce) runs on that
    bounded frame."""
    arm_band = (
        f"pmod({_fdiv_spark(_fdiv_spark('unix_micros(ts)', 1000000), 3600)}, 24)"
        " div 6"
    )
    poly = _as_erfc_poly()
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(arm_band).alias("band"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = e.groupBy("event_type", "band").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cells = materialize(cells)  # bounded |types| x 4; 3 consumers
    kb = cells.agg(F.countDistinct("band").cast("long").alias("kk"))
    blocks = (
        cells.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_nb"))
        .crossJoin(F.broadcast(kb))
        .filter(F.col("_nb") == F.col("kk"))
        .select("event_type")
    )
    # Page coefficient = DENSE position of the band among the observed
    # bands (1..kk), not the raw band index — with a band absent
    # corpus-wide the raw coefficients {1,3,4} would no longer match the
    # contiguous-1..k E[L]/Var[L] formulas (ADVICE r12 #2). Bounded
    # (<=4-row) map; every band observed anywhere appears in every
    # complete block, so the join is lossless.
    bmap = (
        cells.select("band")
        .distinct()
        .select(
            "band", F.row_number().over(Window.orderBy("band")).alias("jj")
        )
    )
    wblk = Window.partitionBy("event_type").orderBy(
        (F.col("s") * 1e0) / F.col("n"), "band"
    )
    ranked = (
        cells.join(F.broadcast(blocks), "event_type")
        .select("event_type", "band", F.row_number().over(wblk).alias("r"))
    )
    l = ranked.join(F.broadcast(bmap), "band").agg(
        F.sum(F.col("jj") * F.col("r")).cast("long").alias("l"),
        F.countDistinct("event_type").cast("long").alias("b"),
    )
    st = l.crossJoin(F.broadcast(kb))
    zz = st.select(
        F.col("b").alias("n_blocks"),
        F.col("kk").alias("k_bands"),
        F.col("l").alias("l_stat"),
        F.expr(
            "CASE WHEN b < 1 OR kk < 2 THEN NULL"
            " ELSE round((1e0 * b * kk * (kk + 1) * (kk + 1)) / 4e0, 6) + 0.0"
            " END"
        ).alias("e_l"),
        (F.expr(_PG_Z) / F.lit(1e6)).alias("z_stat_raw"),
    )
    xt = zz.select(
        "*",
        (F.round(F.col("z_stat_raw"), 6) + F.lit(0.0)).alias("z_stat"),
        (F.abs(F.col("z_stat_raw")) / F.sqrt(F.lit(2.0))).alias("_x"),
        (
            1 / (1 + 0.3275911 * (F.abs(F.col("z_stat_raw")) / F.sqrt(F.lit(2.0))))
        ).alias("_t"),
    )
    return xt.select(
        "n_blocks",
        "k_bands",
        "l_stat",
        "e_l",
        F.expr(
            "CASE WHEN z_stat_raw IS NULL THEN NULL ELSE z_stat END"
        ).alias("z_stat"),
        F.expr(
            f"CASE WHEN z_stat_raw IS NULL THEN NULL"
            f" WHEN z_stat_raw >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Wilcoxon signed-rank (paired pre/post) ----------------------------------------

# Wilcoxon (1945) signed-rank on PAIRED per-user spend: pre-midpoint vs
# post-midpoint cents — the paired member the rank family was missing
# (mann_whitney/brunner_munzel compare independent groups; the paired
# design removes between-user variance entirely). Zero differences drop
# (the standard convention); |d| mid-ranks are kept DOUBLED (the KW
# device) so ties stay integer; W2+ = sum of doubled ranks over positive
# differences, E[W2+] = n(n+1)/2 and Var[W2+] = n(n+1)(2n+1)/6 -
# sum_t(t^3 - t)/12 (tie-corrected normal approximation, Hollander &
# Wolfe ch. 3 scaled by 4). Corpus sums ride the DECIMAL(38,0) guard
# (W2+ ~ 2N^2 and t^3 leave int64 near 3e9 users — loud symmetric NULL).
_WS_VAR = (
    "((1e0 * n * (n + 1)) * (2e0 * n + 1) / 6e0 - tt / 12e0)"
)
_WS_Z = (
    f"CASE WHEN n < 1 OR w2p IS NULL OR tt IS NULL"
    f" OR ({_WS_VAR}) <= 0e0 THEN NULL"
    f" ELSE CAST(round(1000000 * ((1e0 * w2p) - (1e0 * n * (n + 1)) / 2e0)"
    f" / sqrt({_WS_VAR})) AS BIGINT) END"
)


def _ws_oracle() -> str:
    poly = _as_erfc_poly()
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
bounds AS (SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev),
per_user AS (
  SELECT user_id,
         sum(CASE WHEN us >= (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           - sum(CASE WHEN us < (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           AS d
  FROM ev GROUP BY user_id
),
nz AS (SELECT abs(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
       FROM per_user WHERE d <> 0),
g AS (
  SELECT ad, count(*)::BIGINT AS c, sum(pos)::BIGINT AS cp
  FROM nz GROUP BY ad
),
rk AS (
  SELECT ad, c, cp,
         CAST(sum(c) OVER (ORDER BY ad) AS BIGINT) AS cum
  FROM g
),
a2 AS (SELECT ad, c, cp, 2 * (cum - c) + c + 1 AS r2 FROM rk),
s AS (
  SELECT (SELECT count(*) FROM per_user)::BIGINT AS n_users,
         {_dec_sum_bigint("CAST(c AS DECIMAL(38,0))")} AS n,
         {_dec_sum_bigint("CAST(cp AS DECIMAL(38,0)) * r2")} AS w2p,
         {_dec_sum_bigint("CAST(c AS DECIMAL(38,0)) * c * c - c")} AS tt
  FROM a2
),
zz AS (SELECT *, {_WS_Z} AS z_micro FROM s),
xt AS (
  SELECT *, abs(z_micro / 1e6) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_micro / 1e6) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_users, coalesce(n, 0) AS n_nonzero,
       CASE WHEN w2p IS NULL THEN NULL ELSE w2p / 2e0 + 0.0 END AS w_plus,
       CASE WHEN n IS NULL OR n < 1 THEN NULL
            ELSE round((1e0 * n * (n + 1)) / 4e0, 6) + 0.0 END AS e_w,
       CASE WHEN z_micro IS NULL THEN NULL
            ELSE round(z_micro / 1e6, 6) + 0.0 END AS z_stat,
       CASE WHEN z_micro IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_two_sided
FROM xt
"""


@query("wilcoxon_signed_rank_prepost", oracle=_ws_oracle())
def wilcoxon_signed_rank_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user spend (post-midpoint
    minus pre-midpoint cents) — the paired member completing the rank
    family: ``mann_whitney_en_tokens``/``brunner_munzel_en_vs_rest``
    compare independent groups, while the paired design differences out
    each user's own level first, which is the correct test for
    "did the same users spend more in the second half". Zero
    differences drop per the standard convention and are accounted for
    (n_users vs n_nonzero).

    Exactness: per-user differences are exact integer cent sums with
    the floor-consistent broadcast midpoint; |d| mid-ranks are DOUBLED
    integers from one banded global-order cumulative; W2+ (doubled
    W+), n, and the tie term sum_t(t^3 - t) all ride the shared
    DECIMAL(38,0) guard (W2+ ~ 2N^2 and t^3 leave int64 near 3e9
    nonzero users — both engines NULL together); the tie-corrected
    variance, z (e6-quantized) and two-sided erfc p are single shared
    texts. Degenerate corpora (no nonzero differences, or ties
    exhausting the variance) yield NULL via the shared guard.

    Scale shape: one corpus aggregate to the per-user frame (broadcast
    1-row midpoint), one aggregate onto the |distinct |d|| grid, one
    banded global-order pass over that grid, then a scalar reduce —
    the KW shape on a per-user domain."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    poly = _as_erfc_poly()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(
        F.expr(_fdiv_spark("min(us) + max(us)", 2)).alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0)
                )
                - F.sum(
                    F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0)
                )
            )
            .cast("long")
            .alias("d")
        )
    )
    per_user = materialize(per_user)  # two consumers: count + rank path
    n_users = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    nz = per_user.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
    )
    g = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("pos").cast("long").alias("cp"),
    )
    rk = with_global_rank(g, ["ad"], rank_col="_rk", sum_col="c", cum_col="cum")
    a2 = rk.select(
        "ad", "c", "cp",
        (2 * (F.col("cum") - F.col("c")) + F.col("c") + 1).alias("r2"),
    )
    s = a2.agg(
        F.expr(_dec_sum_bigint("CAST(c AS DECIMAL(38,0))")).alias("n"),
        F.expr(_dec_sum_bigint("CAST(cp AS DECIMAL(38,0)) * r2")).alias("w2p"),
        F.expr(
            _dec_sum_bigint("CAST(c AS DECIMAL(38,0)) * c * c - c")
        ).alias("tt"),
    ).crossJoin(F.broadcast(n_users))
    zz = s.withColumn("z_micro", F.expr(_WS_Z))
    xt = zz.withColumn(
        "_x", F.abs(F.col("z_micro") / 1e6) / F.sqrt(F.lit(2.0))
    ).withColumn(
        "_t",
        1 / (1 + 0.3275911 * (F.abs(F.col("z_micro") / 1e6) / F.sqrt(F.lit(2.0)))),
    )
    return xt.select(
        "n_users",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_nonzero"),
        F.expr(
            "CASE WHEN w2p IS NULL THEN NULL ELSE w2p / 2e0 + 0.0 END"
        ).alias("w_plus"),
        F.expr(
            "CASE WHEN n IS NULL OR n < 1 THEN NULL"
            " ELSE round((1e0 * n * (n + 1)) / 4e0, 6) + 0.0 END"
        ).alias("e_w"),
        F.expr(
            "CASE WHEN z_micro IS NULL THEN NULL"
            " ELSE round(z_micro / 1e6, 6) + 0.0 END"
        ).alias("z_stat"),
        F.expr(
            f"CASE WHEN z_micro IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_two_sided"),
    )


# --- Bartlett's variance-homogeneity test ------------------------------------------

# Bartlett (1937): the normal-theory k-group variance-homogeneity test,
# completing the scale trio — brown_forsythe (moment-robust F),
# fligner_killeen (rank-robust, this batch), Bartlett (most powerful
# under normality, the textbook reference point the robust pair is
# compared against). T = [(N-k) ln Sp^2 - sum_j (n_j-1) ln s_j^2] / C,
# C = 1 + (sum_j 1/(n_j-1) - 1/(N-k)) / (3(k-1)), chi-square with k-1
# dof via the house Fisher sqrt-2-chi2 z. Per-group ln terms and the
# pooled-variance numerators e6-quantize BEFORE the k-row sums (the KW
# device — a k-row double sum is order-dependent across engines);
# second moments ride the DECIMAL(38,0) guard. Any group with n_j < 2
# or zero variance NULLs the readout loud (ln undefined — the
# documented degenerate).
_BL_T6 = (
    "CAST(round(1000000 * (n - 1)"
    " * ln((1e0 * q - (1e0 * s) * s / n) / (n - 1))) AS BIGINT)"
)
_BL_V6 = (
    "CAST(round(1000000 * (1e0 * q - (1e0 * s) * s / n)) AS BIGINT)"
)
_BL_I9 = "CAST(round(1000000000 / (1e0 * (n - 1))) AS BIGINT)"
# greatest(0, .): T is nonnegative by theory (pooled-variance log-sum
# inequality); the e6 quantization can land the equal-variance fixed
# point at -1e-6, so both engines clamp to the theoretical floor.
_BL_T = (
    "CASE WHEN k < 2 OR nn - k < 1 OR any_bad > 0"
    " OR t6 IS NULL OR v6 IS NULL OR i9 IS NULL OR v6 <= 0 THEN NULL"
    " ELSE greatest(0e0, ((1e0 * nn - k) * ln((v6 / 1e6) / (nn - k)) - t6 / 1e6)"
    " / (1e0 + (i9 / 1e9 - 1e0 / (nn - k)) / (3e0 * (k - 1)))) END"
)
_BL_Z = (
    f"CASE WHEN ({_BL_T}) IS NULL OR ({_BL_T}) < 0 THEN NULL"
    f" ELSE round(sqrt(2 * ({_BL_T})) - sqrt(2.0 * dof - 1), 6) + 0.0 END"
)


def _bl_oracle() -> str:
    poly = _as_erfc_poly()
    return f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n,
         sum(n_chars)::BIGINT AS s,
         {_dec_sum_bigint("CAST(n_chars AS DECIMAL(38,0)) * n_chars")} AS q
  FROM documents GROUP BY source
),
terms AS (
  SELECT n, s, q,
         CASE WHEN n < 2 OR q IS NULL
                   OR (1e0 * q - (1e0 * s) * s / n) <= 0 THEN 1 ELSE 0 END
           AS bad,
         CASE WHEN n < 2 OR q IS NULL
                   OR (1e0 * q - (1e0 * s) * s / n) <= 0 THEN 0
              ELSE {_BL_T6} END AS t6,
         CASE WHEN n < 2 OR q IS NULL THEN 0 ELSE {_BL_V6} END AS v6,
         CASE WHEN n < 2 THEN 0 ELSE {_BL_I9} END AS i9
  FROM per
),
s AS (
  SELECT count(*)::BIGINT AS k,
         CAST(sum(n) AS BIGINT) AS nn,
         CAST(max(bad) AS BIGINT) AS any_bad,
         {_dec_sum_bigint("CAST(t6 AS DECIMAL(38,0))")} AS t6,
         {_dec_sum_bigint("CAST(v6 AS DECIMAL(38,0))")} AS v6,
         {_dec_sum_bigint("CAST(i9 AS DECIMAL(38,0))")} AS i9
  FROM terms
),
st AS (SELECT nn AS n_docs, k AS n_groups, k - 1 AS dof, * FROM s),
zz AS (SELECT *, {_BL_Z} AS z_stat FROM st),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_docs, n_groups, dof,
       CASE WHEN ({_BL_T}) IS NULL THEN NULL
            ELSE round(({_BL_T}), 6) + 0.0 END AS t_stat,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("bartlett_variance_by_source", oracle=_bl_oracle())
def bartlett_variance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test: are the k = |sources| document-length VARIANCES
    equal, under the normal-theory sharpest test? Completes the
    variance-homogeneity trio — the registered
    ``brown_forsythe_length_variance`` (median-based F, robust to
    non-normality), this batch's ``fligner_killeen_scale_by_source``
    (rank-based, fully distribution-free), and Bartlett (uniformly most
    powerful under normality but famously tail-sensitive — the
    reference point both robust tests are calibrated against, so a
    corpus where Bartlett fires and Fligner-Killeen does not is itself
    the classic heavy-tail diagnostic).

    Exactness: per-group second moments promote per-row to
    DECIMAL(38,0) and ride ``_dec_sum_bigint``; the per-group
    (n_j-1) ln s_j^2 terms, pooled-variance numerators, and 1/(n_j-1)
    reciprocals e6/e9-quantize through shared texts BEFORE the k-row
    guarded sums (a k-row double sum is order-dependent across
    engines); the Bartlett correction C, the statistic, Fisher's z
    (house chi-square tail device) and the one-sided erfc p are single
    shared scalar texts. Any group with n_j < 2 or zero variance NULLs
    the readout loud (ln undefined).

    Scale shape: ONE corpus aggregate to the k-row per-source moment
    frame, then scalar reduces — nothing else touches the corpus."""
    poly = _as_erfc_poly()
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s"),
            F.expr(
                _dec_sum_bigint("CAST(n_chars AS DECIMAL(38,0)) * n_chars")
            ).alias("q"),
        )
    )
    terms = per.select(
        "n",
        "s",
        "q",
        F.expr(
            "CASE WHEN n < 2 OR q IS NULL"
            " OR (1e0 * q - (1e0 * s) * s / n) <= 0 THEN 1 ELSE 0 END"
        ).alias("bad"),
        F.expr(
            f"CASE WHEN n < 2 OR q IS NULL"
            f" OR (1e0 * q - (1e0 * s) * s / n) <= 0 THEN 0"
            f" ELSE {_BL_T6} END"
        ).alias("t6"),
        F.expr(
            f"CASE WHEN n < 2 OR q IS NULL THEN 0 ELSE {_BL_V6} END"
        ).alias("v6"),
        F.expr(f"CASE WHEN n < 2 THEN 0 ELSE {_BL_I9} END").alias("i9"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.max("bad").cast("long").alias("any_bad"),
        F.expr(_dec_sum_bigint("CAST(t6 AS DECIMAL(38,0))")).alias("t6"),
        F.expr(_dec_sum_bigint("CAST(v6 AS DECIMAL(38,0))")).alias("v6"),
        F.expr(_dec_sum_bigint("CAST(i9 AS DECIMAL(38,0))")).alias("i9"),
    )
    st = s.select(
        F.col("nn").alias("n_docs"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).alias("dof"),
        "*",
    )
    zz = st.withColumn("z_stat", F.expr(_BL_Z))
    xt = zz.withColumn(
        "_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))
    ).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_docs",
        "n_groups",
        "dof",
        F.expr(
            f"CASE WHEN ({_BL_T}) IS NULL THEN NULL"
            f" ELSE round(({_BL_T}), 6) + 0.0 END"
        ).alias("t_stat"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- streaming TOST guardrail twin -------------------------------------------------


@query(
    "stream_tost_guardrail",
    oracle=_tost_oracle(where="WHERE event_id % 2 = 1"),
)
def stream_tost_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOST equivalence readout computed ON THE INGEST PATH — the
    11th streaming twin (the ``stream_dersimonian_laird_monitor``
    pattern): the odd-event_id half of the event stream replays as 2
    micro-batches; each batch appends its PER-ARM integer partials
    (count, cent sum, guarded squared-cent sum — bounded: 2 cells per
    batch, not users) to a managed table; the readout merges partials
    by plain summation and runs the IDENTICAL ``_tost_readout`` scalar
    pipeline as the batch query. The arm hash is a pure function of
    user_id, so a user whose events straddle micro-batches lands in the
    same arm cell every time and the merge is exact. A per-batch
    squared-cent overflow NULLs that batch's partial, and the guarded
    merge NULLs the readout — loud end to end. This is the live
    launch-parity dashboard shape: "is the new path still provably
    within 5% of control" recomputed as events arrive.

    Scale shape: per micro-batch one map-side-combined aggregate to 2
    cells; the managed table holds batches x 2 rows; the merge and
    readout are scalar."""
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    held = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    arm_expr = f"pmod({T.h48_spark('cast(user_id as string)')}, 2)"

    def _cell_batch(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(F.expr(arm_expr).alias("arm")).agg(
            F.count(F.lit(1)).cast("long").alias("dn"),
            F.sum("cents").cast("long").alias("ds"),
            F.expr(
                _dec_sum_bigint("CAST(cents AS DECIMAL(38,0)) * cents")
            ).alias("dq"),
        )

    partials = replay_split_stream(
        spark,
        held,
        "event_id long, user_id long, cents long",
        _cell_batch,
        "tost_arm_partials",
        split_col="event_id",
    )
    m = partials.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("dn")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("dn")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("ds")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("ds")).otherwise(0))
        .cast("long")
        .alias("s1"),
        # SUM skips NULLs, which would silently DROP an overflowed batch
        # partial instead of propagating it — the explicit any-NULL
        # tripwire keeps the loud contract end to end (and matches the
        # oracle: a partial that left int64 implies the full-half sum
        # did too, so both engines read NULL).
        F.expr(
            "CASE WHEN max(CASE WHEN arm = 0 AND dq IS NULL THEN 1 ELSE 0 END) = 1"
            " THEN CAST(NULL AS BIGINT) ELSE "
            + _dec_sum_bigint(
                "CASE WHEN arm = 0 THEN CAST(dq AS DECIMAL(38,0)) ELSE 0 END"
            )
            + " END"
        ).alias("q0"),
        F.expr(
            "CASE WHEN max(CASE WHEN arm = 1 AND dq IS NULL THEN 1 ELSE 0 END) = 1"
            " THEN CAST(NULL AS BIGINT) ELSE "
            + _dec_sum_bigint(
                "CASE WHEN arm = 1 THEN CAST(dq AS DECIMAL(38,0)) ELSE 0 END"
            )
            + " END"
        ).alias("q1"),
    )
    return _tost_readout(m)


# --- Theil-Sen confidence bounds ----------------------------------------------------

# Sen (1968) / Gilbert (1987): the distribution-free confidence interval
# for the Theil-Sen slope — the order statistics of the pairwise-slope
# total order at ranks (M -+ C)/2 with C = z_{a/2} sqrt(Var(S)),
# Var(S) = n(n-1)(2n+5)/18 (the Kendall-S variance; the untied form —
# epoch days are distinct by construction and count ties leave S's
# variance formula as the documented spec). Completes the registered
# ``theil_sen_daily_trend`` point estimate with the interval a trend
# dashboard actually acts on ("does the CI exclude zero slope").
_TS_C = (
    "CASE WHEN nn < 3 THEN NULL"
    " ELSE 1.959964e0"
    " * sqrt((1e0 * nn * (nn - 1)) * (2e0 * nn + 5) / 18e0) END"
)
_TS_M1 = (
    f"CASE WHEN ({_TS_C}) IS NULL OR t < 1 THEN NULL"
    f" ELSE greatest(1, CAST(round((t - ({_TS_C})) / 2e0) AS BIGINT)) END"
)
_TS_M2 = (
    f"CASE WHEN ({_TS_C}) IS NULL OR t < 1 THEN NULL"
    f" ELSE least(t, CAST(round((t + ({_TS_C})) / 2e0) AS BIGINT) + 1) END"
)


def _tsc_oracle() -> str:
    return f"""
WITH d AS (
  SELECT {_fdiv_duck("epoch_us(ts)", 86400000000)} AS d, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
p AS (
  SELECT a.d AS da, b.d AS db,
         CAST(round((b.c - a.c) * 1000000.0 / (b.d - a.d)) AS BIGINT) AS slope_e6
  FROM d a JOIN d b ON b.d > a.d
),
r AS (
  SELECT slope_e6,
         row_number() OVER (ORDER BY slope_e6, da, db) AS r,
         count(*) OVER () AS t
  FROM p
),
nn AS (SELECT count(*)::BIGINT AS nn FROM d),
kk AS (
  SELECT nn.nn, coalesce(max(r.t), 0)::BIGINT AS t FROM nn LEFT JOIN r ON TRUE
  GROUP BY nn.nn
),
ms AS (SELECT nn, t, {_TS_M1} AS m1, {_TS_M2} AS m2 FROM kk),
med AS (
  SELECT avg(slope_e6) AS med_e6 FROM r
  WHERE r = (t + 1) // 2 OR r = t // 2 + 1
),
sel AS (
  SELECT max(CASE WHEN r.r = ms.m1 THEN r.slope_e6 END) AS lo_e6,
         max(CASE WHEN r.r = ms.m2 THEN r.slope_e6 END) AS hi_e6
  FROM r, ms
)
SELECT ms.nn AS n_days, ms.t AS n_pairs,
       round(med.med_e6 / 1000000.0, 6) + 0.0 AS sen_slope,
       CASE WHEN ms.m1 IS NULL THEN NULL
            ELSE round(sel.lo_e6 / 1000000.0, 6) + 0.0 END AS ci_lo,
       CASE WHEN ms.m2 IS NULL THEN NULL
            ELSE round(sel.hi_e6 / 1000000.0, 6) + 0.0 END AS ci_hi,
       CASE WHEN ms.m1 IS NULL OR ms.m2 IS NULL THEN NULL
            ELSE sel.lo_e6 > 0 OR sel.hi_e6 < 0 END AS trend_significant
FROM ms, med, sel
"""


@query("theil_sen_ci_daily_trend", oracle=_tsc_oracle())
def theil_sen_ci_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's distribution-free 95% confidence bounds for the Theil-Sen
    daily-volume slope (Sen 1968; the Gilbert 1987 field form) — the
    interval companion of the registered ``theil_sen_daily_trend``: the
    point estimate says how fast volume trends, the order-statistic
    bounds at ranks (M -+ z sqrt(Var S))/2 of the SAME pairwise-slope
    total order say whether that trend is distinguishable from zero
    without any normality assumption — the robust twin of the OLS
    slope's t-interval, and the readout a capacity-planning dashboard
    acts on (``trend_significant`` = the CI excludes zero).

    Exactness: identical pair frame and (slope_e6, da, db) total order
    as the registered point estimate (quantize-before-selection); M, n,
    Var(S) and the two rank cutoffs are one shared text over exact
    integers (rank arithmetic in int64 — days^2 pairs can't leave it);
    the CI endpoints are exact rank lookups; epoch days are distinct so
    the untied Var(S) form applies by construction (documented spec —
    y-ties in daily counts are not corrected, matching the standard
    field form). Day bucketing uses the true-floor ``_fdiv`` pair
    (ADVICE r12 #3), matching the Python reference's floor semantics on
    every dividend sign; the registered point-estimate sibling keeps
    its truncating form (identical on the ts >= epoch data envelope)
    until its own rotation window.

    Scale shape: the registered sibling's shape — corpus collapses to
    the |days| frame, the O(days^2) pair frame is a broadcast self-join
    bounded by the time horizon (not the corpus), the rank pass is
    banded, and the CI lookups are broadcast filters on it."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )
    from flink_realtime_sessionize_sample_spark.plans.staging_r8 import _DAY_US

    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr(_fdiv_spark("unix_micros(ts)", _DAY_US)).alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d = materialize(d)  # day frame: pair join twice + the n_days count
    a = d.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = d.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    # nullif: same ANSI divide-by-zero pushdown guard as the registered
    # sibling (the filter can sink into the join condition).
    p = a.join(F.broadcast(b), F.col("db") > F.col("da")).select(
        "da",
        "db",
        F.expr(
            "cast(round((cb - ca) * 1000000.0 / nullif(db - da, 0)) as bigint)"
        ).alias("slope_e6"),
    )
    r = with_global_rank(
        p,
        [F.col("slope_e6").asc(), F.col("da").asc(), F.col("db").asc()],
        rank_col="r",
        total_col="t",
    )
    r = materialize(r)  # bounded pair frame; median + two rank lookups
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    kk = nn.crossJoin(
        F.broadcast(
            r.agg(F.coalesce(F.max("t"), F.lit(0)).cast("long").alias("t"))
        )
    )
    ms = kk.select(
        "nn", "t", F.expr(_TS_M1).alias("m1"), F.expr(_TS_M2).alias("m2")
    )
    med = r.filter(
        (F.col("r") == F.expr("(t + 1) div 2"))
        | (F.col("r") == F.expr("t div 2 + 1"))
    ).agg(F.avg("slope_e6").alias("med_e6"))
    sel = r.crossJoin(F.broadcast(ms.select("m1", "m2"))).agg(
        F.max(F.when(F.col("r") == F.col("m1"), F.col("slope_e6"))).alias(
            "lo_e6"
        ),
        F.max(F.when(F.col("r") == F.col("m2"), F.col("slope_e6"))).alias(
            "hi_e6"
        ),
    )
    return (
        ms.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(sel))
        .select(
            F.col("nn").alias("n_days"),
            F.col("t").alias("n_pairs"),
            (F.round(F.col("med_e6") / 1000000.0, 6) + F.lit(0.0)).alias(
                "sen_slope"
            ),
            F.expr(
                "CASE WHEN m1 IS NULL THEN NULL"
                " ELSE round(lo_e6 / 1e6, 6) + 0.0 END"
            ).alias("ci_lo"),
            F.expr(
                "CASE WHEN m2 IS NULL THEN NULL"
                " ELSE round(hi_e6 / 1e6, 6) + 0.0 END"
            ).alias("ci_hi"),
            F.expr(
                "CASE WHEN m1 IS NULL OR m2 IS NULL THEN NULL"
                " ELSE lo_e6 > 0 OR hi_e6 < 0 END"
            ).alias("trend_significant"),
        )
    )


# --- sign test (paired pre/post) ----------------------------------------------------

# The classic sign test on the same paired per-user differences as the
# Wilcoxon twin: only the SIGN of each nonzero difference enters, which
# trades power for total assumption-freedom (no symmetry requirement —
# the robustness baseline the signed-rank test is compared against; a
# corpus where the two disagree is the textbook skewed-differences
# diagnostic). Exact integer counts; continuity-corrected normal
# approximation z = (2 pos - n -+ 1) / sqrt(n) (the standard large-n
# form; the correction shrinks |2 pos - n| by 1 toward zero), two-sided
# erfc p. n = 0 NULLs loud.
_SG_Z = (
    "CASE WHEN n < 1 THEN NULL"
    " WHEN 2 * pos = n THEN CAST(0 AS BIGINT)"
    " WHEN 2 * pos > n THEN"
    "   CAST(round(1000000 * (2e0 * pos - n - 1) / sqrt(1e0 * n)) AS BIGINT)"
    " ELSE"
    "   CAST(round(1000000 * (2e0 * pos - n + 1) / sqrt(1e0 * n)) AS BIGINT)"
    " END"
)


def _sg_oracle() -> str:
    poly = _as_erfc_poly()
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
bounds AS (SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev),
per_user AS (
  SELECT user_id,
         sum(CASE WHEN us >= (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           - sum(CASE WHEN us < (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           AS d
  FROM ev GROUP BY user_id
),
s AS (
  SELECT count(*)::BIGINT AS n_users,
         sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END)::BIGINT AS n,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS pos
  FROM per_user
),
zz AS (SELECT *, {_SG_Z} AS z_micro FROM s),
xt AS (
  SELECT *, abs(z_micro / 1e6) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_micro / 1e6) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_users, n AS n_nonzero, pos AS n_positive,
       CASE WHEN z_micro IS NULL THEN NULL
            ELSE round(z_micro / 1e6, 6) + 0.0 END AS z_stat,
       CASE WHEN z_micro IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_two_sided
FROM xt
"""


@query("sign_test_prepost", oracle=_sg_oracle())
def sign_test_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign test on the paired per-user pre/post spend differences —
    completing the paired-inference trio: the Welch-style mean tests
    assume moments, ``wilcoxon_signed_rank_prepost`` (this batch)
    assumes symmetry of the differences, and the sign test assumes
    NOTHING beyond independent nonzero signs — it is the robustness
    baseline the signed-rank test is calibrated against, and the pair
    disagreeing is the classic skewed-differences diagnostic a spend
    metric (heavy right tail) triggers in practice.

    Exactness: the same exact integer per-user difference frame as the
    Wilcoxon twin (floor-consistent broadcast midpoint); n, pos are
    exact int64 counts; z is the continuity-corrected normal
    approximation in ONE shared text (exactly balanced signs pin z = 0
    — the mirror intent test), e6-quantized before the two-sided erfc
    p. Zero differences drop and are accounted for (n_users vs
    n_nonzero vs n_positive).

    Scale shape: one corpus aggregate to the per-user frame (broadcast
    1-row midpoint), then ONE count aggregate to a single row."""
    poly = _as_erfc_poly()
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(
        F.expr(_fdiv_spark("min(us) + max(us)", 2)).alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0)
                )
                - F.sum(
                    F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0)
                )
            )
            .cast("long")
            .alias("d")
        )
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("d") != 0, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    zz = s.withColumn("z_micro", F.expr(_SG_Z))
    xt = zz.withColumn(
        "_x", F.abs(F.col("z_micro") / 1e6) / F.sqrt(F.lit(2.0))
    ).withColumn(
        "_t",
        1 / (1 + 0.3275911 * (F.abs(F.col("z_micro") / 1e6) / F.sqrt(F.lit(2.0)))),
    )
    return xt.select(
        "n_users",
        F.col("n").alias("n_nonzero"),
        F.col("pos").alias("n_positive"),
        F.expr(
            "CASE WHEN z_micro IS NULL THEN NULL"
            " ELSE round(z_micro / 1e6, 6) + 0.0 END"
        ).alias("z_stat"),
        F.expr(
            f"CASE WHEN z_micro IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_two_sided"),
    )
