"""Round-14 capability queries (12 queries).

Each query is registered with ``registry.query``, checked against its
DuckDB oracle by the full-registry sweep (tools/verify_drive.py), and
pinned by independent Python references in tests/test_staging_r14.py.

The batch (the three round-12 verdict "next round #4" picks, each a
measured-need family completion, plus five further completions):

* ``storey_qvalue_segments`` — Storey (2002) pi0 estimate + q-values over
  the per-segment p-value battery factored out of the registered
  ``ab_segment_bh_fdr`` (the factor is this round's one sanctioned
  changed-code rotation): BH controls FDR at a fixed alpha, q-values
  report the minimum FDR at which EACH segment would be called — the
  readout experiment dashboards actually show;
* ``benjamini_yekutieli_segments`` — the BY (2001) step-up over the same
  battery: FDR control under arbitrary p-value dependence (segments
  share users, so independence is not guaranteed) — completes the FDR
  trio next to BH and Storey;
* ``stream_storey_qvalue_monitor`` — the 12th streaming twin: per
  micro-batch (segment x arm) integer count partials merge by summation
  into the IDENTICAL battery tail + Storey readout;
* ``cox_ph_score_test`` — the Cox (1972) proportional-hazards SCORE test
  at beta = 0 (Breslow ties) of session lifetime against the session's
  start hour — the survival family's regression gap next to the
  log-rank battery (score/log-rank equivalence for a binary covariate
  is pinned in the tests);
* ``mantel_logrank_trend_tod`` — Mantel's (1963) conditional log-rank
  TREND across the four ordered time-of-day start bands, with the
  per-band O/E table — the ordered-alternative member of the survival
  family (log-rank asks "different?", the trend asks "monotone in the
  dose?");
* ``jarque_bera_event_values`` — Jarque-Bera (1980) moment-based
  normality readout of the event-value distribution (exact DECIMAL /
  HUGEINT power sums; p = exp(-JB/2) is the EXACT chi-square(2) upper
  tail — no polynomial approximation anywhere);
* ``ansari_bradley_scale_ab`` — the two-sample rank SCALE test (Ansari &
  Bradley 1960) between the user-hash arms — the two-sample member the
  variance family was missing (brown_forsythe / fligner_killeen /
  bartlett are k-group), with the tie-exact conditional moments over the
  doubled-score device;
* ``breslow_day_or_homogeneity`` — Breslow-Day (1980) homogeneity of the
  odds ratio across event-type strata — the diagnostic that says whether
  the registered ``mantel_haenszel_stratified_ab`` common-OR summary is
  even meaningful.

Exactness discipline unchanged (staging_r8 header, the dialect-trap
register): integer or quantized-integer corpus sums through the shared
DECIMAL(38,0) symmetric-overflow guard where a sum or per-row product
can leave int64 (power sums that exceed int64 BY DESIGN convert
DECIMAL/HUGEINT -> DOUBLE once — deterministic round-half-even of the
same exact integer on both engines), single shared double expressions
over identical exact operands, e-notation double literals inside
expression text (never bare decimals — Spark parses them as DECIMAL),
6dp rounds with ``+ 0.0``, floor(x+0.5)/ceil(x-0.5) half-away-from-zero
rounding in the Python references, no raw TIMESTAMP outputs,
floor-consistent bucketing via the staging_r12 ``_fdiv``/``pmod`` pair,
ANSI divide-by-zero guards on every denominator a degenerate corpus can
zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators.mat import materialize
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.plans.staging_r12 import (
    _dec_sum_bigint,
    _fdiv_duck,
    _fdiv_spark,
    _pmod_duck,
)
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

def _as_erfc_poly() -> str:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _AS_ERFC_POLY,
    )

    return _AS_ERFC_POLY


def _ab_seg_cte() -> str:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _AB_SEG_P_CTES,
    )

    return _AB_SEG_P_CTES


# --- Storey pi0 + q-values ----------------------------------------------------------

# Storey (2002) / Storey & Tibshirani (2003) at the fixed lambda = 0.5:
#   pi0 = min(1, #{p > 0.5} / (0.5 m))          (the plain estimator; a
#       corpus where EVERY p <= 0.5 reads pi0 = 0 and all q = 0 — the
#       estimator's honest answer when nothing looks null, documented)
#   q(p_(i)) = min_{j >= i} pi0 * m * p_(j) / j  (running min from the
#       largest p down, so q is monotone in p by construction)
# p-values are the battery's 6dp-rounded doubles (identical in both
# engines), so every comparison and ratio below runs on identical
# operands; ranks are integers with the (p, segment) tie-break.
_ST_PI0 = "least(1e0, (1e0 * r_tail) / (5e-1 * m))"
_ST_QRAW = "(pi0 * m * p_value) / p_rank"


def _storey_oracle() -> str:
    return (
        _ab_seg_cte()
        + f""",
rk AS (
  SELECT *, row_number() OVER (ORDER BY p_value ASC, segment ASC) AS p_rank,
         count(*) OVER () AS m,
         sum(CASE WHEN p_value > 5e-1 THEN 1 ELSE 0 END) OVER () AS r_tail
  FROM pv
),
p0 AS (SELECT *, {_ST_PI0} AS pi0 FROM rk),
qv AS (
  SELECT *, min({_ST_QRAW}) OVER (ORDER BY p_rank DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_raw
  FROM p0
)
SELECT segment, n0, c0, n1, c1, z_stat, p_value,
       p_rank::BIGINT AS p_rank,
       round(pi0, 6) + 0.0 AS pi0,
       round(q_raw, 6) + 0.0 AS q_value,
       q_raw <= 5e-2 AS rejected_q05
FROM qv
"""
    )


@query("storey_qvalue_segments", oracle=_storey_oracle())
def storey_qvalue_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey pi0 + q-values over the per-segment A/B battery — the
    FDR-family completion the round-12 verdict named: the registered
    ``ab_segment_bh_fdr`` answers "which segments survive FDR 0.05",
    while the q-value answers "at what FDR would THIS segment first be
    called" (the number dashboards put next to each row), and Storey's
    pi0 adapts the correction to the estimated fraction of true nulls
    (BH implicitly assumes pi0 = 1, so q <= BH-adjusted p always —
    a pinned invariant).

    Shares the battery verbatim with the registered query (the
    ``_AB_SEG_P_CTES`` / ``_ab_seg_pvalues`` factor — this round's one
    sanctioned changed-code rotation): same segments, same planted
    purchase-segment effect, same 6dp-rounded z and p in both engines.

    Exactness: pi0 from an integer tail count through one shared text;
    q = running min over the rank-desc order of one shared ratio text on
    the identical 6dp p doubles; 6dp rounds with + 0.0; the rejected
    flag compares the UNrounded q (both engines share it) to 5e-2.

    Scale shape: the battery's ONE map-side-combined aggregate over the
    event scan; ranks, the tail count, and the running min are global
    windows over the bounded ~20-row segment frame (the documented
    bounded-frame exception)."""
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _ab_seg_pvalues,
    )

    pv = _ab_seg_pvalues(load_table(spark, sf_dir, "events"))
    return _storey_readout(pv)


def _storey_readout(pv: DataFrame) -> DataFrame:
    """Storey pi0/q-value tail over a battery ``pv`` frame (segment, n0,
    c0, n1, c1, z_stat, p_value) — shared by the batch query and the
    streaming twin (the ADVICE r10 #4 readout-over-static-frame rule)."""
    w_rank = Window.orderBy(F.col("p_value").asc(), F.col("segment").asc())
    w_all = Window.partitionBy()  # bounded ~20-row post-aggregate frame
    w_tail = Window.orderBy(F.col("p_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    rk = (
        pv.withColumn("p_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "r_tail",
            F.sum(F.when(F.col("p_value") > 5e-1, 1).otherwise(0)).over(w_all),
        )
    )
    p0 = rk.withColumn("pi0", F.expr(_ST_PI0))
    qv = p0.withColumn("q_raw", F.min(F.expr(_ST_QRAW)).over(w_tail))
    return qv.select(
        "segment",
        "n0",
        "c0",
        "n1",
        "c1",
        "z_stat",
        "p_value",
        "p_rank",
        (F.round(F.col("pi0"), 6) + F.lit(0.0)).alias("pi0"),
        (F.round(F.col("q_raw"), 6) + F.lit(0.0)).alias("q_value"),
        (F.col("q_raw") <= 5e-2).alias("rejected_q05"),
    )


# --- Benjamini-Yekutieli step-up ----------------------------------------------------

# BY (2001): BH's threshold divided by the harmonic number H_m — valid
# under ARBITRARY dependence. H_m is summed as exact e9-quantized
# integers (he9 = sum round(1e9 / j)) so both engines hold the identical
# total regardless of aggregate summation order (a 20-term double sum is
# order-sensitive in the last ulp; the integer form is not). The step-up
# compares p * m * he9 <= rank * 5e7 — one shared text, exact RHS.
_BY_OK = "(p_value * m * he9 <= p_rank * 5e7)"


def _by_oracle() -> str:
    return (
        _ab_seg_cte()
        + f""",
rk AS (
  SELECT *, row_number() OVER (ORDER BY p_value ASC, segment ASC) AS p_rank,
         count(*) OVER () AS m
  FROM pv
),
hm AS (
  SELECT *, sum(CAST(round(1e9 / p_rank) AS BIGINT)) OVER () AS he9 FROM rk
),
ok AS (SELECT *, {_BY_OK} AS _ok FROM hm),
kk AS (
  SELECT *, max(CASE WHEN _ok THEN p_rank ELSE 0 END) OVER () AS _k FROM ok
)
SELECT segment, n0, c0, n1, c1, z_stat, p_value,
       p_rank::BIGINT AS p_rank,
       round((p_rank * 5e-2) / (m * (he9 / 1e9)), 6) + 0.0 AS by_thresh,
       (p_rank <= _k) AS rejected
FROM kk
"""
    )


@query("benjamini_yekutieli_segments", oracle=_by_oracle())
def benjamini_yekutieli_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli (2001) step-up FDR over the per-segment A/B
    battery — the dependence-robust member completing the FDR trio: BH
    (registered) assumes independence/PRDS, Storey (this batch) sharpens
    BH with an estimated pi0, BY divides BH's threshold by the harmonic
    number H_m so FDR control holds under ARBITRARY p-value dependence —
    the honest default when segments share users (they do: the user
    bucket crosses event types).

    Exactness: H_m accumulates as exact e9-quantized integers (he9 =
    sum round(1e9/j)) so the two engines' 20-term sums are identical
    regardless of aggregate order; the step-up comparison
    p * m * he9 <= rank * 5e7 is one shared text with an exact-integer
    right side; thresholds round 6dp with + 0.0. Rejections are a pinned
    SUBSET of the registered BH rejections (BY's threshold is strictly
    smaller for m >= 2).

    Scale shape: identical to the registered BH query — the battery's
    one aggregate, then global windows over the bounded segment frame."""
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _ab_seg_pvalues,
    )

    pv = _ab_seg_pvalues(load_table(spark, sf_dir, "events"))
    w_rank = Window.orderBy(F.col("p_value").asc(), F.col("segment").asc())
    w_all = Window.partitionBy()  # bounded ~20-row post-aggregate frame
    rk = (
        pv.withColumn("p_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "he9",
            F.sum(F.expr("CAST(round(1e9 / p_rank) AS BIGINT)")).over(w_all),
        )
        .withColumn("_ok", F.expr(_BY_OK))
        .withColumn(
            "_k",
            F.max(F.when(F.col("_ok"), F.col("p_rank")).otherwise(0)).over(w_all),
        )
    )
    return rk.select(
        "segment",
        "n0",
        "c0",
        "n1",
        "c1",
        "z_stat",
        "p_value",
        "p_rank",
        (
            F.round((F.col("p_rank") * 5e-2) / (F.col("m") * (F.col("he9") / 1e9)), 6)
            + F.lit(0.0)
        ).alias("by_thresh"),
        (F.col("p_rank") <= F.col("_k")).alias("rejected"),
    )


# --- Cox PH score test / Mantel trend machinery -------------------------------------

# Score test for the Cox (1972) proportional-hazards model at beta = 0
# with Breslow tie handling, for an integer per-subject covariate x:
# per death time t with d deaths, risk-set size n, risk-set covariate
# sums sx = sum x, sx2 = sum x^2:
#   U  = sum_t (dx_t - d_t * sx_t / n_t)
#   V  = sum_t (d_t (n_t - d_t) / (n_t - 1)) * (n_t sx2_t - sx_t^2)/n_t^2
# (Therneau & Grambsch ch. 3; for binary x this is EXACTLY the log-rank
# statistic — pinned against the registered query in the tests, and for
# a categorical dose it is Mantel's 1963 conditional trend test, which
# is why both queries below ride one machinery). E and V e9-quantize
# per time through shared texts (the registered log-rank pattern) so
# their sums are exact integers; z's numerator is o * 1e9 - e_e9.
_CX_E_E9 = "CAST(round(1000000000 * (1e0 * d * sxr) / nr) AS BIGINT)"
_CX_V_E9 = (
    "CASE WHEN nr <= 1 THEN 0"
    " ELSE CAST(round(1000000000 * ((1e0 * d * (nr - d)) / (nr - 1))"
    "      * ((1e0 * nr * sx2r - 1e0 * sxr * sxr) / (1e0 * nr * nr)))"
    " AS BIGINT) END"
)
_CX_Z = (
    "CASE WHEN v_e9 IS NULL THEN NULL WHEN v_e9 <= 0 THEN 0.0"
    " ELSE round((1e0 * o * 1000000000 - e_e9)"
    "      / sqrt(1e0 * v_e9 * 1000000000), 6) + 0.0 END"
)
# Per-band expected-death term (the Mantel trend's O/E table): the
# band's risk count against the time-level totals, restricted to the
# same (d > 0, nr > 0) death times as the z terms.
_CX_EG_E9 = (
    "CASE WHEN d > 0 AND nr > 0"
    " THEN CAST(round(1000000000 * (1e0 * d * ngr) / nr) AS BIGINT)"
    " ELSE 0 END"
)


def _surv_obs_cte() -> str:
    """Oracle CTE prefix: per-session (t, censored, hr) under the
    reference's session semantics — the log-rank battery's observation
    frame (staging_r10 ``_lr_oracle``) extended with the session START
    HOUR (floor-consistent bucketing of the first event's epoch sec)."""
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _SESSIONIZE_CTE,
    )

    return (
        _SESSIONIZE_CTE
        + f""",
sess_end AS (
  SELECT user_id, start_us,
         max(sec - start_sec)::BIGINT AS dur,
         max(sec)::BIGINT AS last_sec,
         min(start_sec)::BIGINT AS st
  FROM sess GROUP BY user_id, start_us
),
gmx AS (SELECT max(sec)::BIGINT AS mx FROM ev),
obs AS (
  SELECT dur AS t, (mx - last_sec) <= 1800 AS censored,
         {_pmod_duck(_fdiv_duck("st", 3600), 24)} AS hr
  FROM sess_end CROSS JOIN gmx
)"""
    )


def _surv_obs_hr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, censored, hr) per session — the Spark twin of
    :func:`_surv_obs_cte`. One sessionize kernel execution; the batch-end
    scalar comes from a thin raw scan (the round-10 debt-1c pattern)."""
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _events_sessionized,
    )

    sz = _events_sessionized(spark, sf_dir).select(
        "session_id",
        F.col("duration").cast("long").alias("duration"),
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    )
    sess_end = sz.groupBy("session_id").agg(
        F.max("duration").cast("long").alias("dur"),
        F.max("sec").cast("long").alias("last_sec"),
        F.min("sec").cast("long").alias("st"),
    )
    gmx = load_table(spark, sf_dir, "events").agg(
        F.max(F.expr("unix_micros(ts) div 1000000")).cast("long").alias("mx")
    )
    return sess_end.crossJoin(F.broadcast(gmx)).select(
        F.col("dur").alias("t"),
        ((F.col("mx") - F.col("last_sec")) <= 1800).alias("censored"),
        F.expr(f"pmod({_fdiv_spark('st', 3600)}, 24)").alias("hr"),
    )


def _cox_terms(bytime: DataFrame) -> DataFrame:
    """Score-test reduction over a per-death-time moment frame
    (t, removed, rx, rx2, d, dx) — returns the 1-row (n_death_times, o,
    e_e9, v_e9) frame. ``bytime`` must already be bounded (the t domain
    is capped at 43201 by the 12-h session cut) and checkpointed by the
    caller so the corpus scans once."""
    tot = bytime.agg(
        F.sum("removed").cast("long").alias("n_all"),
        F.sum("rx").cast("long").alias("sx_all"),
        F.sum("rx2").cast("long").alias("sx2_all"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = bytime.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "dx",
        (F.col("n_all") - F.coalesce(F.sum("removed").over(w), F.lit(0)))
        .cast("long")
        .alias("nr"),
        (F.col("sx_all") - F.coalesce(F.sum("rx").over(w), F.lit(0)))
        .cast("long")
        .alias("sxr"),
        (F.col("sx2_all") - F.coalesce(F.sum("rx2").over(w), F.lit(0)))
        .cast("long")
        .alias("sx2r"),
    )
    return risk.filter((F.col("d") > 0) & (F.col("nr") > 0)).agg(
        F.sum("dx").cast("long").alias("o"),
        F.sum(F.expr(_CX_E_E9)).cast("long").alias("e_e9"),
        F.sum(F.expr(_CX_V_E9)).cast("long").alias("v_e9"),
        F.count(F.lit(1)).cast("long").alias("n_death_times"),
    )


def _cox_readout(terms: DataFrame, o_name: str, e_name: str) -> DataFrame:
    poly = _as_erfc_poly()
    zz = terms.select(
        "n_death_times",
        F.col("o").alias(o_name),
        (F.round(F.col("e_e9") / 1e9, 6) + F.lit(0.0)).alias(e_name),
        F.expr(_CX_Z).alias("z_stat"),
    )
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_death_times",
        o_name,
        e_name,
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_value"),
    )


def _cox_oracle() -> str:
    poly = _as_erfc_poly()
    return (
        _surv_obs_cte()
        + f""",
bytime AS (
  SELECT t, count(*)::BIGINT AS removed,
         CAST(sum(hr) AS BIGINT) AS rx,
         CAST(sum(hr * hr) AS BIGINT) AS rx2,
         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN censored THEN 0 ELSE hr END) AS BIGINT) AS dx
  FROM obs GROUP BY t
),
tot AS (
  SELECT sum(removed)::BIGINT AS n_all, sum(rx)::BIGINT AS sx_all,
         sum(rx2)::BIGINT AS sx2_all
  FROM bytime
),
risk AS (
  SELECT t, d, dx,
         n_all - coalesce(sum(removed) OVER w, 0) AS nr,
         sx_all - coalesce(sum(rx) OVER w, 0) AS sxr,
         sx2_all - coalesce(sum(rx2) OVER w, 0) AS sx2r
  FROM bytime CROSS JOIN tot
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
terms AS (
  SELECT CAST(sum(dx) AS BIGINT) AS o,
         CAST(sum({_CX_E_E9}) AS BIGINT) AS e_e9,
         CAST(sum({_CX_V_E9}) AS BIGINT) AS v_e9,
         count(*)::BIGINT AS n_death_times
  FROM risk WHERE d > 0 AND nr > 0
),
zz AS (
  SELECT n_death_times, o AS o_hours,
         round(e_e9 / 1e9, 6) + 0.0 AS e_hours, {_CX_Z} AS z_stat
  FROM terms
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_death_times, o_hours, e_hours, z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_value
FROM xt
"""
    )


@query("cox_ph_score_test", oracle=_cox_oracle())
def cox_ph_score_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards SCORE test (Cox 1972; Breslow ties) at
    beta = 0: does session lifetime depend on the session's START HOUR?
    The survival family's regression-side completion the round-12
    verdict named — the log-rank battery (two-arm, stratified, weighted,
    trend) compares GROUPS, while the score test takes a numeric
    per-subject covariate and asks whether the hazard is monotone in it,
    without fitting the full partial likelihood (the score evaluated at
    beta = 0 needs only risk-set covariate moments, which is what makes
    it exactly SQL-shaped). For a binary covariate it reduces to the
    log-rank test — pinned against the registered
    ``logrank_test_session_survival`` in the tests — and for a
    categorical dose it is Mantel's conditional trend
    (``mantel_logrank_trend_tod``, same machinery).

    Exactness: the observation frame is the log-rank battery's (same
    sessionize semantics, same censoring rule); per-time risk moments
    (n, sum x, sum x^2) are exact integer suffix sums over the bounded
    time grid; per-time E and V e9-quantize through shared texts so
    their sums are exact; z's numerator is the integer o*1e9 - e_e9;
    two-sided p via the shared erfc polynomial on rounded z. The hour
    bucketing uses the floor-consistent _fdiv/pmod forms from birth.

    Scale shape: sessionize's one-shuffle pass -> ONE map-side-combined
    aggregate onto the bounded (<= 43201-row) death-time frame
    (checkpointed; the kernel executes once under every config) ->
    bounded suffix windows -> one scalar reduce."""
    obs = _surv_obs_hr(spark, sf_dir)
    bytime = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("removed"),
        F.sum("hr").cast("long").alias("rx"),
        F.sum(F.col("hr") * F.col("hr")).cast("long").alias("rx2"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("long").alias("d"),
        F.sum(F.when(F.col("censored"), 0).otherwise(F.col("hr")))
        .cast("long")
        .alias("dx"),
    )
    bytime = materialize(bytime)  # bounded t-grid; 2 consumers
    return _cox_readout(_cox_terms(bytime), "o_hours", "e_hours")


def _mt_oracle() -> str:
    poly = _as_erfc_poly()
    band = _fdiv_duck("hr", 6)
    return (
        _surv_obs_cte()
        + f""",
grid AS (
  SELECT t, {band} AS g, count(*)::BIGINT AS removed_g,
         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d_g
  FROM obs GROUP BY t, {band}
),
bytime AS (
  SELECT t, CAST(sum(removed_g) AS BIGINT) AS removed,
         CAST(sum(g * removed_g) AS BIGINT) AS rx,
         CAST(sum(g * g * removed_g) AS BIGINT) AS rx2,
         CAST(sum(d_g) AS BIGINT) AS d,
         CAST(sum(g * d_g) AS BIGINT) AS dx
  FROM grid GROUP BY t
),
tot AS (
  SELECT sum(removed)::BIGINT AS n_all, sum(rx)::BIGINT AS sx_all,
         sum(rx2)::BIGINT AS sx2_all
  FROM bytime
),
risk AS (
  SELECT t, d, dx,
         n_all - coalesce(sum(removed) OVER w, 0) AS nr,
         sx_all - coalesce(sum(rx) OVER w, 0) AS sxr,
         sx2_all - coalesce(sum(rx2) OVER w, 0) AS sx2r
  FROM bytime CROSS JOIN tot
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
terms AS (
  SELECT CAST(sum(dx) AS BIGINT) AS o,
         CAST(sum({_CX_E_E9}) AS BIGINT) AS e_e9,
         CAST(sum({_CX_V_E9}) AS BIGINT) AS v_e9,
         count(*)::BIGINT AS n_death_times
  FROM risk WHERE d > 0 AND nr > 0
),
btot AS (SELECT g, sum(removed_g)::BIGINT AS n_g FROM grid GROUP BY g),
dense AS (
  -- DENSIFY: a band with no removal at a death time still sits in the
  -- risk set there and owes its E contribution — the sparse grid alone
  -- would silently drop it (caught by the Python brute-force reference
  -- before staging).
  SELECT tt.t, gg.g,
         coalesce(grid.removed_g, 0) AS removed_g,
         coalesce(grid.d_g, 0) AS d_g
  FROM (SELECT DISTINCT t FROM grid) tt
  CROSS JOIN (SELECT DISTINCT g FROM grid) gg
  LEFT JOIN grid ON grid.t = tt.t AND grid.g = gg.g
),
brisk AS (
  SELECT dense.t, dense.g, dense.d_g,
         btot.n_g - coalesce(sum(dense.removed_g)
           OVER (PARTITION BY dense.g ORDER BY dense.t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ngr
  FROM dense JOIN btot USING (g)
),
bterm AS (
  SELECT b.g,
         CAST(sum(b.d_g) AS BIGINT) AS o_g,
         CAST(sum(CASE WHEN r.d > 0 AND r.nr > 0 THEN
           CAST(round(1000000000 * (1e0 * r.d * b.ngr) / r.nr) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS e_g_e9
  FROM brisk b JOIN risk r ON b.t = r.t
  GROUP BY b.g
),
piv AS (
  SELECT coalesce(CAST(sum(CASE WHEN g = 0 THEN o_g END) AS BIGINT), 0) AS o_b0,
         coalesce(CAST(sum(CASE WHEN g = 1 THEN o_g END) AS BIGINT), 0) AS o_b1,
         coalesce(CAST(sum(CASE WHEN g = 2 THEN o_g END) AS BIGINT), 0) AS o_b2,
         coalesce(CAST(sum(CASE WHEN g = 3 THEN o_g END) AS BIGINT), 0) AS o_b3,
         coalesce(CAST(sum(CASE WHEN g = 0 THEN e_g_e9 END) AS BIGINT), 0) AS e0,
         coalesce(CAST(sum(CASE WHEN g = 1 THEN e_g_e9 END) AS BIGINT), 0) AS e1,
         coalesce(CAST(sum(CASE WHEN g = 2 THEN e_g_e9 END) AS BIGINT), 0) AS e2,
         coalesce(CAST(sum(CASE WHEN g = 3 THEN e_g_e9 END) AS BIGINT), 0) AS e3
  FROM bterm
),
zz AS (
  SELECT n_death_times, {_CX_Z} AS z_stat FROM terms
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_death_times,
       o_b0, o_b1, o_b2, o_b3,
       round(e0 / 1e9, 6) + 0.0 AS e_b0,
       round(e1 / 1e9, 6) + 0.0 AS e_b1,
       round(e2 / 1e9, 6) + 0.0 AS e_b2,
       round(e3 / 1e9, 6) + 0.0 AS e_b3,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_value
FROM xt CROSS JOIN piv
"""
    )


@query("mantel_logrank_trend_tod", oracle=_mt_oracle())
def mantel_logrank_trend_tod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel's (1963) conditional log-rank TREND across the four
    ordered time-of-day start bands (night/morning/afternoon/evening =
    start hour div 6, scores 0..3): do sessions that start later in the
    day die monotonically faster (or slower)? The ordered-alternative
    member the survival family was missing — the registered two-arm /
    stratified / weighted log-ranks ask "do the curves differ", the
    trend asks the dose-response question, exactly as
    jonckheere_terpstra does for the unblocked rank design. The
    statistic is the Cox score test with the band score as covariate
    (shared ``_cox_terms`` machinery — the equivalence is the documented
    spec, not an approximation), plus the per-band observed/expected
    death table every survival readout prints.

    Scores are the RAW band indices (0..3): unlike Page's L (ADVICE r12
    #2), the hypergeometric U/V use the risk sets' ACTUAL score moments,
    so an empty band contributes nothing and no dense re-ranking is
    needed — the formulas stay valid for any score assignment.

    Exactness: identical observation frame and censoring as the log-rank
    battery; ONE corpus aggregate onto the bounded (t x 4-band) grid
    (checkpointed — the sessionize kernel executes once), from which the
    time-level moment frame, the per-band risk windows, and both O/E
    reductions derive; per-time E/V and per-band E e9-quantize through
    shared texts; two-sided p on the rounded z.

    Scale shape: sessionize's one-shuffle pass -> one aggregate to the
    <= 43201 x 4 grid; suffix windows (global and band-partitioned) and
    two scalar reduces on that bounded frame only."""
    obs = _surv_obs_hr(spark, sf_dir)
    grid = obs.groupBy(
        "t", F.expr(_fdiv_spark("hr", 6)).alias("g")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("removed_g"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("long").alias("d_g"),
    )
    grid = materialize(grid)  # bounded t x 4 grid; 3 consumers
    bytime = grid.groupBy("t").agg(
        F.sum("removed_g").cast("long").alias("removed"),
        F.sum(F.col("g") * F.col("removed_g")).cast("long").alias("rx"),
        F.sum(F.col("g") * F.col("g") * F.col("removed_g"))
        .cast("long")
        .alias("rx2"),
        F.sum("d_g").cast("long").alias("d"),
        F.sum(F.col("g") * F.col("d_g")).cast("long").alias("dx"),
    )
    bytime = materialize(bytime)  # bounded; terms + the band join
    terms = _cox_terms(bytime)
    # Per-band O/E over the same grid: band risk sets from
    # band-partitioned suffix windows, E against the time-level totals.
    btot = grid.groupBy("g").agg(F.sum("removed_g").cast("long").alias("n_g"))
    # DENSIFY: a band with no removal at a death time still sits in the
    # risk set there and owes its E contribution — the sparse grid alone
    # would silently drop it (caught by the Python brute-force reference
    # before staging). Bounded cross of two bounded distincts.
    dense = (
        grid.select("t")
        .distinct()
        .crossJoin(F.broadcast(grid.select("g").distinct()))
        .join(grid, ["t", "g"], "left")
        .select(
            "t",
            "g",
            F.coalesce(F.col("removed_g"), F.lit(0)).alias("removed_g"),
            F.coalesce(F.col("d_g"), F.lit(0)).alias("d_g"),
        )
    )
    wg = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brisk = dense.join(F.broadcast(btot), "g").select(
        "t",
        "g",
        "d_g",
        (F.col("n_g") - F.coalesce(F.sum("removed_g").over(wg), F.lit(0)))
        .cast("long")
        .alias("ngr"),
    )
    tw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    tot_t = bytime.agg(F.sum("removed").cast("long").alias("n_all"))
    risk_t = bytime.crossJoin(F.broadcast(tot_t)).select(
        "t",
        "d",
        (F.col("n_all") - F.coalesce(F.sum("removed").over(tw), F.lit(0)))
        .cast("long")
        .alias("nr"),
    )
    bterm = brisk.join(risk_t, "t").groupBy("g").agg(
        F.sum("d_g").cast("long").alias("o_g"),
        F.sum(F.expr(_CX_EG_E9)).cast("long").alias("e_g_e9"),
    )
    piv = bterm.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("g") == i, F.col("o_g"))).cast("long"), F.lit(0)
            ).alias(f"o_b{i}")
            for i in range(4)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("g") == i, F.col("e_g_e9"))).cast("long"),
                F.lit(0),
            ).alias(f"e{i}")
            for i in range(4)
        ],
    )
    poly = _as_erfc_poly()
    zz = terms.select("n_death_times", F.expr(_CX_Z).alias("z_stat"))
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.crossJoin(F.broadcast(piv)).select(
        "n_death_times",
        "o_b0",
        "o_b1",
        "o_b2",
        "o_b3",
        (F.round(F.col("e0") / 1e9, 6) + F.lit(0.0)).alias("e_b0"),
        (F.round(F.col("e1") / 1e9, 6) + F.lit(0.0)).alias("e_b1"),
        (F.round(F.col("e2") / 1e9, 6) + F.lit(0.0)).alias("e_b2"),
        (F.round(F.col("e3") / 1e9, 6) + F.lit(0.0)).alias("e_b3"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Jarque-Bera normality readout ---------------------------------------------------

# Jarque & Bera (1980): JB = n/6 * (S^2 + K^2/4) with S the sample
# skewness and K the excess kurtosis, asymptotically chi-square(2) under
# normality — and the chi-square(2) upper tail is EXACTLY exp(-JB/2)
# (no polynomial approximation anywhere in this query). Power sums: c^2
# stays in int64 per row (|cents| <= 3e9), the corpus sums of c^2, c^3,
# c^4 leave int64 BY DESIGN and are accumulated exactly wide (Spark
# DECIMAL(38,0), DuckDB HUGEINT) then converted to DOUBLE once — the
# round-half-even of the same exact integer is identical on both
# engines (the fligner-killeen pool-sum precedent). Central-moment
# algebra is a layered projection over those identical doubles.
_JB_M1 = "CASE WHEN nn < 2 THEN NULL ELSE 1e0 * s1 / nn END"
_JB_M2 = "CASE WHEN m1 IS NULL THEN NULL ELSE d2 / nn - m1 * m1 END"
_JB_M3 = (
    "CASE WHEN m1 IS NULL THEN NULL"
    " ELSE d3 / nn - 3e0 * m1 * (d2 / nn) + 2e0 * m1 * m1 * m1 END"
)
_JB_M4 = (
    "CASE WHEN m1 IS NULL THEN NULL"
    " ELSE d4 / nn - 4e0 * m1 * (d3 / nn)"
    " + 6e0 * m1 * m1 * (d2 / nn) - 3e0 * m1 * m1 * m1 * m1 END"
)
_JB_SKEW = (
    "CASE WHEN m2 IS NULL OR m2 <= 0e0 THEN NULL"
    " ELSE m3 / (m2 * sqrt(m2)) END"
)
_JB_KURT = (
    "CASE WHEN m2 IS NULL OR m2 <= 0e0 THEN NULL"
    " ELSE m4 / (m2 * m2) - 3e0 END"
)
_JB_STAT = (
    "CASE WHEN skew IS NULL OR kurt IS NULL THEN NULL"
    " ELSE (1e0 * nn / 6e0) * (skew * skew + (kurt * kurt) / 4e0) END"
)


def _jb_oracle() -> str:
    return f"""
WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
e2 AS (SELECT c, c * c AS c2 FROM e),
s AS (
  SELECT count(*)::BIGINT AS nn,
         sum(c)::BIGINT AS s1,
         CAST(sum(c2::HUGEINT) AS DOUBLE) AS d2,
         CAST(sum(c2::HUGEINT * c) AS DOUBLE) AS d3,
         CAST(sum(c2::HUGEINT * c2) AS DOUBLE) AS d4
  FROM e2
),
l1 AS (SELECT *, {_JB_M1} AS m1 FROM s),
l2 AS (SELECT *, {_JB_M2} AS m2, {_JB_M3} AS m3, {_JB_M4} AS m4 FROM l1),
l3 AS (SELECT *, {_JB_SKEW} AS skew, {_JB_KURT} AS kurt FROM l2),
l4 AS (SELECT *, {_JB_STAT} AS jb FROM l3)
SELECT nn AS n_events,
       CASE WHEN m1 IS NULL THEN NULL ELSE round(m1, 6) + 0.0 END AS mean_cents,
       CASE WHEN skew IS NULL THEN NULL ELSE round(skew, 6) + 0.0 END AS skewness,
       CASE WHEN kurt IS NULL THEN NULL ELSE round(kurt, 6) + 0.0 END
         AS kurtosis_excess,
       CASE WHEN jb IS NULL THEN NULL ELSE round(jb, 6) + 0.0 END AS jb_stat,
       CASE WHEN jb IS NULL THEN NULL ELSE round(exp(-jb / 2e0), 6) + 0.0 END
         AS p_value
FROM l4
"""


@query("jarque_bera_event_values", oracle=_jb_oracle())
def jarque_bera_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera moment-based normality readout of the event-value
    distribution — the parametric normality member next to the
    registered empirical-shape family (ks_drift_detection, cvm, kuiper
    compare distributions to EACH OTHER; benford audits digits; JB asks
    the modeling question "is this metric normal enough for the t/Welch
    machinery", reporting the skewness and excess kurtosis that answer
    WHY not). p = exp(-JB/2) is the exact chi-square(2) survival
    function — the rare test in this repo whose p-value needs no
    polynomial approximation at all.

    Exactness: the c^2 per-row product stays in int64 (|cents| <= 3e9
    documented envelope); the corpus power sums accumulate exactly wide
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — both exact, both beyond
    int64 by design) and convert to DOUBLE once, identically rounded on
    both engines; the central-moment/skew/kurtosis/JB algebra is one
    shared layered text over those identical doubles; degenerate
    corpora (n < 2 or zero variance) NULL every statistic loud.

    Scale shape: ONE corpus scan -> one map-side-combined scalar
    aggregate (five sums); everything downstream is 1-row algebra."""
    e2 = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    ).select("c", (F.col("c") * F.col("c")).alias("c2"))
    s = e2.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("c").cast("long").alias("s1"),
        F.expr("CAST(sum(CAST(c2 AS DECIMAL(38,0))) AS DOUBLE)").alias("d2"),
        F.expr("CAST(sum(CAST(c2 AS DECIMAL(38,0)) * c) AS DOUBLE)").alias("d3"),
        F.expr("CAST(sum(CAST(c2 AS DECIMAL(38,0)) * c2) AS DOUBLE)").alias("d4"),
    )
    return _jb_readout(s)


def _jb_readout(s: DataFrame) -> DataFrame:
    """JB moment algebra over a 1-row (nn, s1, d2, d3, d4) frame —
    shared by the batch query and the streaming twin (the ADVICE r10 #4
    readout-over-static-frame rule)."""
    l1 = s.withColumn("m1", F.expr(_JB_M1))
    l2 = l1.select(
        "*",
        F.expr(_JB_M2).alias("m2"),
        F.expr(_JB_M3).alias("m3"),
        F.expr(_JB_M4).alias("m4"),
    )
    l3 = l2.select(
        "*", F.expr(_JB_SKEW).alias("skew"), F.expr(_JB_KURT).alias("kurt")
    )
    l4 = l3.withColumn("jb", F.expr(_JB_STAT))
    return l4.select(
        F.col("nn").alias("n_events"),
        F.expr(
            "CASE WHEN m1 IS NULL THEN NULL ELSE round(m1, 6) + 0.0 END"
        ).alias("mean_cents"),
        F.expr(
            "CASE WHEN skew IS NULL THEN NULL ELSE round(skew, 6) + 0.0 END"
        ).alias("skewness"),
        F.expr(
            "CASE WHEN kurt IS NULL THEN NULL ELSE round(kurt, 6) + 0.0 END"
        ).alias("kurtosis_excess"),
        F.expr(
            "CASE WHEN jb IS NULL THEN NULL ELSE round(jb, 6) + 0.0 END"
        ).alias("jb_stat"),
        F.expr(
            "CASE WHEN jb IS NULL THEN NULL"
            " ELSE round(exp(-jb / 2e0), 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Ansari-Bradley two-sample scale test --------------------------------------------

# Ansari & Bradley (1960): rank both arms' pooled values; score each
# observation a = (N+1)/2 - |rank - (N+1)/2| (small at the extremes,
# large in the middle); W = sum of arm-1 scores. If arm 1 is MORE
# dispersed its values crowd the extremes and W is small. Mid-rank ties
# via the doubled device (the KW/wilcoxon r2 = 2*midrank integer), so
# the doubled score a2 = (N+1) - |r2 - (N+1)| is an exact integer.
# Conditional moments over the realized score multiset (exact under
# ties — Hollander & Wolfe ch. 5 exercise form):
#   E[W2] = n1 * A1 / N,  Var[W2] = n0 n1 (N A2 - A1^2) / (N^2 (N-1))
# with A1 = sum a2 (int64 to ~3e9 rows, guarded loud), A2 = sum a2^2
# (beyond int64 by design -> exact wide sum -> DOUBLE once).
_AB_A2 = "((nn + 1) - abs(r2 - (nn + 1)))"
_AB_Z = (
    "CASE WHEN w2 IS NULL OR a1 IS NULL OR nn < 2 OR n0 < 1 OR n1 < 1 THEN NULL"
    " WHEN ((1e0 * n0 * n1) * (nn * a2d - 1e0 * a1 * a1))"
    "      / ((1e0 * nn * nn) * (nn - 1)) <= 0e0 THEN NULL"
    " ELSE round((1e0 * w2 - (1e0 * n1 * a1) / nn)"
    "      / sqrt(((1e0 * n0 * n1) * (nn * a2d - 1e0 * a1 * a1))"
    "             / ((1e0 * nn * nn) * (nn - 1))), 6) + 0.0 END"
)


def _ab_oracle() -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    poly = _as_erfc_poly()
    return f"""
WITH e AS (
  SELECT {arm} % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT cents AS v, count(*)::BIGINT AS c,
         CAST(sum(arm) AS BIGINT) AS c1
  FROM e GROUP BY cents
),
rk AS (
  SELECT v, c, c1, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM g
),
tot AS (
  SELECT sum(c)::BIGINT AS nn, sum(c1)::BIGINT AS n1,
         (sum(c) - sum(c1))::BIGINT AS n0
  FROM g
),
a2t AS (
  SELECT c, c1, {_AB_A2} AS a2
  FROM (SELECT *, 2 * (cum - c) + c + 1 AS r2 FROM rk) r CROSS JOIN tot
),
s AS (
  SELECT {_dec_sum_bigint("CAST(c1 AS DECIMAL(38,0)) * a2")} AS w2,
         {_dec_sum_bigint("CAST(c AS DECIMAL(38,0)) * a2")} AS a1,
         CAST(sum((CAST(c AS DECIMAL(38,0)) * a2) * a2) AS DOUBLE) AS a2d
  FROM a2t
),
zz AS (
  SELECT tot.nn, tot.n0, tot.n1, s.w2, s.a1, {_AB_Z} AS z_stat
  FROM s CROSS JOIN tot
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT nn AS n_events, n0, n1, w2 AS w_ab_x2,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round((1e0 * n1 * a1) / nn / 2e0, 6) + 0.0 END AS e_w_ab,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_value
FROM xt
"""


@query("ansari_bradley_scale_ab", oracle=_ab_oracle())
def ansari_bradley_scale_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley rank test for a SCALE difference between the
    user-hash arms on the event-value metric — the two-sample member
    completing the dispersion family (brown_forsythe, bartlett and
    fligner_killeen are k-group; the rank family's mann_whitney /
    brunner_munzel / hodges_lehmann all target LOCATION). An A/B launch
    that leaves the mean alone but widens the spread (mixed fast/slow
    paths) is exactly what this catches without any normality
    assumption.

    Exactness: pooled mid-ranks ride the doubled-rank integer device
    over the bounded cent-value count grid (the KW/wilcoxon pattern), so
    the doubled scores a2 = (N+1) - |r2 - (N+1)| are exact integers; W2
    and A1 accumulate through the DECIMAL(38,0) guard (loud symmetric
    NULL past int64 near 3e9 events); A2 = sum c*a2^2 exceeds int64 BY
    DESIGN and converts exactly-wide -> DOUBLE once (the JB/fligner
    convention); the conditional tie-exact moments and z are one shared
    text; two-sided p via the shared erfc polynomial on rounded z.
    Constant corpora (zero score variance) NULL loud.

    Scale shape: one corpus scan -> the bounded (value, count) grid;
    ranks are one cumulative window over it; two guarded reduces end
    it. Nothing downstream of the first aggregate scales with corpus
    rows."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    e = load_table(spark, sf_dir, "events").select(
        arm.alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("arm").cast("long").alias("c1"),
    )
    g = materialize(g)  # bounded value grid; rank pass + totals
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    rk = with_global_rank(
        g, ["v"], rank_col="_rk", sum_col="c", cum_col="cum"
    ).select("v", "c", "c1", "cum")
    tot = g.agg(
        F.sum("c").cast("long").alias("nn"),
        F.sum("c1").cast("long").alias("n1"),
        (F.sum("c") - F.sum("c1")).cast("long").alias("n0"),
    )
    a2t = (
        rk.withColumn("r2", 2 * (F.col("cum") - F.col("c")) + F.col("c") + 1)
        .crossJoin(F.broadcast(tot))
        .select("c", "c1", F.expr(_AB_A2).alias("a2"))
    )
    s = a2t.agg(
        F.expr(_dec_sum_bigint("CAST(c1 AS DECIMAL(38,0)) * a2")).alias("w2"),
        F.expr(_dec_sum_bigint("CAST(c AS DECIMAL(38,0)) * a2")).alias("a1"),
        F.expr(
            "CAST(sum((CAST(c AS DECIMAL(38,0)) * a2) * a2) AS DOUBLE)"
        ).alias("a2d"),
    )
    poly = _as_erfc_poly()
    zz = s.crossJoin(F.broadcast(tot)).select(
        "nn", "n0", "n1", "w2", "a1", "a2d", F.expr(_AB_Z).alias("z_stat")
    )
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        F.col("nn").alias("n_events"),
        "n0",
        "n1",
        F.col("w2").alias("w_ab_x2"),
        F.expr(
            "CASE WHEN z_stat IS NULL THEN NULL"
            " ELSE round((1e0 * n1 * a1) / nn / 2e0, 6) + 0.0 END"
        ).alias("e_w_ab"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Breslow-Day odds-ratio homogeneity ----------------------------------------------

# Breslow & Day (1980, ch. 4): given the Mantel-Haenszel common odds
# ratio psi, each stratum's fitted cell att solves the quadratic
#   (psi - 1) att^2 - [psi (n1 + m1) + (nt - n1 - m1)] att + psi n1 m1 = 0
# (the root inside [max(0, n1+m1-nt), min(n1, m1)]; linear fallback at
# psi = 1 gives the independence cell n1 m1 / nt), with asymptotic
#   Var = 1 / (1/att + 1/(n1-att) + 1/(m1-att) + 1/(nt-n1-m1+att))
# and X^2 = sum_j (a_j - att_j)^2 / Var_j ~ chi-square(K - 1) under OR
# homogeneity (Tarone's correction omitted — documented spec; it is
# O(1/sum Var) and below the 6dp contract on non-degenerate corpora).
# psi reuses the registered mantel_haenszel quantized-term definition
# verbatim, so this readout diagnoses EXACTLY the summary that query
# reports. Per-stratum terms e9-quantize before the K-row sum; a
# boundary-fitted stratum (att at the margin) NULLs the readout loud
# through an any-NULL tripwire (SUM skips NULLs).
_BD_ATT = (
    "CASE WHEN abs(psi - 1e0) < 1e-12"
    " THEN (psi * n1 * m1) / (psi * (n1 + m1) + 1e0 * (nt - n1 - m1))"
    " WHEN rt2 >= glo AND rt2 <= ghi THEN rt2 ELSE rt1 END"
)
_BD_TERM_E9 = (
    "CASE WHEN att IS NULL OR att <= glo OR att >= ghi THEN NULL"
    " ELSE CAST(round(1000000000 * ((1e0 * a - att) * (1e0 * a - att))"
    "      * (1e0 / att + 1e0 / (n1 - att) + 1e0 / (m1 - att)"
    "         + 1e0 / (nt - n1 - m1 + att))) AS BIGINT) END"
)
_BD_Z = (
    "CASE WHEN x2 IS NULL OR dof < 1 THEN NULL"
    " ELSE round(sqrt(2 * x2) - sqrt(2.0 * dof - 1), 6) + 0.0 END"
)


def _bd_oracle() -> str:
    arm = T.h48_duck("user_id::VARCHAR")
    poly = _as_erfc_poly()
    return f"""
WITH e AS (
  SELECT event_type AS stratum, {arm} % 2 AS g,
         CASE WHEN value > 60 THEN 1 ELSE 0 END AS y
  FROM events
),
s AS (
  SELECT stratum,
         CAST(sum(g * y) AS BIGINT) AS a,
         CAST(sum(g * (1 - y)) AS BIGINT) AS b,
         CAST(sum((1 - g) * y) AS BIGINT) AS c,
         CAST(sum((1 - g) * (1 - y)) AS BIGINT) AS d
  FROM e GROUP BY stratum
),
m AS (
  SELECT stratum, a, b, c, d,
         a + b AS n1, c + d AS n0, a + c AS m1, b + d AS m0,
         a + b + c + d AS nt
  FROM s WHERE (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0
),
pt AS (
  SELECT CAST(sum(CAST(round(1000000000 * (1e0 * a * d) / nt) AS BIGINT))
           AS BIGINT) AS ad_e9,
         CAST(sum(CAST(round(1000000000 * (1e0 * b * c) / nt) AS BIGINT))
           AS BIGINT) AS bc_e9
  FROM m
),
ps AS (
  SELECT CASE WHEN bc_e9 = 0 THEN NULL ELSE (1e0 * ad_e9) / bc_e9 END AS psi
  FROM pt
),
qd AS (
  SELECT m.*, ps.psi,
         greatest(0e0, 1e0 * (n1 + m1 - nt)) AS glo,
         least(1e0 * n1, 1e0 * m1) AS ghi,
         (psi - 1e0) AS aa,
         (-(psi * (n1 + m1) + 1e0 * (nt - n1 - m1))) AS bb,
         (psi * n1 * m1) AS cc
  FROM m CROSS JOIN ps
),
rt AS (
  SELECT *, sqrt(greatest(0e0, bb * bb - 4e0 * aa * cc)) AS sq FROM qd
),
at AS (
  SELECT *,
         CASE WHEN psi IS NULL THEN NULL ELSE
           (CASE WHEN abs(psi - 1e0) < 1e-12 THEN 0e0
                 ELSE (-bb + sq) / (2e0 * aa) END) END AS rt1,
         CASE WHEN psi IS NULL THEN NULL ELSE
           (CASE WHEN abs(psi - 1e0) < 1e-12 THEN 0e0
                 ELSE (-bb - sq) / (2e0 * aa) END) END AS rt2
  FROM rt
),
ft AS (
  SELECT *, CASE WHEN psi IS NULL THEN NULL ELSE {_BD_ATT} END AS att FROM at
),
tm AS (SELECT *, {_BD_TERM_E9} AS term_e9 FROM ft),
agg AS (
  SELECT count(*)::BIGINT AS n_strata,
         max(CASE WHEN term_e9 IS NULL THEN 1 ELSE 0 END) AS any_null,
         CAST(sum(term_e9) AS BIGINT) AS x2_e9,
         max(psi) AS psi
  FROM tm
),
st AS (
  SELECT n_strata, n_strata - 1 AS dof, psi,
         CASE WHEN any_null = 1 OR n_strata < 2 THEN NULL
              ELSE x2_e9 / 1e9 END AS x2
  FROM agg
),
zz AS (SELECT *, {_BD_Z} AS z_stat FROM st),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_strata, dof,
       CASE WHEN psi IS NULL THEN NULL ELSE round(psi, 6) + 0.0 END AS or_mh,
       CASE WHEN x2 IS NULL THEN NULL ELSE round(x2, 6) + 0.0 END AS x2_stat,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("breslow_day_or_homogeneity", oracle=_bd_oracle())
def breslow_day_or_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day test of odds-ratio HOMOGENEITY across the event-type
    strata — the diagnostic the registered
    ``mantel_haenszel_stratified_ab`` readout presumes: MH's common OR
    is only a meaningful summary when the per-stratum ORs agree, and
    Breslow-Day is the standard check (fitted per-stratum cells under
    the common OR, X^2 of observed-vs-fitted against chi-square(K-1)).
    Same cells, same arms, same quantized psi definition as the
    registered query, so the two readouts can never disagree about what
    "the common OR" is.

    Exactness: integer cells from ONE conditional aggregate; psi from
    the registered e9-quantized ad/bc sums; the quadratic fitted cell,
    its variance, and the per-stratum X^2 term are shared double texts
    over identical operands, e9-quantized before the K-row sum; a
    stratum whose fitted cell lands on the margin NULLs the readout
    loud (any-NULL tripwire — SUM skips NULLs); degenerate strata
    (an empty margin) are excluded from K (the standard convention);
    z via the sqrt(2 X^2) device, one-sided upper-tail p (the
    chi-square family convention in this repo). Tarone's correction is
    omitted — documented spec.

    Scale shape: ONE map-side-combined aggregate over the event scan to
    the 5-row stratum frame; everything downstream is bounded-frame
    algebra."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        arm.alias("g"),
        F.when(F.col("value") > 60, 1).otherwise(0).alias("y"),
    )
    s = e.groupBy("stratum").agg(
        F.sum(F.col("g") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("g") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("g")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("g")) * (1 - F.col("y"))).cast("long").alias("d"),
    )
    m = s.select(
        "*",
        (F.col("a") + F.col("b")).alias("n1"),
        (F.col("c") + F.col("d")).alias("n0"),
        (F.col("a") + F.col("c")).alias("m1"),
        (F.col("b") + F.col("d")).alias("m0"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("nt"),
    ).filter(
        (F.col("n1") > 0) & (F.col("n0") > 0) & (F.col("m1") > 0) & (F.col("m0") > 0)
    )
    m = materialize(m)  # bounded 5-row stratum frame; 2 consumers
    pt = m.agg(
        F.sum(
            F.expr("CAST(round(1000000000 * (1e0 * a * d) / nt) AS BIGINT)")
        )
        .cast("long")
        .alias("ad_e9"),
        F.sum(
            F.expr("CAST(round(1000000000 * (1e0 * b * c) / nt) AS BIGINT)")
        )
        .cast("long")
        .alias("bc_e9"),
    )
    ps = pt.select(
        F.expr(
            "CASE WHEN bc_e9 = 0 THEN NULL ELSE (1e0 * ad_e9) / bc_e9 END"
        ).alias("psi")
    )
    qd = m.crossJoin(F.broadcast(ps)).select(
        "*",
        F.expr("greatest(0e0, 1e0 * (n1 + m1 - nt))").alias("glo"),
        F.expr("least(1e0 * n1, 1e0 * m1)").alias("ghi"),
        F.expr("(psi - 1e0)").alias("aa"),
        F.expr("(-(psi * (n1 + m1) + 1e0 * (nt - n1 - m1)))").alias("bb"),
        F.expr("(psi * n1 * m1)").alias("cc"),
    )
    rt = qd.withColumn(
        "sq", F.expr("sqrt(greatest(0e0, bb * bb - 4e0 * aa * cc))")
    )
    at = rt.select(
        "*",
        F.expr(
            "CASE WHEN psi IS NULL THEN NULL ELSE"
            " (CASE WHEN abs(psi - 1e0) < 1e-12 THEN 0e0"
            " ELSE (-bb + sq) / (2e0 * aa) END) END"
        ).alias("rt1"),
        F.expr(
            "CASE WHEN psi IS NULL THEN NULL ELSE"
            " (CASE WHEN abs(psi - 1e0) < 1e-12 THEN 0e0"
            " ELSE (-bb - sq) / (2e0 * aa) END) END"
        ).alias("rt2"),
    )
    ft = at.withColumn(
        "att",
        F.expr(f"CASE WHEN psi IS NULL THEN NULL ELSE {_BD_ATT} END"),
    )
    tm = ft.withColumn("term_e9", F.expr(_BD_TERM_E9))
    agg = tm.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.max(
            F.when(F.col("term_e9").isNull(), 1).otherwise(0)
        ).alias("any_null"),
        F.sum("term_e9").cast("long").alias("x2_e9"),
        F.max("psi").alias("psi"),
    )
    st = agg.select(
        "n_strata",
        (F.col("n_strata") - 1).alias("dof"),
        "psi",
        F.expr(
            "CASE WHEN any_null = 1 OR n_strata < 2 THEN NULL"
            " ELSE x2_e9 / 1e9 END"
        ).alias("x2"),
    )
    poly = _as_erfc_poly()
    zz = st.withColumn("z_stat", F.expr(_BD_Z))
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_strata",
        "dof",
        F.expr(
            "CASE WHEN psi IS NULL THEN NULL ELSE round(psi, 6) + 0.0 END"
        ).alias("or_mh"),
        F.expr(
            "CASE WHEN x2 IS NULL THEN NULL ELSE round(x2, 6) + 0.0 END"
        ).alias("x2_stat"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- streaming Storey q-value monitor ------------------------------------------------


def _stream_storey_oracle() -> str:
    # The batch Storey SQL restricted to the replayed odd-USER half. The
    # battery CTE references the events table exactly once (its ``seg``
    # CTE), so the restriction is a single-site source rewrite of the
    # SHARED text — the twin and the batch query can never drift apart.
    # ADVICE r13 #2: assert the needle is unique BEFORE splicing — if the
    # shared battery ever gains a second ``FROM events`` reference,
    # replace() would silently rewrite all sites; this fails loud instead.
    base = _ab_seg_cte()
    assert base.count("FROM events\n") == 1, "battery events-ref no longer single-site"
    restricted = base.replace(
        "FROM events\n", "FROM events WHERE user_id % 2 = 1\n"
    )
    assert "WHERE user_id % 2 = 1" in restricted
    return (
        restricted
        + f""",
rk AS (
  SELECT *, row_number() OVER (ORDER BY p_value ASC, segment ASC) AS p_rank,
         count(*) OVER () AS m,
         sum(CASE WHEN p_value > 5e-1 THEN 1 ELSE 0 END) OVER () AS r_tail
  FROM pv
),
p0 AS (SELECT *, {_ST_PI0} AS pi0 FROM rk),
qv AS (
  SELECT *, min({_ST_QRAW}) OVER (ORDER BY p_rank DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_raw
  FROM p0
)
SELECT segment, n0, c0, n1, c1, z_stat, p_value,
       p_rank::BIGINT AS p_rank,
       round(pi0, 6) + 0.0 AS pi0,
       round(q_raw, 6) + 0.0 AS q_value,
       q_raw <= 5e-2 AS rejected_q05
FROM qv
"""
    )


@query("stream_storey_qvalue_monitor", oracle=_stream_storey_oracle())
def stream_storey_qvalue_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 12th streaming twin: Storey pi0/q-values recomputed as events
    arrive — per micro-batch, ONE map-side-combined aggregate reduces
    the batch to bounded (segment x arm) COUNT partials (4 integers per
    segment, never users or events); partials merge by plain summation
    (counts cannot overflow int64 and need no quantization, so unlike
    the squared-moment twins there is nothing to guard — documented);
    the merged counts feed the IDENTICAL battery tail + Storey readout
    as the batch query (``_ab_seg_pvalues_from_counts`` ->
    ``_storey_readout`` — the ADVICE r10 #4 shared-readout rule from
    birth). This is the live experiment-dashboard shape: "which segments
    would I call at 5% FDR" refreshed per batch.

    Replay contract: the odd-USER half of events as a deterministic
    2-micro-batch file stream (the arm is event_id % 2, so splitting on
    user_id keeps BOTH arms inside every batch; a user's events land in
    one batch, but nothing here needs that — count merges are exact
    regardless). Oracle = the batch Storey SQL with the battery's single
    events reference restricted to the same half (a one-site rewrite of
    the SHARED CTE text, asserted at construction).

    Scale shape: per batch one aggregate to <= 20 x 4 integers; the
    managed table holds batches x segments rows; the readout is
    bounded-frame algebra."""
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _ab_seg_pvalues_from_counts,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    held = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 2 == 1)
        .select("event_id", "user_id", "event_type", "value")
    )

    def _cell_batch(batch_df: DataFrame) -> DataFrame:
        seg = batch_df.select(
            F.concat(
                F.col("event_type"), F.lit("_"), (F.col("user_id") % 4).cast("string")
            ).alias("segment"),
            (F.col("event_id") % 2).alias("arm"),
            F.when(
                (F.col("value") > 60)
                | (
                    (F.col("event_id") % 2 == 1)
                    & (F.col("event_type") == "purchase")
                    & (F.col("value") > 30)
                ),
                1,
            )
            .otherwise(0)
            .alias("converted"),
        )
        return seg.groupBy("segment").agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("dn0"),
            F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
            .cast("long")
            .alias("dc0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("dn1"),
            F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
            .cast("long")
            .alias("dc1"),
        )

    partials = replay_split_stream(
        spark,
        held,
        "event_id long, user_id long, event_type string, value double",
        _cell_batch,
        "storey_seg_partials",
        split_col="user_id",
    )
    per = partials.groupBy("segment").agg(
        F.sum("dn0").cast("long").alias("n0"),
        F.sum("dc0").cast("long").alias("c0"),
        F.sum("dn1").cast("long").alias("n1"),
        F.sum("dc1").cast("long").alias("c1"),
    )
    return _storey_readout(_ab_seg_pvalues_from_counts(per))


# --- streaming Jarque-Bera monitor ---------------------------------------------------


def _stream_jb_oracle() -> str:
    # The batch JB SQL restricted to the replayed odd-event half — a
    # single-site source rewrite of the batch oracle. ADVICE r13 #2:
    # assert the needle is unique BEFORE splicing so a future second
    # ``FROM events)`` site fails loud instead of being silently rewritten.
    base = _jb_oracle()
    assert base.count("FROM events)") == 1, "JB oracle events-ref no longer single-site"
    restricted = base.replace(
        "FROM events)", "FROM events WHERE event_id % 2 = 1)"
    )
    assert "WHERE event_id % 2 = 1" in restricted
    return restricted


@query("stream_jarque_bera_monitor", oracle=_stream_jb_oracle())
def stream_jarque_bera_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13th streaming twin: the Jarque-Bera normality readout
    recomputed as events arrive — per micro-batch ONE map-side-combined
    aggregate reduces the batch to FIVE moment partials (count, cent
    sum, and the three power sums held as exact DECIMAL(38,0) — the
    partials stay exact integers, so the merge is plain summation with
    nothing to quantize and nothing to guard); the merged moments feed
    the IDENTICAL ``_jb_readout`` algebra as the batch query, with the
    single exact-integer -> DOUBLE conversion happening once, at the
    merge (so stream and batch round the same exact integer). The live
    shape: "is this metric still normal enough for the Welch/t
    machinery" refreshed per batch.

    Replay contract: the odd-event_id half as a deterministic
    2-micro-batch file stream (the tost twin's split); oracle = the
    batch JB SQL with its single events reference restricted to the
    same half.

    Scale shape: per batch one scalar aggregate (5 numbers); the
    managed table holds batches x 1 rows; the readout is 1-row
    algebra."""
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    held = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )

    def _moment_batch(batch_df: DataFrame) -> DataFrame:
        e2 = batch_df.select(
            F.col("cents").alias("c"),
            (F.col("cents") * F.col("cents")).alias("c2"),
        )
        return e2.agg(
            F.count(F.lit(1)).cast("long").alias("pn"),
            F.sum("c").cast("long").alias("p1"),
            F.expr("sum(CAST(c2 AS DECIMAL(38,0)))").alias("p2"),
            F.expr("sum(CAST(c2 AS DECIMAL(38,0)) * c)").alias("p3"),
            F.expr("sum(CAST(c2 AS DECIMAL(38,0)) * c2)").alias("p4"),
        )

    partials = replay_split_stream(
        spark,
        held,
        "event_id long, cents long",
        _moment_batch,
        "jb_moment_partials",
        split_col="event_id",
    )
    s = partials.agg(
        F.sum("pn").cast("long").alias("nn"),
        F.sum("p1").cast("long").alias("s1"),
        F.expr("CAST(sum(p2) AS DOUBLE)").alias("d2"),
        F.expr("CAST(sum(p3) AS DOUBLE)").alias("d3"),
        F.expr("CAST(sum(p4) AS DOUBLE)").alias("d4"),
    )
    return _jb_readout(s)


# --- Fisher-z correlation difference ------------------------------------------------

# Fisher (1921): z(r) = atanh(r) = 0.5 ln((1+r)/(1-r)) is ~N(atanh rho,
# 1/(n-3)), so two independent arms' correlations compare via
#   z = (z(r_b) - z(r_a)) / sqrt(1/(n_a - 3) + 1/(n_b - 3)).
# r per arm from the exact five-moment frame (the lin/ancova _LIN_MOM
# DECIMAL(38,0) guard on every second-order sum — loud symmetric NULL
# past int64); ln is an established cross-engine-identical house
# primitive (the Pocock spending / Good-Turing precedent).
_FZ_R = (
    "CASE WHEN n{a} < 4 OR sxx{a} IS NULL OR sxy{a} IS NULL"
    " OR syy{a} IS NULL THEN NULL"
    " WHEN (1e0 * n{a} * sxx{a} - 1e0 * sx{a} * sx{a}) <= 0e0"
    " OR (1e0 * n{a} * syy{a} - 1e0 * sy{a} * sy{a}) <= 0e0 THEN NULL"
    " ELSE (1e0 * n{a} * sxy{a} - 1e0 * sx{a} * sy{a})"
    " / sqrt((1e0 * n{a} * sxx{a} - 1e0 * sx{a} * sx{a})"
    "        * (1e0 * n{a} * syy{a} - 1e0 * sy{a} * sy{a})) END"
)
_FZ_ATANH = (
    "CASE WHEN r{a} IS NULL OR abs(r{a}) >= 1e0 THEN NULL"
    " ELSE 5e-1 * ln((1e0 + r{a}) / (1e0 - r{a})) END"
)
_FZ_Z = (
    "CASE WHEN z0 IS NULL OR z1 IS NULL THEN NULL"
    " ELSE round((z1 - z0) / sqrt(1e0 / (n0 - 3) + 1e0 / (n1 - 3)), 6)"
    " + 0.0 END"
)


def _fz_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.staging_r12 import (
        _LIN_MOM,
    )

    arm = T.h48_duck("doc_id::VARCHAR")
    toks = T.tokens_duck("text")
    poly = _as_erfc_poly()
    mom = {
        f"s{u}{v}{a}": _dec_sum_bigint(_LIN_MOM.format(a=a, u=u, v=v))
        for a in (0, 1)
        for (u, v) in (("x", "x"), ("x", "y"), ("y", "y"))
    }
    return f"""
WITH d AS (
  SELECT {arm} % 2 AS arm,
         n_chars AS x,
         CAST(length({toks}) AS BIGINT) AS y
  FROM documents
),
s AS (
  SELECT
    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
    {mom["sxx0"]} AS sxx0, {mom["sxy0"]} AS sxy0, {mom["syy0"]} AS syy0,
    {mom["sxx1"]} AS sxx1, {mom["sxy1"]} AS sxy1, {mom["syy1"]} AS syy1
  FROM d
),
rr AS (
  SELECT *, {_FZ_R.format(a=0)} AS r0, {_FZ_R.format(a=1)} AS r1 FROM s
),
zf AS (
  SELECT *, {_FZ_ATANH.format(a=0)} AS z0, {_FZ_ATANH.format(a=1)} AS z1
  FROM rr
),
zz AS (SELECT *, {_FZ_Z} AS z_stat FROM zf),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n0 AS n_a, n1 AS n_b,
       CASE WHEN r0 IS NULL THEN NULL ELSE round(r0, 6) + 0.0 END AS r_a,
       CASE WHEN r1 IS NULL THEN NULL ELSE round(r1, 6) + 0.0 END AS r_b,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_value
FROM xt
"""


@query("fisher_z_corr_diff_ab", oracle=_fz_oracle())
def fisher_z_corr_diff_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z test for a DIFFERENCE in correlation between the two
    doc-hash arms: is the chars-tokens correlation the same in both
    halves of the corpus? The inference member the correlation family
    was missing — ``spearman_chars_tokens`` / ``kendall_tau_chars_words``
    / ``ols_chars_model`` report POINT estimates; Fisher's
    variance-stabilizing atanh transform turns two arms' Pearson r into
    a comparable z (the splitter audit for relationship STRUCTURE, the
    way welch_t audits means and ansari_bradley audits spread).

    Exactness: per-arm five-moment frames from ONE conditional
    aggregate; every second-order sum rides the lin/ancova
    DECIMAL(38,0) per-row-promoted guard (loud symmetric NULL past
    int64); r, atanh, and the z difference are shared double texts over
    exact integers (ln is an established cross-engine-identical house
    primitive — Pocock spending, Good-Turing); degenerate arms (n < 4,
    zero variance, |r| = 1) NULL loud through every layer.

    Scale shape: one scan -> one map-side-combined scalar aggregate
    (12 integers); 1-row algebra after."""
    from flink_realtime_sessionize_sample_spark.plans.staging_r12 import (
        _LIN_MOM,
    )

    arm = F.expr(f"pmod({T.h48_spark('cast(doc_id as string)')}, 2)")
    toks = T.tokens_spark("text")
    d = load_table(spark, sf_dir, "documents").select(
        arm.alias("arm"),
        F.col("n_chars").alias("x"),
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("y"),
    )
    aggs = [
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy1"),
    ]
    for a in (0, 1):
        for (u, v) in (("x", "x"), ("x", "y"), ("y", "y")):
            aggs.append(
                F.expr(_dec_sum_bigint(_LIN_MOM.format(a=a, u=u, v=v))).alias(
                    f"s{u}{v}{a}"
                )
            )
    s = d.agg(*aggs)
    rr = s.select(
        "*",
        F.expr(_FZ_R.format(a=0)).alias("r0"),
        F.expr(_FZ_R.format(a=1)).alias("r1"),
    )
    zf = rr.select(
        "*",
        F.expr(_FZ_ATANH.format(a=0)).alias("z0"),
        F.expr(_FZ_ATANH.format(a=1)).alias("z1"),
    )
    zz = zf.withColumn("z_stat", F.expr(_FZ_Z))
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    poly = _as_erfc_poly()
    return xt.select(
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        F.expr(
            "CASE WHEN r0 IS NULL THEN NULL ELSE round(r0, 6) + 0.0 END"
        ).alias("r_a"),
        F.expr(
            "CASE WHEN r1 IS NULL THEN NULL ELSE round(r1, 6) + 0.0 END"
        ).alias("r_b"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Ljung-Box autocorrelation diagnostic --------------------------------------------

# Ljung & Box (1978): Q = n (n+2) sum_{k=1..m} r_k^2 / (n - k) over the
# first m = 7 daily-count autocorrelations, ~ chi-square(m) under white
# noise — the portmanteau "is there ANY serial structure left" readout
# completing the time-series diagnostics next to runs_test (sign
# patterns), mann_kendall/theil_sen (monotone trend) and
# orders_trend_decomposition (seasonal fit). Exactness trick: multiply
# the autocovariances through by n^2 so every term is an exact integer
# BEFORE division — (n c_d - s)(n c_{d+k} - s) with s = sum c — and the
# per-row products promote to DECIMAL(38,0) (exact-wide -> DOUBLE once,
# the JB convention). The 7 per-lag Q terms e12-quantize before the
# final sum (a 7-term double sum is aggregation-order-sensitive in the
# last ulp; the integer form is not).
_LB_RK = "CASE WHEN den <= 0e0 THEN NULL ELSE numk / den END"
_LB_TERM_E12 = (
    "CASE WHEN den <= 0e0 OR nn <= k THEN NULL"
    " ELSE CAST(round(1000000000000 * ((numk / den) * (numk / den))"
    " / (nn - k)) AS BIGINT) END"
)
_LB_Q = (
    "CASE WHEN nn <= 7 OR anynull = 1 THEN NULL"
    " ELSE (1e0 * nn * (nn + 2)) * (t_e12 / 1e12) END"
)
_LB_Z = (
    "CASE WHEN q IS NULL THEN NULL"
    " ELSE round(sqrt(2 * q) - sqrt(2.0 * 7 - 1), 6) + 0.0 END"
)


def _lb_oracle() -> str:
    poly = _as_erfc_poly()
    day = _fdiv_duck("epoch_us(ts)", 86400000000)
    return f"""
WITH d AS (
  SELECT {day} AS d, count(*)::BIGINT AS c FROM events GROUP BY 1
),
tot AS (SELECT count(*)::BIGINT AS nn, sum(c)::BIGINT AS ss FROM d),
den_t AS (
  SELECT CAST(sum(CAST((nn * c - ss) AS DECIMAL(38,0)) * (nn * c - ss))
           AS DOUBLE) AS den
  FROM d CROSS JOIN tot
),
lags AS (SELECT k FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) v(k)),
pairs AS (
  SELECT l.k,
         CAST(sum(CAST((t.nn * a.c - t.ss) AS DECIMAL(38,0))
                  * (t.nn * b.c - t.ss)) AS DOUBLE) AS numk
  FROM d a CROSS JOIN lags l JOIN d b ON b.d = a.d + l.k
  CROSS JOIN tot t
  GROUP BY l.k
),
lagf AS (
  SELECT l.k, coalesce(p.numk, 0e0) AS numk
  FROM lags l LEFT JOIN pairs p ON p.k = l.k
),
terms AS (
  SELECT k, numk, tot.nn, den_t.den, {_LB_TERM_E12} AS t_e12,
         {_LB_RK} AS rk
  FROM lagf CROSS JOIN tot CROSS JOIN den_t
),
agg AS (
  SELECT max(nn)::BIGINT AS nn,
         max(CASE WHEN t_e12 IS NULL THEN 1 ELSE 0 END) AS anynull,
         CAST(sum(t_e12) AS BIGINT) AS t_e12,
         max(CASE WHEN k = 1 THEN rk END) AS r1,
         max(CASE WHEN k = 7 THEN rk END) AS r7
  FROM terms
),
qq AS (SELECT *, {_LB_Q} AS q FROM agg),
zz AS (SELECT *, {_LB_Z} AS z_stat FROM qq),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT nn AS n_days,
       CASE WHEN q IS NULL OR r1 IS NULL THEN NULL
            ELSE round(r1, 6) + 0.0 END AS r_lag1,
       CASE WHEN q IS NULL OR r7 IS NULL THEN NULL
            ELSE round(r7, 6) + 0.0 END AS r_lag7,
       CASE WHEN q IS NULL THEN NULL ELSE round(q, 6) + 0.0 END AS q_stat,
       7 AS dof,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("ljung_box_daily_autocorr", oracle=_lb_oracle())
def ljung_box_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series (the
    first 7 lags — one week of serial structure): is there ANY
    autocorrelation left after whatever model you fit? Completes the
    time-series diagnostic family — runs_test_daily_revenue checks sign
    patterns, mann_kendall/theil_sen check monotone trend, Ljung-Box is
    the omnibus the others presuppose ("white noise or not"). A missing
    day contributes no lag pair (the gap-robust form; the synthetic
    corpus's day span is contiguous, so this matches the textbook
    definition on the test data — documented envelope).

    Exactness: daily counts are exact integers on the floor-consistent
    day bucket; autocovariances multiply through by n^2 so every summand
    is the exact integer product (n c_d - s)(n c_{d+k} - s), promoted
    per-row to DECIMAL(38,0) and converted to DOUBLE once (the JB
    convention — both engines round the same exact integer); the 7
    per-lag Q terms e12-quantize before the final sum (7-term double
    sums are aggregation-order-sensitive, integers are not); an
    uncomputable term (constant series, n <= k) NULLs Q loud through an
    any-NULL tripwire. p via the sqrt(2Q) chi-square device,
    one-sided upper tail (the family convention).

    Scale shape: one corpus scan -> the bounded day frame
    (checkpointed); the lag pairs are a broadcast self-join of that
    bounded frame against a 7-row lag table; everything downstream is
    <= 7-row algebra."""
    poly = _as_erfc_poly()
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr(_fdiv_spark("unix_micros(ts)", 86400000000)).alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d = materialize(d)  # bounded day frame; den + 7 lag joins
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("c").cast("long").alias("ss"),
    )
    den_t = d.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(sum(CAST((nn * c - ss) AS DECIMAL(38,0)) * (nn * c - ss))"
            " AS DOUBLE)"
        ).alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("k"))
    a = d.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = d.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("db") == F.col("da") + F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.expr(
                "CAST(sum(CAST((nn * ca - ss) AS DECIMAL(38,0))"
                " * (nn * cb - ss)) AS DOUBLE)"
            ).alias("numk")
        )
    )
    lagf = lags.join(pairs, "k", "left").select(
        "k", F.coalesce(F.col("numk"), F.lit(0.0)).alias("numk")
    )
    terms = lagf.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(den_t)).select(
        "*",
        F.expr(_LB_TERM_E12).alias("t_e12"),
        F.expr(_LB_RK).alias("rk"),
    )
    agg = terms.agg(
        F.max("nn").cast("long").alias("nn"),
        F.max(F.when(F.col("t_e12").isNull(), 1).otherwise(0)).alias("anynull"),
        F.sum("t_e12").cast("long").alias("t_e12"),
        F.max(F.when(F.col("k") == 1, F.col("rk"))).alias("r1"),
        F.max(F.when(F.col("k") == 7, F.col("rk"))).alias("r7"),
    )
    qq = agg.withColumn("q", F.expr(_LB_Q))
    zz = qq.withColumn("z_stat", F.expr(_LB_Z))
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        F.col("nn").alias("n_days"),
        F.expr(
            "CASE WHEN q IS NULL OR r1 IS NULL THEN NULL"
            " ELSE round(r1, 6) + 0.0 END"
        ).alias("r_lag1"),
        F.expr(
            "CASE WHEN q IS NULL OR r7 IS NULL THEN NULL"
            " ELSE round(r7, 6) + 0.0 END"
        ).alias("r_lag7"),
        F.expr(
            "CASE WHEN q IS NULL THEN NULL ELSE round(q, 6) + 0.0 END"
        ).alias("q_stat"),
        F.lit(7).cast("int").alias("dof"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Bowker symmetry of session transitions ------------------------------------------

# Bowker (1948): the k x k generalization of McNemar — for the
# within-session event-type transition matrix, X^2 =
# sum_{i<j} (n_ij - n_ji)^2 / (n_ij + n_ji) ~ chi-square(#off-diagonal
# pairs with traffic) under symmetry ("is A->B as common as B->A").
# Same transition definition (pair frame, session boundaries) as the
# registered session_markov_transitions, so the two readouts describe
# the same chain.
_BW_TERM_E9 = (
    "CAST(round(1000000000 * ((1e0 * nij - nji) * (1e0 * nij - nji))"
    " / (nij + nji)) AS BIGINT)"
)
_BW_Z = (
    "CASE WHEN dof < 1 THEN NULL"
    " ELSE round(sqrt(2 * (x2_e9 / 1e9)) - sqrt(2.0 * dof - 1), 6) + 0.0 END"
)


def _bw_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _SESSIONIZE_CTE,
    )

    poly = _as_erfc_poly()
    return (
        _SESSIONIZE_CTE
        + f""",
typed AS (
  SELECT s.user_id, s.session_id, s.ts_us, s.event_id, e.event_type
  FROM sessionized s JOIN events e USING (event_id)
),
pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id, session_id
                                ORDER BY ts_us, event_id) AS nxt
  FROM typed
),
cnt AS (
  SELECT cur, nxt, count(*)::BIGINT AS n FROM pairs
  WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
sym AS (
  SELECT least(cur, nxt) AS a, greatest(cur, nxt) AS b,
         CAST(sum(CASE WHEN cur < nxt THEN n ELSE 0 END) AS BIGINT) AS nij,
         CAST(sum(CASE WHEN cur > nxt THEN n ELSE 0 END) AS BIGINT) AS nji
  FROM cnt WHERE cur <> nxt GROUP BY 1, 2
),
agg AS (
  SELECT count(*)::BIGINT AS dof,
         CAST(sum(n) AS BIGINT) AS n_offdiag,
         CAST(sum(t) AS BIGINT) AS x2_e9
  FROM (SELECT nij + nji AS n, {_BW_TERM_E9} AS t FROM sym) s
),
zz AS (SELECT dof, n_offdiag, x2_e9, {_BW_Z} AS z_stat FROM agg),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT coalesce(n_offdiag, 0) AS n_offdiag_transitions, dof,
       CASE WHEN dof < 1 THEN NULL ELSE round(x2_e9 / 1e9, 6) + 0.0 END
         AS x2_stat,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""
    )


@query("bowker_symmetry_transitions", oracle=_bw_oracle())
def bowker_symmetry_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's symmetry test on the within-session event-type
    transition matrix: is A->B as common as B->A for every off-diagonal
    pair? The k x k generalization of the registered
    ``mcnemar_nb_vs_heuristic`` (McNemar IS Bowker at k = 2) over the
    SAME transition definition as ``session_markov_transitions`` (same
    sessionize boundaries, same lead() pair frame), so "the chain is
    asymmetric" (this readout) and "here is the chain" (that one) can
    never disagree about what a transition is. Directional user flows
    (browse -> buy but rarely buy -> browse) are exactly what this
    detects.

    Exactness: transition counts are exact integers; the off-diagonal
    fold (least/greatest) pairs them without a self-join; per-pair X^2
    terms e9-quantize through one shared text before the bounded sum
    (<= 10 terms for 5 event types); pairs with zero traffic in both
    directions simply do not exist in the fold (the standard dof =
    observed-pairs convention, documented); dof < 1 NULLs loud. p via
    the sqrt(2 X^2) device, one-sided upper tail.

    Scale shape: the sessionizer's one-shuffle pass; the lead() window
    shares the sessionizer's (user_id) partitioning; transitions
    collapse to the bounded |types|^2 frame and everything downstream is
    <= 10-row algebra."""
    from flink_realtime_sessionize_sample_spark.operators.sessionize import (
        sessionize,
    )

    poly = _as_erfc_poly()
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    sess = sessionize(ev, key="user_id", ts="ts", tiebreakers=("event_id",))
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    pairs = sess.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sym = (
        cnt.filter(F.col("cur") != F.col("nxt"))
        .groupBy(
            F.least("cur", "nxt").alias("a"),
            F.greatest("cur", "nxt").alias("b"),
        )
        .agg(
            F.sum(F.when(F.col("cur") < F.col("nxt"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("nij"),
            F.sum(F.when(F.col("cur") > F.col("nxt"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("nji"),
        )
    )
    agg = sym.select(
        (F.col("nij") + F.col("nji")).alias("n"), F.expr(_BW_TERM_E9).alias("t")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("dof"),
        F.sum("n").cast("long").alias("n_offdiag"),
        F.sum("t").cast("long").alias("x2_e9"),
    )
    zz = agg.select("dof", "n_offdiag", "x2_e9", F.expr(_BW_Z).alias("z_stat"))
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        F.coalesce(F.col("n_offdiag"), F.lit(0))
        .cast("long")
        .alias("n_offdiag_transitions"),
        "dof",
        F.expr(
            "CASE WHEN dof < 1 THEN NULL ELSE round(x2_e9 / 1e9, 6) + 0.0 END"
        ).alias("x2_stat"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )
