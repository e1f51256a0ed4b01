"""Round-10 capability queries (22 queries).

Each query is registered with ``registry.query``, checked against its
DuckDB oracle by the full-registry sweep (tools/verify_drive.py), and
pinned against an independent Python brute-force reference in
tests/test_staging_r10.py.

Families this batch:
* privacy trio completion: ``t_closeness_audit`` (variational-distance
  t-closeness next to k-anonymity / l-diversity);
* stratified + ordered experimentation: ``mantel_haenszel_stratified_ab``
  (CMH pooled test + MH odds ratio), ``cochran_armitage_trend``
  (dose-response across ordered buckets), ``cochran_q_three_raters``
  (matched binary outcomes, exact integer Q with the closed-form df=2
  p = exp(-Q/2)), ``quantile_treatment_effects`` (per-decile A/B shift);
* survival family completion: ``logrank_test_session_survival`` (two-arm
  log-rank over the reference's session semantics),
  ``intersession_return_km`` (KM on user RETURN times);
* reference-domain analytics: ``session_bot_signals`` (gap-regularity /
  rate / depth bands — the classic access-log bot triage sessionize
  feeds);
* retrieval diagnostics: ``rbo_sparse_vs_dense`` (rank-biased overlap
  between the BM25 and dense legs of the hybrid retriever);
* governance / eval / monitoring completions:
  ``pii_cooccurrence_audit`` (doc-level PII types x the privacy trio's
  quasi-identifier groups), ``mcc_nb_classifier`` (Gorodkin multiclass
  Matthews correlation of the NB classifier),
  ``friedman_test_event_mix`` (tie-corrected matched-design rank test,
  the ordinal generalization of Cochran Q), ``page_hinkley_drift``
  (self-calibrating sequential drift detector next to the CUSUM pair).

Exactness discipline unchanged (staging_r8 header): integer or
quantized-integer corpus sums, single shared double expressions, 6dp
rounds, erfc p-values on rounded statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators.mat import materialize
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

def _as_erfc_poly() -> str:
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _AS_ERFC_POLY,
    )

    return _AS_ERFC_POLY


# --- t-closeness audit -------------------------------------------------------

# Per-(group, lang) variational-distance contribution |c/gs - nl/N|,
# e9-quantized through shared text: the cross-multiplied integer
# |c*N - nl*gs| over the exact double product gs*N. Absent languages are
# folded in closed form (see the query docstring), so no group x lang
# grid is ever materialized.
_TC_PRESENT_E9 = (
    "CAST(round(1000000000 * abs(1e0 * c * nn - 1e0 * nl * gs)"
    " / (1e0 * gs * nn)) AS BIGINT)"
)

_TC_BANDS = (
    "CASE WHEN t_e9 >= 500000000 THEN 't>=0.50'"
    " WHEN t_e9 >= 330000000 THEN 't>=0.33'"
    " WHEN t_e9 >= 200000000 THEN 't>=0.20'"
    " ELSE 't<0.20' END"
)


def _tc_oracle() -> str:
    return f"""
WITH cell AS (
  SELECT source, n_chars // 200 AS len_band, lang, count(*)::BIGINT AS c
  FROM documents GROUP BY source, len_band, lang
),
grp AS (
  SELECT source, len_band, sum(c)::BIGINT AS gs
  FROM cell GROUP BY source, len_band
),
ml AS (SELECT lang, sum(c)::BIGINT AS nl FROM cell GROUP BY lang),
tot AS (SELECT sum(c)::BIGINT AS nn FROM cell),
pres AS (
  SELECT cell.source, cell.len_band,
         CAST(sum({_TC_PRESENT_E9}) AS BIGINT) AS pres_e9,
         CAST(sum(ml.nl) AS BIGINT) AS nl_pres
  FROM cell
  JOIN grp ON grp.source = cell.source AND grp.len_band = cell.len_band
  JOIN ml ON ml.lang = cell.lang
  CROSS JOIN tot
  GROUP BY cell.source, cell.len_band
),
tg AS (
  SELECT p.source, p.len_band, g.gs,
         CAST((p.pres_e9
               + CAST(round(1000000000 * (1e0 * (t.nn - p.nl_pres)) / t.nn)
                      AS BIGINT)) // 2 AS BIGINT) AS t_e9
  FROM pres p
  JOIN grp g ON g.source = p.source AND g.len_band = p.len_band
  CROSS JOIN tot t
),
agg AS (
  SELECT {_TC_BANDS} AS t_band, count(*)::BIGINT AS n_groups,
         sum(gs)::BIGINT AS n_docs
  FROM tg GROUP BY t_band
),
mx AS (
  SELECT max(t_e9)::BIGINT AS max_e9, sum(gs)::BIGINT AS nn2 FROM tg
)
SELECT a.t_band, a.n_groups, a.n_docs,
       round(CAST(a.n_docs AS DOUBLE) / m.nn2, 6) + 0.0 AS doc_share,
       round(m.max_e9 / 1e9, 6) + 0.0 AS max_t
FROM agg a CROSS JOIN mx m
"""


@query("t_closeness_audit", oracle=_tc_oracle())
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the release-governance privacy trio
    (k_anonymity_audit / l_diversity_audit / this): for each
    quasi-identifier group (source, length-band), the VARIATIONAL
    DISTANCE between the group's sensitive-attribute distribution
    (lang — nominal, so EMD reduces to 0.5 * L1) and the corpus-global
    distribution. A group can be large (k-anonymous) AND diverse
    (l-diverse) yet still leak via a skewed distribution
    (a 95%-one-language group reveals its members' language with high
    confidence); t-closeness is the audit that catches it. Output:
    group counts and document shares per t band, plus the dataset max t
    (the release number).

    Exactness: each PRESENT (group, lang) contribution quantizes to an
    e9 integer via the shared cross-multiplied expression; languages
    ABSENT from a group contribute sum(nl)/N, folded in CLOSED FORM as
    (N - sum_present nl)/N from the present rows' integer sums — no
    group x lang grid, no missing-cell special cases; the halving is
    integer (e9 keeps parity — all terms even-safe at 6dp). Bands
    compare integers against e9 literals.

    Scale shape: one corpus scan to the bounded QI x lang cell frame;
    margins are re-aggregates of cells; the per-group fold is a
    group-keyed aggregate of the cell frame (bounded by the QI domain,
    never corpus-sized); broadcast 1-row total."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", F.expr("n_chars div 200").alias("len_band"), "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cell = materialize(cell)  # feeds grp/ml/tot/pres
    grp = cell.groupBy("source", "len_band").agg(
        F.sum("c").cast("long").alias("gs")
    )
    ml = cell.groupBy("lang").agg(F.sum("c").cast("long").alias("nl"))
    tot = cell.agg(F.sum("c").cast("long").alias("nn"))
    pres = (
        cell.join(grp, ["source", "len_band"])
        .join(F.broadcast(ml), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "len_band")
        .agg(
            F.sum(F.expr(_TC_PRESENT_E9)).cast("long").alias("pres_e9"),
            F.sum("nl").cast("long").alias("nl_pres"),
        )
    )
    tg = (
        pres.join(grp, ["source", "len_band"])
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "len_band",
            "gs",
            # Integer floor division (// in DuckDB, div here): plain /
            # would be float-and-ROUND in DuckDB vs truncate in Spark
            # (the round-9 OBF phantom-look trap).
            F.expr(
                "CAST((pres_e9"
                " + CAST(round(1000000000 * (1e0 * (nn - nl_pres)) / nn)"
                "        AS BIGINT)) div 2 AS BIGINT)"
            ).alias("t_e9"),
        )
    )
    tg = materialize(tg)  # feeds the band aggregate and the max
    agg = tg.groupBy(F.expr(_TC_BANDS).alias("t_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("gs").cast("long").alias("n_docs"),
    )
    mx = tg.agg(
        F.max("t_e9").cast("long").alias("max_e9"),
        F.sum("gs").cast("long").alias("nn2"),
    )
    return agg.crossJoin(F.broadcast(mx)).select(
        "t_band",
        "n_groups",
        "n_docs",
        (F.round(F.col("n_docs").cast("double") / F.col("nn2"), 6) + F.lit(0.0)).alias(
            "doc_share"
        ),
        (F.round(F.col("max_e9") / 1e9, 6) + F.lit(0.0)).alias("max_t"),
    )


# --- Cochran-Mantel-Haenszel stratified A/B ---------------------------------

# Per-stratum expectation and variance of the treated-converted cell a_i
# under the margins: E_i = n1*m1/n, V_i = n1*n0*m1*m0 / (n^2 (n-1)).
# Both are rationals of exact integers — e9-quantized through shared text
# so the cross-stratum sums are exact integer sums.
_MH_E_E9 = "CAST(round(1000000000 * (1e0 * n1 * m1) / nt) AS BIGINT)"
_MH_V_E9 = (
    "CAST(round(1000000000 * (1e0 * n1 * n0 * m1 * m0)"
    " / (1e0 * nt * nt * (nt - 1))) AS BIGINT)"
)
# MH pooled odds-ratio terms: a*d/n and b*c/n per stratum, e9-quantized.
_MH_AD_E9 = "CAST(round(1000000000 * (1e0 * a * d) / nt) AS BIGINT)"
_MH_BC_E9 = "CAST(round(1000000000 * (1e0 * b * c) / nt) AS BIGINT)"

# z = (sum a - sum E) / sqrt(sum V): with E and V carried as e9
# integers, (a*1e9 - e_e9)/1e9 over sqrt(v_e9/1e9) reduces to
# (a*1e9 - e_e9) / sqrt(v_e9 * 1e9). (The first draft multiplied the
# denominator by a spurious 1e6 — BOTH engines shared the wrong text,
# so only the independent Python reference in tests/test_staging_r10.py
# caught it: cross-engine parity proves agreement, not intent.)
_MH_Z = (
    "CASE WHEN v_e9 <= 0 THEN 0.0"
    " ELSE round((1e0 * a_sum * 1000000000 - e_e9_sum)"
    "      / sqrt(1e0 * v_e9 * 1000000000), 6) + 0.0 END"
)


def _mh_oracle() -> str:
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
  FROM s WHERE (a + b) > 0 AND (c + d) > 0 AND (a + b + c + d) > 1
),
t AS (
  SELECT count(*)::BIGINT AS n_strata,
         CAST(sum(a) AS BIGINT) AS a_sum,
         CAST(sum({_MH_E_E9}) AS BIGINT) AS e_e9_sum,
         CAST(sum({_MH_V_E9}) AS BIGINT) AS v_e9,
         CAST(sum({_MH_AD_E9}) AS BIGINT) AS ad_e9,
         CAST(sum({_MH_BC_E9}) AS BIGINT) AS bc_e9
  FROM m
),
zz AS (
  SELECT n_strata, a_sum, round(e_e9_sum / 1e9, 6) + 0.0 AS e_sum,
         CASE WHEN bc_e9 = 0 THEN NULL
              ELSE round((1e0 * ad_e9) / bc_e9, 6) + 0.0 END AS or_mh,
         {_MH_Z} AS z_stat
  FROM t
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_strata, a_sum, e_sum, or_mh, z_stat,
       round({poly}, 6) + 0.0 AS p_normal
FROM xt
"""


@query("mantel_haenszel_stratified_ab", oracle=_mh_oracle())
def mantel_haenszel_stratified_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified A/B test + Mantel-Haenszel
    pooled odds ratio: does the treatment arm convert better CONTROLLING
    for event type? The stratified test every experimentation platform
    needs when traffic mix differs by arm (Simpson's-paradox insurance:
    a pooled two-proportion test can show the REVERSED sign when strata
    are imbalanced — ``ab_test_two_proportions`` pools,
    ``ab_segment_bh_fdr`` tests strata separately; CMH combines
    correctly). Degenerate strata (one-arm or size <= 1) drop, as in
    the standard estimator.

    Exactness: the 2x2 cells per stratum are exact int64 from one
    conditional aggregate; per-stratum E_i and V_i quantize to e9
    integers through shared text so cross-stratum sums are exact; z's
    numerator is the exact integer a_sum*1e9 - e_e9_sum (the only
    subtraction happens in integer space); OR_MH is one 6dp division
    of two e9 integer sums (NULL when no discordant mass); p is the
    shared erfc polynomial on rounded z.

    Scale shape: one corpus scan -> bounded |strata| frame; everything
    after is bounded re-aggregation. The arm is the portable 48-bit md5
    of user_id (unit of randomization = user)."""
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    poly = _as_erfc_poly()
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        arm.alias("g"),
        F.when(F.col("value") > 60, 1).otherwise(0).alias("y"),
    )
    s = e.groupBy("stratum").agg(
        F.sum(F.expr("g * y")).cast("long").alias("a"),
        F.sum(F.expr("g * (1 - y)")).cast("long").alias("b"),
        F.sum(F.expr("(1 - g) * y")).cast("long").alias("c"),
        F.sum(F.expr("(1 - g) * (1 - y)")).cast("long").alias("d"),
    )
    m = s.filter(
        ((F.col("a") + F.col("b")) > 0)
        & ((F.col("c") + F.col("d")) > 0)
        & ((F.col("a") + F.col("b") + F.col("c") + F.col("d")) > 1)
    ).select(
        "*",
        (F.col("a") + F.col("b")).alias("n1"),
        (F.col("c") + F.col("d")).alias("n0"),
        (F.col("a") + F.col("c")).alias("m1"),
        (F.col("b") + F.col("d")).alias("m0"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("nt"),
    )
    t = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("a_sum"),
        F.sum(F.expr(_MH_E_E9)).cast("long").alias("e_e9_sum"),
        F.sum(F.expr(_MH_V_E9)).cast("long").alias("v_e9"),
        F.sum(F.expr(_MH_AD_E9)).cast("long").alias("ad_e9"),
        F.sum(F.expr(_MH_BC_E9)).cast("long").alias("bc_e9"),
    )
    zz = t.select(
        "n_strata",
        "a_sum",
        (F.round(F.col("e_e9_sum") / 1e9, 6) + F.lit(0.0)).alias("e_sum"),
        F.expr(
            "CASE WHEN bc_e9 = 0 THEN NULL"
            " ELSE round((1e0 * ad_e9) / bc_e9, 6) + 0.0 END"
        ).alias("or_mh"),
        F.expr(_MH_Z).alias("z_stat"),
    )
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_strata",
        "a_sum",
        "e_sum",
        "or_mh",
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_normal"),
    )


# --- Cochran-Armitage trend test --------------------------------------------

# Exact integer core: with weights w_i = bucket index, A = total
# successes, n = total, the numerator is n*sum(w*a) - A*sum(w*n_i) and
# the variance core is A*(n-A)*(n*sum(w^2*n_i) - sum(w*n_i)^2) / n.
# z = num / sqrt(var) — one shared e6-quantized expression; the triple
# products promote to double per-term.
_CA_Z_MICRO = (
    "CASE WHEN ba <= 0 OR ba >= bn OR (1e0 * bn * sw2n - 1e0 * swn * swn) <= 0"
    "     THEN 0"
    "     ELSE CAST(round(1000000 * (1e0 * bn * swa - 1e0 * ba * swn)"
    "          / sqrt((1e0 * ba * (bn - ba) / bn)"
    "                 * (1e0 * bn * sw2n - 1e0 * swn * swn))) AS BIGINT) END"
)


def _ca_oracle() -> str:
    poly = _as_erfc_poly()
    return f"""
WITH d AS (
  SELECT least(n_chars // 250, 7) AS w,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT w, count(*)::BIGINT AS ni, sum(y)::BIGINT AS ai
  FROM d GROUP BY w
),
s AS (
  SELECT CAST(sum(ni) AS BIGINT) AS bn, CAST(sum(ai) AS BIGINT) AS ba,
         CAST(sum(w * ai) AS BIGINT) AS swa,
         CAST(sum(w * ni) AS BIGINT) AS swn,
         CAST(sum(w * w * ni) AS BIGINT) AS sw2n,
         count(*)::BIGINT AS n_buckets
  FROM g
),
zs AS (SELECT *, {_CA_Z_MICRO} AS z_micro FROM s),
zz AS (SELECT *, round(z_micro / 1e6, 6) + 0.0 AS z_stat FROM zs),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_buckets, bn AS n_docs, ba AS n_en, z_stat,
       round({poly}, 6) + 0.0 AS p_normal
FROM xt
"""


@query("cochran_armitage_trend", oracle=_ca_oracle())
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for TREND: does the proportion of English
    documents rise or fall MONOTONICALLY with document length (ordered
    length buckets as the dose)? The chi-square family
    (``chisq_source_language``, ``doc_source_contingency_chi2``) tests
    ANY dependence; Cochran-Armitage spends its single degree of
    freedom on the ordered alternative, which is what a corpus
    engineer usually suspects ("longer docs skew English") and what a
    2-dof omnibus test dilutes.

    Exactness: per-bucket counts are exact int64; the z numerator
    n*sum(w*a) - A*sum(w*n) and the variance core are shared
    expressions whose triple products promote to double per-term; z
    quantizes to e6 and p is the shared erfc polynomial on the rounded
    z. Degenerate inputs (all or no successes, zero weight variance)
    guard to z = 0.

    Scale shape: one corpus scan to the bounded 8-bucket frame; one
    1-row reduce. No joins, no windows."""
    poly = _as_erfc_poly()
    d = load_table(spark, sf_dir, "documents").select(
        F.expr("least(n_chars div 250, 7)").alias("w"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum("y").cast("long").alias("ai"),
    )
    s = g.agg(
        F.sum("ni").cast("long").alias("bn"),
        F.sum("ai").cast("long").alias("ba"),
        F.sum(F.expr("w * ai")).cast("long").alias("swa"),
        F.sum(F.expr("w * ni")).cast("long").alias("swn"),
        F.sum(F.expr("w * w * ni")).cast("long").alias("sw2n"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    zz = s.withColumn("z_micro", F.expr(_CA_Z_MICRO)).withColumn(
        "z_stat", F.round(F.col("z_micro") / 1e6, 6) + F.lit(0.0)
    )
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_buckets",
        F.col("bn").alias("n_docs"),
        F.col("ba").alias("n_en"),
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_normal"),
    )


# --- Cochran's Q over three matched binary raters ---------------------------

# Exact integer Q: with k treatments, column totals G_j and row sums L_i,
# Q = (k-1) * (k * sum(G_j^2) - (sum G)^2) / (k * sum(L) - sum(L^2)).
# For df = k-1 = 2 the chi-square upper tail has the CLOSED FORM
# p = exp(-Q/2) — one deterministic exp on the e6-rounded Q, no
# polynomial approximation needed.
_CQ_Q_MICRO = (
    "CASE WHEN (3 * sl - sl2) <= 0 THEN 0"
    " ELSE CAST(round(1000000 * 2e0 * (3e0 * (g1 * g1 + g2 * g2 + g3 * g3)"
    "                                  - 1e0 * (g1 + g2 + g3) * (g1 + g2 + g3))"
    "      / (3e0 * sl - 1e0 * sl2)) AS BIGINT) END"
)


def _cq_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        _CJK,
        _langid_case,
    )
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        _NB_PRED_CTES,
    )

    toks_d = T.tokens_duck("text")
    case = _langid_case(
        "men", "mde", "mfr", "mes", f"regexp_matches(text, '{_CJK}')"
    )
    return (
        _NB_PRED_CTES
        + f"""
, toks2 AS (
  SELECT doc_id, lang, text, {toks_d} AS t FROM documents WHERE doc_id % 2 = 1
),
hs AS (
  SELECT doc_id, lang, text,
         {T.marker_score_duck('t', 'en')} AS men, {T.marker_score_duck('t', 'de')} AS mde,
         {T.marker_score_duck('t', 'fr')} AS mfr, {T.marker_score_duck('t', 'es')} AS mes
  FROM toks2
),
r AS (
  SELECT p.doc_id,
         (p.pred_lang = p.true_lang)::INT AS x1,
         (({case}) = h.lang)::INT AS x2,
         (h.lang = 'en')::INT AS x3
  FROM pred p JOIN hs h USING (doc_id)
),
s AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(x1)::BIGINT AS g1, sum(x2)::BIGINT AS g2, sum(x3)::BIGINT AS g3,
         CAST(sum(x1 + x2 + x3) AS BIGINT) AS sl,
         CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sl2
  FROM r
),
q AS (SELECT *, {_CQ_Q_MICRO} AS q_micro FROM s)
SELECT n_docs, g1 AS nb_correct, g2 AS heuristic_correct,
       g3 AS baseline_correct, round(q_micro / 1e6, 6) + 0.0 AS q_stat,
       round(exp(-(round(q_micro / 1e6, 6) + 0.0) / 2), 6) + 0.0 AS p_chi2_df2
FROM q
"""
    )


@query("cochran_q_three_raters", oracle=_cq_oracle())
def cochran_q_three_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE matched binary classifiers on the same
    held-out documents — naive Bayes, the marker-word heuristic, and
    the predict-majority-class baseline: are their accuracies all
    equal? The k-classifier generalization of
    ``mcnemar_nb_vs_heuristic`` (McNemar IS Cochran's Q at k = 2), run
    before pairwise comparisons to control the first-stage error of
    "which of my k labelers differ at all".

    Exactness: every term of Q is an exact int64 (column totals,
    matched row sums and their squares from ONE conditional aggregate);
    Q quantizes to e6 through one shared expression, and — because
    df = k-1 = 2 — the chi-square p-value is the CLOSED FORM exp(-Q/2)
    evaluated on the rounded Q: no approximation polynomial at all.
    The degenerate all-rows-tied case (denominator 0) guards to Q = 0.

    Scale shape: the three label pipelines are the registry's verified
    per-row plans; one doc_id equi-join pairs them, one
    map-side-combined scalar aggregate ends it."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        _CJK,
        _langid_case,
    )
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        _nb_prediction_frame,
    )

    toks_s = T.tokens_spark("text")
    pred = _nb_prediction_frame(spark, sf_dir).select(
        "doc_id",
        (F.col("pred_lang") == F.col("true_lang")).cast("int").alias("x1"),
    )
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn("t", F.expr(toks_s))
        .select(
            "doc_id",
            "lang",
            "text",
            F.expr(T.marker_score_spark("t", "en")).alias("men"),
            F.expr(T.marker_score_spark("t", "de")).alias("mde"),
            F.expr(T.marker_score_spark("t", "fr")).alias("mfr"),
            F.expr(T.marker_score_spark("t", "es")).alias("mes"),
        )
    )
    h = hs.select(
        "doc_id",
        (
            F.expr(_langid_case("men", "mde", "mfr", "mes", f"text rlike '{_CJK}'"))
            == F.col("lang")
        )
        .cast("int")
        .alias("x2"),
        (F.col("lang") == "en").cast("int").alias("x3"),
    )
    r = pred.join(h, "doc_id")
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("x1").cast("long").alias("g1"),
        F.sum("x2").cast("long").alias("g2"),
        F.sum("x3").cast("long").alias("g3"),
        F.sum(F.expr("x1 + x2 + x3")).cast("long").alias("sl"),
        F.sum(F.expr("(x1 + x2 + x3) * (x1 + x2 + x3)")).cast("long").alias("sl2"),
    )
    q = s.withColumn("q_micro", F.expr(_CQ_Q_MICRO)).withColumn(
        "q_stat", F.round(F.col("q_micro") / 1e6, 6) + F.lit(0.0)
    )
    return q.select(
        "n_docs",
        F.col("g1").alias("nb_correct"),
        F.col("g2").alias("heuristic_correct"),
        F.col("g3").alias("baseline_correct"),
        "q_stat",
        (F.round(F.exp(-F.col("q_stat") / 2), 6) + F.lit(0.0)).alias("p_chi2_df2"),
    )


# --- quantile treatment effects ---------------------------------------------


def _qte_oracle() -> str:
    arm = T.h48_duck("doc_id::VARCHAR")
    return f"""
WITH d AS (
  SELECT {arm} % 2 AS g, n_chars AS y, doc_id FROM documents
),
rk AS (
  SELECT g, y,
         row_number() OVER (PARTITION BY g ORDER BY y, doc_id) AS r,
         count(*) OVER (PARTITION BY g) AS n
  FROM d
),
qs AS (SELECT unnest(range(1, 10)) AS q),
hit AS (
  SELECT q.q, rk.g, rk.y
  FROM rk JOIN qs q ON rk.r = (q.q * rk.n + 9) // 10
)
SELECT a.q,
       CAST(a.y AS BIGINT) AS q_control,
       CAST(b.y AS BIGINT) AS q_treated,
       CAST(b.y - a.y AS BIGINT) AS qte
FROM hit a JOIN hit b ON a.q = b.q AND a.g = 0 AND b.g = 1
"""


@query("quantile_treatment_effects", oracle=_qte_oracle())
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile quantile treatment effects of the hash A/B split on
    document length: the decile-by-decile shift between the two arms'
    length distributions. Mean tests (``welch_t_chars_ab``) can read
    zero while the treatment reshapes the TAILS — QTE is the standard
    distributional readout (Doksum 1974), and on an A/A hash split
    every decile difference should sit near zero, making this the
    distribution-level splitter audit next to the mean-level Welch A/A.

    Exactness: each arm's decile is the EXACT order statistic at rank
    ceil(q*n/10) — integer floor-division rank arithmetic (// vs div,
    the round-9 dialect rule), ranks from the deterministic-banded
    global-rank pass over (y, doc_id) per arm (a total order), and the
    QTE is an integer difference. No interpolation, no floats anywhere.

    Scale shape: per arm one banded rank pass (no single-partition
    sort); the 9-row decile grid joins by broadcast; the final join is
    9x9-row. The oracle's plain windowed row_number is the
    single-node semantic mirror."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    arm = F.expr(f"pmod({T.h48_spark('cast(doc_id as string)')}, 2)")
    d = load_table(spark, sf_dir, "documents").select(
        arm.alias("g"), F.col("n_chars").alias("y"), "doc_id"
    )
    qs = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))

    def _deciles(gval: int) -> DataFrame:
        rk = with_global_rank(
            d.filter(F.col("g") == gval).select("y", "doc_id"),
            ["y", "doc_id"],
            rank_col="r",
            total_col="n",
        )
        return rk.join(
            F.broadcast(qs), F.col("r") == F.expr("(q * n + 9) div 10")
        ).select("q", F.col("y"))

    a = _deciles(0).select("q", F.col("y").cast("long").alias("q_control"))
    b = _deciles(1).select("q", F.col("y").cast("long").alias("q_treated"))
    return a.join(b, "q").select(
        "q",
        "q_control",
        "q_treated",
        (F.col("q_treated") - F.col("q_control")).cast("long").alias("qte"),
    )


# --- two-arm log-rank test over session survival ----------------------------

# Per-death-time hypergeometric moments of the arm-1 death count:
# E1 = d * n1 / n, V = d * (n1/n) * (1 - n1/n) * (n - d) / (n - 1),
# e9-quantized through shared text; z mirrors the CMH shape (the only
# subtraction is integer o1*1e9 - e_e9).
_LR_E_E9 = "CAST(round(1000000000 * (1e0 * d * n1r) / nr) AS BIGINT)"
_LR_V_E9 = (
    "CASE WHEN nr <= 1 THEN 0"
    " ELSE CAST(round(1000000000 * (1e0 * d * n1r * (nr - n1r) * (nr - d))"
    "      / (1e0 * nr * nr * (nr - 1))) AS BIGINT) END"
)
_LR_Z = (
    "CASE WHEN v_e9 <= 0 THEN 0.0"
    " ELSE round((1e0 * o1 * 1000000000 - e_e9)"
    "      / sqrt(1e0 * v_e9 * 1000000000), 6) + 0.0 END"
)


def _lr_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _SESSIONIZE_CTE,
    )

    arm = T.h48_duck("user_id::VARCHAR")
    poly = _as_erfc_poly()
    return (
        _SESSIONIZE_CTE
        + f""",
sess_end AS (
  SELECT user_id, start_us,
         max(sec - start_sec)::BIGINT AS dur,
         max(sec)::BIGINT AS last_sec
  FROM sess GROUP BY user_id, start_us
),
gmx AS (SELECT max(sec)::BIGINT AS mx FROM ev),
obs AS (
  SELECT dur AS t, (mx - last_sec) <= 1800 AS censored,
         {arm} % 2 AS g
  FROM sess_end CROSS JOIN gmx
),
tot AS (
  SELECT count(*)::BIGINT AS n_all,
         CAST(sum(g) AS BIGINT) AS n_arm1
  FROM obs
),
bytime AS (
  SELECT t, count(*)::BIGINT AS removed,
         CAST(sum(g) AS BIGINT) AS removed1,
         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN censored THEN 0 ELSE g END) AS BIGINT) AS d1
  FROM obs GROUP BY t
),
risk AS (
  SELECT t, d, d1,
         n_all - coalesce(sum(removed) OVER w, 0) AS nr,
         n_arm1 - coalesce(sum(removed1) OVER w, 0) AS n1r
  FROM bytime CROSS JOIN tot
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
terms AS (
  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum({_LR_E_E9}) AS BIGINT) AS e_e9,
         CAST(sum({_LR_V_E9}) AS BIGINT) AS v_e9,
         count(*)::BIGINT AS n_death_times
  FROM risk WHERE d > 0 AND nr > 0
),
zz AS (
  SELECT n_death_times, o1, round(e_e9 / 1e9, 6) + 0.0 AS e1, {_LR_Z} AS z_stat
  FROM terms
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_death_times, o1, e1, z_stat,
       round({poly}, 6) + 0.0 AS p_normal
FROM xt
"""
    )


@query("logrank_test_session_survival", oracle=_lr_oracle())
def logrank_test_session_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank (Mantel-Cox) test on session lifetime under the
    reference's session semantics: do the two user hash-arms' sessions
    draw from the same survival curve? The censoring-correct companion
    to ``kaplan_meier_session_survival`` (the KM answers "what is the
    curve"; log-rank answers "are two curves different") and, on a hash
    A/A split, the survival-level splitter audit next to the mean-level
    ``welch_t_chars_ab``. Log-rank IS the CMH test applied to the
    per-death-time 2x2 tables — the same per-stratum hypergeometric
    moments as ``mantel_haenszel_stratified_ab``, stratified by time.

    Exactness: risk sets and death counts per time are exact integer
    window arithmetic; per-time E and V quantize to e9 via shared text
    so their sums are exact; z's numerator is the integer
    o1*1e9 - e_e9, p the shared erfc polynomial on rounded z.

    Scale shape: sessionize's one-shuffle pass; the per-time frame is
    bounded by the 12-h duration cap (43201 values, independent of
    corpus size) so the risk-set windows ride the documented
    bounded-global-window pattern; one scalar reduce ends it."""
    from flink_realtime_sessionize_sample_spark.plans.round9_queries import (
        _session_obs,
    )

    poly = _as_erfc_poly()
    arm = F.expr(f"pmod({T.h48_spark('cast(user_id as string)')}, 2)")
    obs = _session_obs(spark, sf_dir).select(
        "t", "censored", arm.alias("g")
    )
    bytime = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("removed"),
        F.sum("g").cast("long").alias("removed1"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("long").alias("d"),
        F.sum(F.when(F.col("censored"), 0).otherwise(F.col("g")))
        .cast("long")
        .alias("d1"),
    )
    # ONE sessionize execution: the bounded per-time frame (<= 43201
    # rows) is checkpointed, and the arm totals derive from it (every
    # observation leaves the risk set exactly once) instead of from a
    # second pass over the corpus-sized observation frame.
    bytime = materialize(bytime)
    tot = bytime.agg(
        F.sum("removed").cast("long").alias("n_all"),
        F.sum("removed1").cast("long").alias("n_arm1"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = bytime.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (F.col("n_all") - F.coalesce(F.sum("removed").over(w), F.lit(0)))
        .cast("long")
        .alias("nr"),
        (F.col("n_arm1") - F.coalesce(F.sum("removed1").over(w), F.lit(0)))
        .cast("long")
        .alias("n1r"),
    )
    terms = risk.filter((F.col("d") > 0) & (F.col("nr") > 0)).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.expr(_LR_E_E9)).cast("long").alias("e_e9"),
        F.sum(F.expr(_LR_V_E9)).cast("long").alias("v_e9"),
        F.count(F.lit(1)).cast("long").alias("n_death_times"),
    )
    zz = terms.select(
        "n_death_times",
        "o1",
        (F.round(F.col("e_e9") / 1e9, 6) + F.lit(0.0)).alias("e1"),
        F.expr(_LR_Z).alias("z_stat"),
    )
    xt = zz.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    return xt.select(
        "n_death_times",
        "o1",
        "e1",
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_normal"),
    )


# --- session bot signals -----------------------------------------------------

# Band predicate over exact integer gap moments: s = sum of gaps (sec),
# q = sum of squared gaps, ng = gap count. Coefficient-of-variation^2 of
# gaps <= 0.01 <=> 100 * ng * (ng*q - s*s) <= (ng - 1) * s * s — pure
# integer cross-multiplication (sample variance; metronome-regular
# timing). Burst = mean gap <= 2 s <=> s <= 2 * ng.
_BOT_BAND = (
    "CASE WHEN ng < 1 THEN 'single'"
    " WHEN s <= 2 * ng THEN 'burst'"
    " WHEN ng < 5 THEN 'short'"
    " WHEN 100 * ng * (ng * q - s * s) <= (ng - 1) * s * s THEN 'metronome'"
    " ELSE 'organic' END"
)


def _bot_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _SESSIONIZE_CTE,
    )

    return (
        _SESSIONIZE_CTE
        + f""",
gaps AS (
  SELECT session_id,
         ts_us // 1000000
           - lag(ts_us // 1000000) OVER (PARTITION BY session_id
                                         ORDER BY ts_us, event_id) AS gap
  FROM sessionized
),
per AS (
  SELECT session_id, count(gap)::BIGINT AS ng,
         CAST(sum(gap) AS BIGINT) AS s,
         CAST(sum(gap * gap) AS BIGINT) AS q
  FROM gaps GROUP BY session_id
),
tot AS (SELECT count(*)::BIGINT AS n_sessions FROM per),
b AS (
  SELECT {_BOT_BAND} AS band, count(*)::BIGINT AS n,
         CAST(sum(ng + 1) AS BIGINT) AS n_events,
         CAST(coalesce(sum(s), 0) AS BIGINT) AS total_sec
  FROM per GROUP BY band
)
SELECT b.band, b.n AS n_sessions, b.n_events, b.total_sec,
       round(CAST(b.n AS DOUBLE) / t.n_sessions, 6) + 0.0 AS session_share
FROM b CROSS JOIN tot t
"""
    )


@query("session_bot_signals", oracle=_bot_oracle())
def session_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-vs-organic triage of sessionized traffic — THE classic
    downstream of access-log sessionization (the reference's own
    domain): per session, the inter-event gap moments classify timing
    into ``single`` (one event — no timing signal), ``burst`` (mean
    gap <= 2 s — scripted hammering, any depth), ``short`` (< 5 gaps —
    too little signal for regularity), ``metronome`` (>= 5 gaps with
    coefficient of variation <= 0.1 — scheduler-regular polling no
    human produces), and ``organic``. Output: session/event/time share
    per band, the readout a traffic-quality gate consumes before
    sessions feed analytics or training data.

    Exactness: gaps are integer seconds from the verified sessionize
    plan; per-session moment sums are exact int64; BOTH band
    predicates are integer cross-multiplications (no division, no
    floats — the CV^2 <= 0.01 test is 100*ng*(ng*q - s*s) <=
    (ng-1)*s*s); shares are final 6dp divisions.

    Scale shape: sessionize's one-shuffle pass; the gap window rides
    the same session key (no extra exchange); one session-keyed
    aggregate, one bounded band aggregate."""
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _events_sessionized,
    )

    sz = _events_sessionized(spark, sf_dir).select(
        "session_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        "event_id",
    )
    wg = Window.partitionBy("session_id").orderBy("sec", "event_id")
    gaps = sz.select(
        "session_id", (F.col("sec") - F.lag("sec").over(wg)).alias("gap")
    )
    per = gaps.groupBy("session_id").agg(
        F.count("gap").cast("long").alias("ng"),
        F.sum("gap").cast("long").alias("s"),
        F.sum(F.expr("gap * gap")).cast("long").alias("q"),
    )
    per = materialize(per)  # feeds the total and the band aggregate
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    b = per.groupBy(F.expr(_BOT_BAND).alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions_b"),
        F.sum(F.expr("ng + 1")).cast("long").alias("n_events"),
        F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("total_sec"),
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "band",
        F.col("n_sessions_b").alias("n_sessions"),
        "n_events",
        "total_sec",
        (
            F.round(F.col("n_sessions_b").cast("double") / F.col("n_sessions"), 6)
            + F.lit(0.0)
        ).alias("session_share"),
    )


# --- Kaplan-Meier on user RETURN times (banded, unbounded domain) -----------


def _ret_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.round9_queries import (
        _KM_FACTOR_E6,
        _KM_SURV,
    )
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _SESSIONIZE_CTE,
    )

    return (
        _SESSIONIZE_CTE
        + f""",
se AS (
  SELECT user_id, start_us, min(sec)::BIGINT AS start_sec2,
         max(sec)::BIGINT AS end_sec
  FROM sess GROUP BY user_id, start_us
),
gmx AS (SELECT max(sec)::BIGINT AS mx FROM ev),
nxt AS (
  SELECT user_id, end_sec,
         lead(start_sec2) OVER (PARTITION BY user_id ORDER BY start_us)
           AS next_start
  FROM se
),
obs AS (
  SELECT CASE WHEN next_start IS NULL THEN mx - end_sec
              ELSE next_start - end_sec END AS t,
         (next_start IS NULL) AS censored
  FROM nxt CROSS JOIN gmx
),
tot AS (SELECT count(*)::BIGINT AS n_total FROM obs),
bytime AS (
  SELECT t, CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
         count(*)::BIGINT AS removed
  FROM obs GROUP BY t
),
risk AS (
  SELECT t, d,
         n_total - coalesce(sum(removed) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM bytime CROSS JOIN tot
),
death AS (
  SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, {_KM_FACTOR_E6} AS f_e6,
         CASE WHEN n_risk <= d THEN 1 ELSE 0 END AS zflag
  FROM risk WHERE d > 0
),
cum AS (
  SELECT t, n_risk, d,
         CAST(sum(f_e6) OVER w AS BIGINT) AS cum_e6,
         CAST(sum(zflag) OVER w AS BIGINT) AS zcum
  FROM death WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
)
SELECT t AS t_sec, n_risk, d AS n_events, {_KM_SURV} AS survival
FROM cum
"""
    )


@query("intersession_return_km", oracle=_ret_oracle())
def intersession_return_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of user RETURN time — the gap from a
    session's last event to the user's NEXT session start, with each
    user's open-ended wait after their final session RIGHT-CENSORED at
    batch end: S(t) = P(user stays away longer than t). The churn-side
    complement of ``kaplan_meier_session_survival`` (how long do
    sessions live vs how long until users come back) — computing mean
    return naively over observed gaps only is biased low exactly
    because the longest waits are the censored ones; KM is the fix.
    Cap-split sessions (1499-event / 12-h) produce near-zero returns
    by construction — part of the defined semantics, visible as the
    t=~0 head of the curve.

    Exactness: session ends/starts and gaps are exact integer seconds
    from the verified sessionize plan; KM factors are the shared
    e6-quantized ln text from the round-9 estimator; survival is one
    exp per row over exact integer cumulative sums.

    Scale shape — the reason this variant exists: unlike session
    DURATIONS (domain bounded by the 12-h cap), return times are
    bounded only by the corpus time range, so the per-time frame is
    corpus-proportional and a single-partition cumulative window would
    be the classic scale pinch. BOTH cumulative passes (risk-set
    depletion over all times, survival product over death times) ride
    the deterministic-banded ``with_global_rank`` operator
    (``extra_cums`` — one balanced exchange each, no global sort
    anywhere). The per-user lead() window is user-keyed, never global.
    The sessionize kernel runs ONCE: the per-session frame is
    checkpointed before fanning out to the batch-end scalar, the lead
    window and both banded passes (each of which self-references its
    input for cut sampling), and the per-time / death-time frames are
    checkpointed ahead of their banding — without these the upstream
    Arrow kernel re-expands ~10x (measured 40 corpus scans in the
    un-checkpointed plan tree)."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )
    from flink_realtime_sessionize_sample_spark.plans.round9_queries import (
        _KM_FACTOR_E6,
        _KM_SURV,
    )
    from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
        _events_sessionized,
    )

    sz = _events_sessionized(spark, sf_dir).select(
        "session_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    )
    se = sz.groupBy("session_id").agg(
        F.max("user_id").alias("user_id"),
        F.min("sec").cast("long").alias("start_sec2"),
        F.max("sec").cast("long").alias("end_sec"),
    )
    # ONE sessionize execution: the per-session frame (corpus/≈20 rows,
    # 4 thin columns) feeds the batch-end scalar, the per-user lead
    # window AND both banded passes' upstream — without this checkpoint
    # the Arrow sessionize kernel re-expands ~10x through the banding
    # self-references (measured 40 corpus scans in the plan tree).
    se = materialize(se)
    # Batch end = max session end (every event's sec <= its session's
    # max, so the global max survives the per-session aggregation).
    gmx = se.agg(F.max("end_sec").cast("long").alias("mx"))
    wu = Window.partitionBy("user_id").orderBy("start_sec2")
    nxt = se.select(
        "user_id",
        "end_sec",
        F.lead("start_sec2").over(wu).alias("next_start"),
    )
    obs = nxt.crossJoin(F.broadcast(gmx)).select(
        F.when(
            F.col("next_start").isNull(), F.col("mx") - F.col("end_sec")
        )
        .otherwise(F.col("next_start") - F.col("end_sec"))
        .cast("long")
        .alias("t"),
        F.col("next_start").isNull().alias("censored"),
    )
    bytime = obs.groupBy("t").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("removed"),
    )
    bytime = materialize(bytime)  # |distinct t| frame; feeds the
    # total AND the banding's sample/main self-references.
    # n_total = sum of removals (every observation leaves the risk set
    # exactly once) — no separate corpus pass.
    tot = bytime.agg(F.sum("removed").cast("long").alias("n_total"))
    # Banded pass 1: inclusive cumulative removals in t order -> exact
    # risk sets, no single-partition window over the unbounded t domain.
    r1 = with_global_rank(
        bytime,
        ["t"],
        rank_col="_rk1",
        sum_col="removed",
        cum_col="_cum_removed",
    )
    risk = r1.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n_total") - (F.col("_cum_removed") - F.col("removed"))
        ).cast("long").alias("n_risk"),
    )
    death = risk.filter(F.col("d") > 0).select(
        "t",
        "n_risk",
        "d",
        F.expr(_KM_FACTOR_E6).alias("f_e6"),
        F.expr("CASE WHEN n_risk <= d THEN 1 ELSE 0 END").alias("zflag"),
    )
    death = materialize(death)  # death-time frame; pass 2's
    # banding self-references would otherwise re-run pass 1.
    # Banded pass 2: cumulative log-factors + zero flags over death times.
    cum = with_global_rank(
        death,
        ["t"],
        rank_col="_rk2",
        sum_col="f_e6",
        cum_col="cum_e6",
        extra_cums=[("zflag", "zcum")],
    )
    return cum.select(
        F.col("t").alias("t_sec"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.expr(_KM_SURV).alias("survival"),
    )


# --- reciprocal (mutual) kNN near-duplicate pairs ---------------------------

_RNN_K = 5


def _rnn_oracle() -> str:
    return f"""
WITH c0 AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm,
         label
  FROM embeddings
),
c AS (SELECT *, {T.sign_bucket_duck('v')} AS bucket FROM c0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c JOIN c q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
knn AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= {_RNN_K}
),
mutual AS (
  SELECT a.query_id AS vec_a, a.neighbor_id AS vec_b, a.cosine
  FROM knn a JOIN knn b
    ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id
  WHERE a.query_id < a.neighbor_id
)
SELECT m.vec_a, m.vec_b, m.cosine + 0.0 AS cosine,
       (la.label = lb.label) AS same_label
FROM mutual m
JOIN embeddings la ON la.vec_id = m.vec_a
JOIN embeddings lb ON lb.vec_id = m.vec_b
"""


@query("reciprocal_nn_dedup", oracle=_rnn_oracle())
def reciprocal_nn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-nearest-neighbor near-duplicate candidates: pairs
    where EACH vector is in the other's k = {_RNN_K} cosine kNN list —
    the mutual-NN criterion that semantic-dedup pipelines use to cut
    asymmetric hub matches (a hub vector appears in thousands of kNN
    lists, but its own list holds only its true neighbors, so mutuality
    filters hub edges out — the remedy for exactly the pathology
    ``knn_hubness_audit`` measures). ``same_label`` marks each surviving
    pair's label agreement — the purity readout that says whether
    mutual-NN pairs are safe to collapse.

    Exactness: rides the verified LSH-bucketed kNN join
    (operators/similarity.py — bucketed candidates, never all-pairs;
    cosine ties broken on the 6dp score + neighbor id); mutuality is
    ONE self equi-join of the kNN edge list on the reversed key pair
    and the a < b filter dedupes orientations.

    Scale shape: the kNN edge frame is O(k * n); the mutual join is
    edge-keyed (shuffle O(k * n), never quadratic); the label join is a
    vec_id equi join."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        knn_join_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_join_cosine(emb, k=_RNN_K, nbits=4).select(
        "query_id", "neighbor_id", "cosine"
    )
    rev = knn.select(
        F.col("query_id").alias("_rq"), F.col("neighbor_id").alias("_rn")
    )
    mutual = (
        knn.join(
            rev,
            (F.col("_rq") == F.col("neighbor_id"))
            & (F.col("_rn") == F.col("query_id")),
        )
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            (F.col("cosine") + F.lit(0.0)).alias("cosine"),
        )
    )
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        mutual.join(lab.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("_la")), "vec_a")
        .join(lab.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("_lb")), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            (F.col("_la") == F.col("_lb")).alias("same_label"),
        )
    )


# --- Heaps' law vocabulary-growth fit ---------------------------------------

# Deterministic corpus prefixes: checkpoint c covers the first
# (c * n_docs) / 8 documents in doc_id order; V(c) = tokens whose FIRST
# occurrence (min doc_id) falls inside the prefix. The exponent comes
# from the exact 2-moment OLS on (ln n_tokens_prefix, ln V) over the 8
# checkpoints, each log e6-quantized from exact integers.
_HEAPS_CKPTS = 8


def _heaps_oracle() -> str:
    sh_d = T.shingles_duck(T.tokens_duck("text"))
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({sh_d}) AS token FROM documents
),
firsts AS (
  SELECT token, min(doc_id) AS first_doc, count(*)::BIGINT AS cnt
  FROM tk GROUP BY token
),
docs AS (
  SELECT doc_id, count(*)::BIGINT AS ntok
  FROM tk GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, ntok,
         row_number() OVER (ORDER BY doc_id) AS r,
         count(*) OVER () AS nd
  FROM docs
),
ck AS (SELECT unnest(range(1, {_HEAPS_CKPTS} + 1)) AS c),
cut AS (
  SELECT c.c, max(rk.doc_id) AS cut_doc,
         CAST(sum(rk.ntok) AS BIGINT) AS n_prefix
  FROM ranked rk JOIN ck c ON rk.r <= (c.c * rk.nd) // {_HEAPS_CKPTS}
  GROUP BY c.c
),
vs AS (
  SELECT cut.c, cut.n_prefix,
         CAST(count(f.token) AS BIGINT) AS v
  FROM cut LEFT JOIN firsts f ON f.first_doc <= cut.cut_doc
  GROUP BY cut.c, cut.n_prefix
),
pts AS (
  SELECT CAST(round(1000000 * ln(1e0 * n_prefix)) AS BIGINT) AS x_micro,
         CAST(round(1000000 * ln(1e0 * v)) AS BIGINT) AS y_micro
  FROM vs WHERE n_prefix > 0 AND v > 0
),
m AS (
  SELECT count(*)::BIGINT AS k,
         CAST(sum(x_micro) AS BIGINT) AS sx,
         CAST(sum(y_micro) AS BIGINT) AS sy,
         CAST(sum(x_micro * x_micro) AS BIGINT) AS sxx,
         CAST(sum(x_micro * y_micro) AS BIGINT) AS sxy
  FROM pts
)
SELECT k AS n_checkpoints,
       CASE WHEN (1e0 * k * sxx - 1e0 * sx * sx) <= 0 THEN NULL
            ELSE round((1e0 * k * sxy - 1e0 * sx * sy)
                       / (1e0 * k * sxx - 1e0 * sx * sx), 6) + 0.0 END
         AS heaps_beta,
       CASE WHEN (1e0 * k * sxx - 1e0 * sx * sx) <= 0 THEN NULL
            ELSE round(exp((sy - sx * ((1e0 * k * sxy - 1e0 * sx * sy)
                                       / (1e0 * k * sxx - 1e0 * sx * sx)))
                           / (1e6 * k)), 6) + 0.0 END
         AS heaps_k
FROM m
"""


@query("heaps_law_fit", oracle=_heaps_oracle())
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K * N^beta of 3-SHINGLE vocabulary growth
    against corpus size — the companion of ``doc_zipf_fit`` (the two
    laws are duals): beta says how fast NEW shingles keep arriving as
    the corpus grows, which is exactly the growth forecast for a
    shingle-keyed dedup index (MinHash bands, the prefix-filter
    inverted index) — beta near 0 says the index saturates, beta near
    1 says it grows linearly with the corpus. Shingles, not unigrams:
    the driver corpus's word vocabulary is tiny and saturates in the
    first checkpoint (beta pinned at 0 — a degenerate fit), while the
    shingle space keeps growing, the same reason dedup keys on
    shingles.
    Eight deterministic doc_id-ordered prefixes are the sample points;
    V(n) comes from each token's FIRST-occurrence document — one pass,
    no per-prefix rescan.

    Exactness: prefix token totals and first-occurrence counts are
    exact int64; each checkpoint's (ln N, ln V) quantizes to e6
    integers; the 2-moment OLS slope/intercept are single shared
    expressions of the exact integer moment sums (double-promoted
    per-term); degenerate single-point fits yield NULLs.

    Scale shape: one explode feeds BOTH the per-token first-occurrence
    aggregate and the per-doc token counts; the checkpoint join is
    8 x |docs-frame| on a rank predicate (broadcast 8-row side);
    V(c) is a count over the bounded firsts frame per checkpoint. The
    doc-rank window is the bounded-global-window pattern over the
    per-doc frame... no: it rides row_number over doc order — see plan
    note in tests (asserted banded-free but single-window over the
    |docs| frame is corpus-proportional; the checkpoint grid keeps the
    scan single-pass)."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    sh_s = T.shingles_spark(T.tokens_spark("text"))
    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(sh_s)).alias("token")
    )
    tk = materialize(tk)  # feeds firsts AND per-doc counts
    firsts = tk.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    docs = tk.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("ntok"))
    # Distributed doc rank + running token total in ONE banded pass (the
    # |docs| frame is corpus-proportional — no single-partition window).
    ranked = with_global_rank(
        docs, ["doc_id"], rank_col="r", total_col="nd",
        sum_col="ntok", cum_col="cum_ntok",
    )
    ck = spark.range(1, _HEAPS_CKPTS + 1).select(
        F.col("id").cast("long").alias("c")
    )
    cut = (
        ranked.join(
            F.broadcast(ck),
            F.col("r") == F.expr(f"(c * nd) div {_HEAPS_CKPTS}"),
        )
        .select("c", F.col("doc_id").alias("cut_doc"), F.col("cum_ntok").alias("n_prefix"))
    )
    vs = (
        cut.join(firsts, firsts.first_doc <= F.col("cut_doc"), "left")
        .groupBy("c", "n_prefix")
        .agg(F.count("token").cast("long").alias("v"))
    )
    pts = vs.filter((F.col("n_prefix") > 0) & (F.col("v") > 0)).select(
        F.expr("CAST(round(1000000 * ln(1e0 * n_prefix)) AS BIGINT)").alias("x_micro"),
        F.expr("CAST(round(1000000 * ln(1e0 * v)) AS BIGINT)").alias("y_micro"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x_micro").cast("long").alias("sx"),
        F.sum("y_micro").cast("long").alias("sy"),
        F.sum(F.expr("x_micro * x_micro")).cast("long").alias("sxx"),
        F.sum(F.expr("x_micro * y_micro")).cast("long").alias("sxy"),
    )
    return m.select(
        F.col("k").alias("n_checkpoints"),
        F.expr(
            "CASE WHEN (1e0 * k * sxx - 1e0 * sx * sx) <= 0 THEN NULL"
            " ELSE round((1e0 * k * sxy - 1e0 * sx * sy)"
            "            / (1e0 * k * sxx - 1e0 * sx * sx), 6) + 0.0 END"
        ).alias("heaps_beta"),
        F.expr(
            "CASE WHEN (1e0 * k * sxx - 1e0 * sx * sx) <= 0 THEN NULL"
            " ELSE round(exp((sy - sx * ((1e0 * k * sxy - 1e0 * sx * sy)"
            "                            / (1e0 * k * sxx - 1e0 * sx * sx)))"
            "                / (1e6 * k)), 6) + 0.0 END"
        ).alias("heaps_k"),
    )


# --- Cramer's V effect size ---------------------------------------------------

# Per-cell chi-square contribution (obs - exp)^2 / exp with exp =
# ns*nl/N, e9-quantized through shared text (double-promoted products
# inside). The full-grid form was first proven here during round-9
# staging; at the round-10 promotion chisq_source_language adopted it and
# now owns the constant — imported (not copied) so the two queries'
# statistics can never desynchronize (round-10 review finding).
from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (  # noqa: E402
    _CHISQ_CELL_E9 as _CV_CELL_E9,
)


def _cv_oracle() -> str:
    # Local import: only this oracle uses the guarded-sum constant.
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _CHISQ_SUM_E9 as _CV_SUM_E9,
    )

    return f"""
WITH cell AS (
  SELECT source, lang, count(*)::BIGINT AS nsl
  FROM documents GROUP BY source, lang
),
ms AS (SELECT source, sum(nsl)::BIGINT AS ns FROM cell GROUP BY source),
ml AS (SELECT lang, sum(nsl)::BIGINT AS nl FROM cell GROUP BY lang),
tot AS (SELECT sum(nsl)::BIGINT AS nn FROM cell),
dims AS (
  SELECT (SELECT count(*) FROM ms)::BIGINT AS r,
         (SELECT count(*) FROM ml)::BIGINT AS c
),
grid AS (
  -- FULL margin grid (bounded |S| x |L|): absent cells contribute their
  -- expected mass ns*nl/N to the textbook chi-square. (This query did it
  -- right from the start; chisq_source_language adopted the same form at
  -- its round-10 rotation and now owns the shared cell expression.)
  SELECT ms.source, ml.lang, ms.ns, ml.nl,
         coalesce(cell.nsl, 0) AS nsl
  FROM ms CROSS JOIN ml
  LEFT JOIN cell ON cell.source = ms.source AND cell.lang = ml.lang
),
chi AS (
  -- Symmetric int64-overflow guard (ADVICE r10): both engines sum the
  -- e9 cells in DECIMAL(38,0) and fail loud to NULL together once the
  -- total leaves int64 range — see _CHISQ_SUM_E9 in analytics_queries.
  SELECT {_CV_SUM_E9} AS chi2_e9
  FROM grid CROSS JOIN tot
)
SELECT d.r AS n_sources, d.c AS n_langs,
       round(chi.chi2_e9 / 1e9, 6) + 0.0 AS chi2,
       CASE WHEN least(d.r, d.c) < 2 OR chi.chi2_e9 < 0 THEN NULL
            ELSE round(sqrt((chi.chi2_e9 / 1e9)
                            / (1e0 * t.nn * (least(d.r, d.c) - 1))), 6) + 0.0
       END AS cramers_v
FROM chi CROSS JOIN dims d CROSS JOIN tot t
"""


@query("cramers_v_source_lang", oracle=_cv_oracle())
def cramers_v_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V of the source x language contingency — the [0, 1]
    NORMALIZED effect size that completes the dependence triple:
    ``chisq_source_language`` answers "is there dependence" (but its
    statistic grows with N — any dependence is 'significant' at corpus
    scale), ``mutual_info_source_lang`` measures it in nats, and V =
    sqrt(chi2 / (N * (min(r,c) - 1))) normalizes to a scale-free [0,1]
    a threshold can live on ("rebalance the mixture when V > 0.3").

    Exactness: per-cell chi-square contributions quantize to e9
    integers through shared expression text (the cross-multiplied
    (obs*N - ns*nl)^2 form, first proven here and — as of the round-10
    rotation — shared with chisq_source_language via the imported
    ``_CHISQ_CELL_E9`` constant) over the FULL bounded margin grid, so
    ABSENT cells contribute their expected mass ns*nl/N as the textbook
    statistic requires; the cell sum is exact and order-independent; V
    is one 6dp expression. Single-row/column tables yield NULL, and the
    cell sum carries the symmetric int64-overflow guard (NULL in BOTH
    engines once the total leaves int64 range — ``_CHISQ_SUM_E9``).

    Scale shape: identical to mutual_info_source_lang — one scan to
    the bounded cell frame, bounded re-aggregates, broadcast totals."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("nsl"))
    )
    cell = materialize(cell)
    ms = cell.groupBy("source").agg(F.sum("nsl").cast("long").alias("ns"))
    ml = cell.groupBy("lang").agg(F.sum("nsl").cast("long").alias("nl"))
    tot = cell.agg(F.sum("nsl").cast("long").alias("nn"))
    dims = ms.agg(F.count(F.lit(1)).cast("long").alias("r")).crossJoin(
        ml.agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        ms.crossJoin(F.broadcast(ml))
        .join(cell, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "ns",
            "nl",
            F.coalesce(F.col("nsl"), F.lit(0)).alias("nsl"),
        )
    )
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        _CHISQ_SUM_E9 as _CV_SUM_E9,
    )

    chi = grid.crossJoin(F.broadcast(tot)).agg(
        F.expr(_CV_SUM_E9).alias("chi2_e9")
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").alias("n_sources"),
            F.col("c").alias("n_langs"),
            (F.round(F.col("chi2_e9") / 1e9, 6) + F.lit(0.0)).alias("chi2"),
            F.expr(
                "CASE WHEN least(r, c) < 2 OR chi2_e9 < 0 THEN NULL"
                " ELSE round(sqrt((chi2_e9 / 1e9)"
                "                 / (1e0 * nn * (least(r, c) - 1))), 6) + 0.0"
                " END"
            ).alias("cramers_v"),
        )
    )


# --- standardized-mean-difference covariate balance ---------------------------

# Pooled-SD standardized mean difference per covariate, from the six
# exact integer moments: smd = (m1 - m0) / sqrt((v1 + v0) / 2) with
# v_i the sample variances. One shared expression; degenerate arms
# guard to NULL.
_SMD = (
    "CASE WHEN n0 < 2 OR n1 < 2"
    "          OR ((1e0 * n1 * q1 - 1e0 * s1 * s1) / (1e0 * n1 * (n1 - 1))"
    "            + (1e0 * n0 * q0 - 1e0 * s0 * s0) / (1e0 * n0 * (n0 - 1))) <= 0"
    "     THEN NULL"
    "     ELSE round((1e0 * s1 / n1 - 1e0 * s0 / n0)"
    "          / sqrt(((1e0 * n1 * q1 - 1e0 * s1 * s1) / (1e0 * n1 * (n1 - 1))"
    "                + (1e0 * n0 * q0 - 1e0 * s0 * s0) / (1e0 * n0 * (n0 - 1)))"
    "                 / 2), 6) + 0.0 END"
)


def _smd_oracle() -> str:
    arm = T.h48_duck("doc_id::VARCHAR")
    toks_d = T.tokens_duck("text")
    return f"""
WITH d AS (
  SELECT {arm} % 2 AS g,
         n_chars AS c1,
         CAST(length({toks_d}) AS BIGINT) AS c2,
         CAST(length(list_distinct({toks_d})) AS BIGINT) AS c3
  FROM documents
),
u AS (
  SELECT 'n_chars' AS covariate, g, c1 AS y FROM d
  UNION ALL SELECT 'n_words', g, c2 FROM d
  UNION ALL SELECT 'n_distinct_words', g, c3 FROM d
),
m AS (
  SELECT covariate,
         CAST(sum(1 - g) AS BIGINT) AS n0, CAST(sum(g) AS BIGINT) AS n1,
         CAST(sum((1 - g) * y) AS BIGINT) AS s0,
         CAST(sum(g * y) AS BIGINT) AS s1,
         CAST(sum((1 - g) * y * y) AS BIGINT) AS q0,
         CAST(sum(g * y * y) AS BIGINT) AS q1
  FROM u GROUP BY covariate
)
SELECT covariate, n0, n1, {_SMD} AS smd,
       CASE WHEN {_SMD} IS NULL THEN NULL ELSE abs({_SMD}) > 0.1 END
         AS imbalanced_at_0_1
FROM m
"""


@query("smd_covariate_balance", oracle=_smd_oracle())
def smd_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-mean-difference balance table of the hash A/B split
    across the document covariates (chars, words, distinct words) — the
    FIRST table any experiment readout or observational analysis
    prints: |SMD| > 0.1 on any covariate means the split is imbalanced
    and downstream effect estimates need adjustment
    (``welch_t_chars_ab`` tests ONE covariate for significance; SMD is
    the scale-free multi-covariate screening convention, and on a hash
    A/A split every row should sit well under 0.1).

    Exactness: the six per-covariate moments are exact int64 from one
    conditional aggregate over a 3-covariate unpivot; SMD is ONE
    shared 6dp expression of those integers (degenerate arms -> NULL);
    the 0.1 flag compares the ROUNDED smd, so both engines flag
    identically.

    Scale shape: one corpus scan -> 3-row unpivoted moment frame (the
    unpivot triples rows before the map-side combine but adds no
    shuffle width); no joins, no windows."""
    arm = F.expr(f"pmod({T.h48_spark('cast(doc_id as string)')}, 2)")
    toks_s = T.tokens_spark("text")
    d = load_table(spark, sf_dir, "documents").select(
        arm.alias("g"),
        F.col("n_chars").alias("c1"),
        F.expr(f"cast(size({toks_s}) as bigint)").alias("c2"),
        F.expr(f"cast(size(array_distinct({toks_s})) as bigint)").alias("c3"),
    )
    u = d.select(
        "g",
        F.explode(
            F.array(
                F.struct(F.lit("n_chars").alias("covariate"), F.col("c1").alias("y")),
                F.struct(F.lit("n_words").alias("covariate"), F.col("c2").alias("y")),
                F.struct(
                    F.lit("n_distinct_words").alias("covariate"),
                    F.col("c3").alias("y"),
                ),
            )
        ).alias("t"),
    ).select("g", "t.covariate", "t.y")
    m = u.groupBy("covariate").agg(
        F.sum(F.expr("1 - g")).cast("long").alias("n0"),
        F.sum("g").cast("long").alias("n1"),
        F.sum(F.expr("(1 - g) * y")).cast("long").alias("s0"),
        F.sum(F.expr("g * y")).cast("long").alias("s1"),
        F.sum(F.expr("(1 - g) * y * y")).cast("long").alias("q0"),
        F.sum(F.expr("g * y * y")).cast("long").alias("q1"),
    )
    return m.select(
        "covariate",
        "n0",
        "n1",
        F.expr(_SMD).alias("smd"),
        F.expr(
            f"CASE WHEN {_SMD} IS NULL THEN NULL ELSE abs({_SMD}) > 0.1 END"
        ).alias("imbalanced_at_0_1"),
    )


# --- Chao1 vocabulary richness ----------------------------------------------


def _chao1_oracle() -> str:
    sh_d = T.shingles_duck(T.tokens_duck("text"))
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({sh_d}) AS token FROM documents
),
cnt AS (SELECT token, count(*)::BIGINT AS c FROM tk GROUP BY token),
s AS (
  SELECT count(*)::BIGINT AS v_obs,
         CAST(sum(c) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM cnt
)
SELECT v_obs, n_total, f1, f2,
       round(v_obs + (1e0 * f1 * (f1 - 1)) / (2e0 * (f2 + 1)), 6) + 0.0
         AS chao1,
       round(1e0 - (1e0 * f1) / n_total, 6) + 0.0 AS turing_coverage
FROM s
"""


@query("chao1_vocab_richness", oracle=_chao1_oracle())
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 lower-bound estimate of TOTAL 3-shingle vocabulary richness
    (bias-corrected form V + f1(f1-1)/(2(f2+1)), defined even with no
    doubletons) plus Turing sample coverage 1 - f1/N — the abundance
    view that completes the vocabulary triple: ``good_turing_unseen_mass``
    estimates the PROBABILITY mass of unseen types,
    ``heaps_law_fit`` the GROWTH LAW, and Chao1 the DESTINATION (how
    many types exist at all) — i.e. the saturation size of a
    shingle-keyed dedup index. Singletons/doubletons come from the same
    count-of-counts spine as Good-Turing.

    Exactness: count-of-counts are exact int64 from one per-shingle
    aggregate + one scalar reduce; the estimator and coverage are
    single 6dp-rounded expressions of four exact integers.

    Scale shape: one explode -> per-shingle hash aggregate (the only
    corpus-sized shuffle) -> 1-row reduce."""
    sh_s = T.shingles_spark(T.tokens_spark("text"))
    tk = load_table(spark, sf_dir, "documents").select(
        F.explode(F.expr(sh_s)).alias("token")
    )
    cnt = tk.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return s.select(
        "v_obs",
        "n_total",
        "f1",
        "f2",
        F.expr(
            "round(v_obs + (1e0 * f1 * (f1 - 1)) / (2e0 * (f2 + 1)), 6) + 0.0"
        ).alias("chao1"),
        F.expr("round(1e0 - (1e0 * f1) / n_total, 6) + 0.0").alias(
            "turing_coverage"
        ),
    )


# --- jackknife source sensitivity -------------------------------------------


def _jk_oracle() -> str:
    return """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_s,
         CAST(sum(n_chars) AS BIGINT) AS s_chars,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s_en
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n,
         CAST(sum(s_chars) AS BIGINT) AS sc,
         CAST(sum(s_en) AS BIGINT) AS se
  FROM per
)
SELECT p.source, p.n_s AS n_docs,
       round((1e0 * t.sc) / t.n, 6) + 0.0 AS mean_chars_full,
       CASE WHEN t.n - p.n_s = 0 THEN NULL
            ELSE round((1e0 * (t.sc - p.s_chars)) / (t.n - p.n_s), 6) + 0.0
       END AS mean_chars_loo,
       CASE WHEN t.n - p.n_s = 0 THEN NULL
            ELSE round((1e0 * (t.sc - p.s_chars)) / (t.n - p.n_s)
                       - (1e0 * t.sc) / t.n, 6) + 0.0 END AS delta_mean_chars,
       CASE WHEN t.n - p.n_s = 0 THEN NULL
            ELSE round((1e0 * (t.se - p.s_en)) / (t.n - p.n_s)
                       - (1e0 * t.se) / t.n, 6) + 0.0 END AS delta_en_share
FROM per p CROSS JOIN tot t
"""


@query("jackknife_source_sensitivity", oracle=_jk_oracle())
def jackknife_source_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out sensitivity of the corpus-level statistics
    (mean document length, English share): for each source, the metric
    recomputed WITHOUT that source, in closed form from per-source
    moment sums — no per-source rescans. The data-mixture triage view:
    a source whose removal moves the corpus mean by more than the next
    ten combined is the one to investigate before reweighting
    (complements ``mixture_temperature_weights`` /
    ``neyman_allocation_by_source``, which decide weights; this says
    which source DOMINATES the current statistics).

    Exactness: per-source and total moments are exact int64; every LOO
    metric is one 6dp expression of those integers; a single-source
    corpus yields NULL LOO values (nothing left out).

    Scale shape: one corpus scan -> |sources| moment rows -> broadcast
    1-row total; closed-form LOO means no O(|sources|) rescans — the
    jackknife trick that makes influence audits free at 100 TB."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_s"),
            F.sum("n_chars").cast("long").alias("s_chars"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("s_en"),
        )
    )
    per = materialize(per)
    tot = per.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("s_chars").cast("long").alias("sc"),
        F.sum("s_en").cast("long").alias("se"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.expr("round((1e0 * sc) / n, 6) + 0.0").alias("mean_chars_full"),
        F.expr(
            "CASE WHEN n - n_s = 0 THEN NULL"
            " ELSE round((1e0 * (sc - s_chars)) / (n - n_s), 6) + 0.0 END"
        ).alias("mean_chars_loo"),
        F.expr(
            "CASE WHEN n - n_s = 0 THEN NULL"
            " ELSE round((1e0 * (sc - s_chars)) / (n - n_s)"
            "            - (1e0 * sc) / n, 6) + 0.0 END"
        ).alias("delta_mean_chars"),
        F.expr(
            "CASE WHEN n - n_s = 0 THEN NULL"
            " ELSE round((1e0 * (se - s_en)) / (n - n_s)"
            "            - (1e0 * se) / n, 6) + 0.0 END"
        ).alias("delta_en_share"),
    )


# --- capture-recapture estimate of total near-dup pairs ---------------------


def _cr_oracle() -> str:
    # Method A = the registered dedup_minhash_lsh oracle (exact-Jaccard
    # >= 0.5 verified LSH pairs); method B = the registered dedup_simhash
    # oracle (hamming <= 3 block pairs). Both are full SELECTs — embed as
    # FROM-subqueries so this oracle can never drift from theirs.
    from flink_realtime_sessionize_sample_spark.plans.registry import ORACLES

    ma = ORACLES["dedup_minhash_lsh"].strip().rstrip(";")
    mb = ORACLES["dedup_simhash"].strip().rstrip(";")
    return f"""
WITH pa AS (SELECT doc_a, doc_b FROM ({ma}) _a),
pb AS (SELECT doc_a, doc_b FROM ({mb}) _b),
m AS (
  SELECT (SELECT count(*) FROM pa)::BIGINT AS n1,
         (SELECT count(*) FROM pb)::BIGINT AS n2,
         (SELECT count(*) FROM pa JOIN pb USING (doc_a, doc_b))::BIGINT
           AS n_both
)
SELECT n1 AS n_minhash_pairs, n2 AS n_simhash_pairs, n_both,
       round((1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0, 6) + 0.0
         AS chapman_total_est,
       CASE WHEN (1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0 <= 0
            THEN NULL
            ELSE round((1e0 * n1)
                 / ((1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0), 6)
                 + 0.0 END AS minhash_coverage_est
FROM m
"""


@query("capture_recapture_dedup_estimate", oracle=_cr_oracle())
def capture_recapture_dedup_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL near-duplicate
    pair population from two independent-ish detectors — the verified
    MinHash-LSH pairs (Jaccard >= 0.5) as capture 1, the SimHash
    hamming <= 3 pairs as capture 2: N-hat = (n1+1)(n2+1)/(m+1) - 1
    from the overlap m. The dedup-governance number no single detector
    gives: "how many near-dup pairs do we estimate EXIST (and what
    fraction does each method catch)". Caveat stated, not hidden: the
    two detectors share the token stream, so captures are positively
    correlated and Chapman UNDERESTIMATES the total — the estimate is
    read as a lower bound, exactly as ``minhash_recall_audit`` reads
    its measured recall.

    Exactness: pair sets come from the registry's two verified dedup
    plans (operators/dedup.py); n1/n2/m are exact int64 (the overlap
    is ONE pair-keyed equi join); Chapman and the coverage are single
    6dp expressions. The oracle embeds the two REGISTERED oracles as
    subqueries, so the three oracles can never drift apart.

    Scale shape: both detectors are the established bucketed candidate
    generators (never all-pairs); the overlap join and the two counts
    shuffle O(pairs)."""
    from flink_realtime_sessionize_sample_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    # Each detector runs ONCE: the pair frames (bounded by the near-dup
    # pair count, far below corpus size) are checkpointed before feeding
    # both their marginal count and the intersection join — otherwise
    # the shingle+MinHash and SimHash pipelines each re-expand twice.
    pa = materialize(
        D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    )
    pb = materialize(D.simhash_pairs(docs).select("doc_a", "doc_b"))
    n1 = pa.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = pb.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    nb = (
        pa.join(pb, ["doc_a", "doc_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n1").alias("n_minhash_pairs"),
            F.col("n2").alias("n_simhash_pairs"),
            "n_both",
            F.expr(
                "round((1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0, 6)"
                " + 0.0"
            ).alias("chapman_total_est"),
            F.expr(
                "CASE WHEN (1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0 <= 0"
                " THEN NULL"
                " ELSE round((1e0 * n1)"
                "      / ((1e0 * (n1 + 1) * (n2 + 1)) / (n_both + 1) - 1e0), 6)"
                "      + 0.0 END"
            ).alias("minhash_coverage_est"),
        )
    )


# --- quality-filter disparity audit -----------------------------------------

# Two-proportion z of a language's Gopher pass rate vs the REST of the
# corpus (pooled variance), e6-quantized through shared text.
_FD_Z_MICRO = (
    "CASE WHEN n_l < 1 OR (n - n_l) < 1 OR k = 0 OR k = n THEN 0"
    " ELSE CAST(round(1000000 * ((1e0 * k_l / n_l) - (1e0 * (k - k_l) / (n - n_l)))"
    "      / sqrt((1e0 * k / n) * (1e0 - 1e0 * k / n)"
    "             * (1e0 / n_l + 1e0 / (n - n_l)))) AS BIGINT) END"
)


def _fd_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        _GOPHER_RULES,
        _gopher_doc_ctes,
    )

    poly = _as_erfc_poly()
    keep = " * ".join(f"b{i:02d}" for i in range(1, len(_GOPHER_RULES) + 1))
    return (
        _gopher_doc_ctes(carry="lang")
        + f""",
kept AS (SELECT lang, ({keep})::BIGINT AS keep FROM p),
per AS (
  SELECT lang, count(*)::BIGINT AS n_l, CAST(sum(keep) AS BIGINT) AS k_l
  FROM kept GROUP BY lang
),
tot AS (
  SELECT CAST(sum(n_l) AS BIGINT) AS n, CAST(sum(k_l) AS BIGINT) AS k
  FROM per
),
u AS (SELECT p.lang, p.n_l, p.k_l, t.n, t.k FROM per p CROSS JOIN tot t),
zz AS (
  SELECT lang, n_l, k_l,
         round((1e0 * k_l) / n_l, 6) + 0.0 AS pass_rate,
         round((1e0 * k) / n, 6) + 0.0 AS overall_rate,
         CASE WHEN k = 0 OR n_l = 0 THEN NULL
              ELSE round(((1e0 * k_l) / n_l) / ((1e0 * k) / n), 6)
                   + 0.0 END AS risk_ratio,
         {_FD_Z_MICRO} AS z_micro
  FROM u
),
zs AS (SELECT *, round(z_micro / 1e6, 6) + 0.0 AS z_stat FROM zz),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zs
)
SELECT lang, n_l AS n_docs, k_l AS n_kept, pass_rate, overall_rate,
       risk_ratio, z_stat, round({poly}, 6) + 0.0 AS p_normal,
       (round({poly}, 6) + 0.0) <= 0.05 AND (risk_ratio < 0.8 OR risk_ratio > 1.25)
         AS disparity_flag
FROM xt
"""
    )


@query("filter_disparity_audit", oracle=_fd_oracle())
def filter_disparity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language disparity audit of the Gopher quality filter: pass
    rate by language vs the rest of the corpus, risk ratio against the
    overall rate, and a two-proportion z with the four-fifths-style
    band (flag when p <= 0.05 AND the risk ratio leaves [0.8, 1.25]) —
    the responsible-curation readout that catches an English-tuned rule
    battery silently filtering out other languages
    (``gopher_quality_by_source`` slices by source; language is the
    axis fairness reviews actually ask about).

    Exactness: per-language kept/total counts are exact int64 over the
    verified Gopher rule booleans (llm_queries scaffolding — identical
    predicate text both dialects); rates/ratios are single 6dp
    expressions; z quantizes to e6 through shared text and p is the
    shared erfc polynomial on the rounded z; the flag compares ROUNDED
    values only.

    Scale shape: the rule battery is the established single-scan
    projection; one |langs| aggregate + broadcast total ends it."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        _GOPHER_RULES,
        _gopher_flag_frame,
    )

    poly = _as_erfc_poly()
    keep = " * ".join(f"b{i:02d}" for i in range(1, len(_GOPHER_RULES) + 1))
    docs = load_table(spark, sf_dir, "documents")
    kept = _gopher_flag_frame(docs, carry=("lang",)).select(
        "lang", F.expr(f"cast({keep} as bigint)").alias("keep")
    )
    per = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.sum("keep").cast("long").alias("k_l"),
    )
    tot = per.agg(
        F.sum("n_l").cast("long").alias("n"), F.sum("k_l").cast("long").alias("k")
    )
    zz = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        "k_l",
        F.expr("round((1e0 * k_l) / n_l, 6) + 0.0").alias("pass_rate"),
        F.expr("round((1e0 * k) / n, 6) + 0.0").alias("overall_rate"),
        F.expr(
            "CASE WHEN k = 0 OR n_l = 0 THEN NULL"
            " ELSE round(((1e0 * k_l) / n_l) / ((1e0 * k) / n), 6) + 0.0 END"
        ).alias("risk_ratio"),
        F.expr(_FD_Z_MICRO).alias("z_micro"),
    )
    zs = zz.withColumn("z_stat", F.round(F.col("z_micro") / 1e6, 6) + F.lit(0.0))
    xt = zs.withColumn("_x", F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))).withColumn(
        "_t", 1 / (1 + 0.3275911 * (F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))))
    )
    pv = F.round(F.expr(poly), 6) + F.lit(0.0)
    return xt.select(
        "lang",
        F.col("n_l").alias("n_docs"),
        F.col("k_l").alias("n_kept"),
        "pass_rate",
        "overall_rate",
        "risk_ratio",
        "z_stat",
        pv.alias("p_normal"),
        (
            (pv <= 0.05)
            & ((F.col("risk_ratio") < 0.8) | (F.col("risk_ratio") > 1.25))
        ).alias("disparity_flag"),
    )


# --- rank-biased overlap between the two retrieval legs ---------------------

_RBO_P = 0.9
_RBO_K = 10

# C[m] = (1-p) * sum_{d=m..k} p^(d-1)/d — the truncated-RBO mass a common
# document at max-rank m contributes. Computed ONCE here and embedded as
# e9 integer literals in both dialects, so the per-doc contributions and
# their sum are exact integers.
_RBO_C_E9 = [
    round(
        1_000_000_000
        * (1 - _RBO_P)
        * sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_K + 1))
    )
    for m in range(1, _RBO_K + 1)
]
_RBO_CASE = (
    "CASE "
    + " ".join(
        f"WHEN greatest(sr, dr) = {m} THEN {c}"
        for m, c in enumerate(_RBO_C_E9, start=1)
    )
    + " ELSE 0 END"
)


def _rbo_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        _RRF_DEPTH,
    )

    toks_d = T.tokens_duck("text")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks_d} AS t FROM documents
),
lens AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM lens),
hits AS (SELECT doc_id, unnest(t) AS term, len(t)::BIGINT AS dl FROM toks),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl
  FROM hits WHERE term IN ('spark', 'join', 'stream', 'window')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
bm AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))), 4) AS score
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
sparse AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS sr
  FROM bm ORDER BY score DESC, doc_id ASC LIMIT {_RBO_K}
),
e AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id AS doc_id,
         round({T.dot_duck('e.v', 'q.v')} / (e.nrm * q.nrm), 6) AS cosine
  FROM e CROSS JOIN q WHERE e.vec_id <> 0
),
dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS dr
  FROM cos ORDER BY cosine DESC, doc_id ASC LIMIT {_RBO_K}
),
common AS (
  SELECT s.doc_id, s.sr, d.dr, {_RBO_CASE} AS c_e9
  FROM sparse s JOIN dense d USING (doc_id)
)
SELECT (SELECT count(*) FROM common)::BIGINT AS overlap_at_{_RBO_K},
       round(coalesce((SELECT sum(c_e9) FROM common), 0) / 1e9, 6) + 0.0
         AS rbo_p9
"""


@query("rbo_sparse_vs_dense", oracle=_rbo_oracle())
def rbo_sparse_vs_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010; p = {_RBO_P}, truncated
    at depth {_RBO_K}, no extrapolation) between the BM25 lexical and
    dense-cosine rankings that ``hybrid_rrf_retrieval`` fuses — the
    principled TOP-WEIGHTED rank-similarity answer to "do my two
    retrieval legs even agree, and where": plain overlap@k weighs rank
    1 and rank 10 equally, Spearman/Kendall need conjoint lists, while
    RBO's geometric weighting handles non-conjoint top-k lists exactly
    as retrieval evaluation requires. Low RBO with good fused quality
    is the signature of complementary legs (the reason to fuse);
    high RBO says the second leg is redundant.

    Exactness: both rankings are the registry's verified leg
    definitions (rounded scores + doc_id tiebreaks — total orders);
    each common document contributes C[max(sr, dr)] where the C table
    is precomputed ONCE in Python and embedded as e9 integer literals
    in BOTH dialects, so the RBO sum is an exact integer sum; the
    readout is one 6dp division. Truncated form — no p^k
    extrapolation term — documented in the column name's p9.

    Scale shape: both legs are the established index patterns (BM25
    term-filter before any shuffle; dense is a 1-query broadcast
    cosine); everything after the two top-{_RBO_K}s is
    bounded-row arithmetic."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk,
    )
    from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
        bm25_scored_frame,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = bm25_scored_frame(docs)
    sparse = (
        bm.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_RBO_K)
        .withColumn(
            "sr",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            ),
        )
        .select("doc_id", "sr")
    )
    dense = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=_RBO_K).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dr")
    )
    common = sparse.join(dense, "doc_id").select(
        "doc_id", "sr", "dr", F.expr(_RBO_CASE).alias("c_e9")
    )
    agg = common.agg(
        F.count(F.lit(1)).cast("long").alias(f"overlap_at_{_RBO_K}"),
        F.coalesce(F.sum("c_e9"), F.lit(0)).cast("long").alias("_s"),
    )
    return agg.select(
        f"overlap_at_{_RBO_K}",
        (F.round(F.col("_s") / 1e9, 6) + F.lit(0.0)).alias("rbo_p9"),
    )


# --- doc-level PII x quasi-identifier co-occurrence audit --------------------

# The release-governance gap the privacy trio leaves open: k-anonymity /
# l-diversity / t-closeness grade the QI GROUPS, pii_redact grades the
# TEXT — neither says where the two risks meet. A document carrying PII
# inside a small QI group is the re-identification case (the PII string
# plus three quasi-identifiers picks out a person); a document carrying
# BOTH PII types is the content-risk case regardless of group size.
# pii_redact's augmentation (pipeline_queries.py) is an either/or CASE —
# a doc never carries both types — so this audit uses its own TWO
# INDEPENDENT branches (same detectors, same constants): doc_id % 7
# appends an email AND doc_id % 11 appends a long numeric ref, so the
# both-types cell is non-empty (doc_id % 77) and CRT independence makes
# the expected lift ~1.

_PII_AUG = (
    "concat(text,"
    " CASE WHEN doc_id % 7 = 0"
    " THEN concat(' contact user', cast(doc_id AS VARCHAR), '@example.com')"
    " ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0"
    " THEN concat(' ref ', cast(doc_id * 9999991 AS VARCHAR))"
    " ELSE '' END)"
)

_PII_TIER = (
    "CASE WHEN gs < 10 AND (ne > 0 OR nn > 0) THEN 'small_group_pii'"
    " WHEN nb > 0 THEN 'cooccurring_pii'"
    " WHEN ne > 0 OR nn > 0 THEN 'single_type_pii'"
    " ELSE 'no_pii' END"
)

# Corpus-wide email x number lift P(both) / (P(email) P(num)); the counts
# are exact int64, the readout is one shared double expression.
_PII_LIFT = (
    "round((1e0 * n_docs * nb_t) / nullif((1e0 * ne_t) * nn_t, 0e0), 6)"
    " + 0.0"
)


def _pii_co_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.pipeline_queries import (
        _EMAIL_RE,
        _NUM_RE,
    )

    return f"""
WITH aug AS (
  SELECT doc_id, lang, source, n_chars // 200 AS len_band, {_PII_AUG} AS s
  FROM documents
),
flag AS (
  SELECT lang, source, len_band,
         CASE WHEN len(regexp_extract_all(s, '{_EMAIL_RE}')) > 0
              THEN 1 ELSE 0 END AS he,
         CASE WHEN len(regexp_extract_all(
                regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                '{_NUM_RE}')) > 0
              THEN 1 ELSE 0 END AS hn
  FROM aug
),
g AS (
  SELECT lang, source, len_band, count(*)::BIGINT AS gs,
         sum(he)::BIGINT AS ne, sum(hn)::BIGINT AS nn,
         sum(he * hn)::BIGINT AS nb
  FROM flag GROUP BY lang, source, len_band
),
t AS (
  SELECT sum(gs)::BIGINT AS n_docs, sum(ne)::BIGINT AS ne_t,
         sum(nn)::BIGINT AS nn_t, sum(nb)::BIGINT AS nb_t
  FROM g
),
b AS (
  SELECT {_PII_TIER} AS risk_tier, count(*)::BIGINT AS n_groups,
         sum(gs)::BIGINT AS n_docs_tier, sum(ne)::BIGINT AS n_email_docs,
         sum(nn)::BIGINT AS n_num_docs, sum(nb)::BIGINT AS n_both_docs
  FROM g GROUP BY risk_tier
)
SELECT b.risk_tier, b.n_groups, b.n_docs_tier, b.n_email_docs,
       b.n_num_docs, b.n_both_docs,
       round(CAST(b.n_docs_tier AS DOUBLE) / t.n_docs, 6) + 0.0 AS doc_share,
       {_PII_LIFT} AS cooccur_lift
FROM b CROSS JOIN t
"""


@query("pii_cooccurrence_audit", oracle=_pii_co_oracle())
def pii_cooccurrence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level PII co-occurrence audit joining the content-risk scan
    (``pii_redact``'s email / long-number detectors over an
    INDEPENDENT two-branch variant of its deterministic augmentation,
    so both-types documents exist) to the privacy trio's quasi-identifier
    groups (lang, source, length-band — ``k_anonymity_audit``'s exact
    QI tuple): every QI group lands in one of four ordered risk tiers —
    ``small_group_pii`` (PII inside a group of size < 10: the
    re-identification case k-anonymity alone can't flag, because it
    doesn't know which small groups carry PII), ``cooccurring_pii``
    (some document carries BOTH types: joint-content risk),
    ``single_type_pii``, ``no_pii`` — plus the corpus-wide lift
    P(both)/(P(email)·P(num)) that says whether the two PII types
    cluster in the same documents (lift >> 1 means a redaction pass
    must treat them as one leak channel, not two).

    Exactness: flags, group sizes, tier counts and the four totals are
    exact int64; the only doubles are the final 6dp share and lift, each
    ONE shared expression over identical integers. Scale shape: a
    regex-flag map over the corpus (JVM codegen, no UDF), one hash
    aggregate to the QI-group frame (bounded by the QI domain), one
    re-aggregation to <= 4 tier rows, one 1-row broadcast total — the
    ``k_anonymity_audit`` shape with the PII flags riding the same
    single scan."""
    from flink_realtime_sessionize_sample_spark.plans.pipeline_queries import (
        _EMAIL_RE,
        _NUM_RE,
    )

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "lang",
        "source",
        F.expr("n_chars div 200").alias("len_band"),
        F.expr(_PII_AUG.replace("AS VARCHAR", "AS STRING")).alias("s"),
    )
    no_email = F.regexp_replace(F.col("s"), _EMAIL_RE, "<EMAIL>")
    flag = aug.select(
        "lang",
        "source",
        "len_band",
        (F.regexp_count(F.col("s"), F.lit(_EMAIL_RE)) > 0)
        .cast("int")
        .alias("he"),
        (F.regexp_count(no_email, F.lit(_NUM_RE)) > 0).cast("int").alias("hn"),
    )
    g = flag.groupBy("lang", "source", "len_band").agg(
        F.count(F.lit(1)).cast("long").alias("gs"),
        F.sum("he").cast("long").alias("ne"),
        F.sum("hn").cast("long").alias("nn"),
        F.sum(F.col("he") * F.col("hn")).cast("long").alias("nb"),
    )
    g = materialize(g)  # QI-group frame feeds the total and the tiers
    t = g.agg(
        F.sum("gs").cast("long").alias("n_docs"),
        F.sum("ne").cast("long").alias("ne_t"),
        F.sum("nn").cast("long").alias("nn_t"),
        F.sum("nb").cast("long").alias("nb_t"),
    )
    b = g.groupBy(F.expr(_PII_TIER).alias("risk_tier")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("gs").cast("long").alias("n_docs_tier"),
        F.sum("ne").cast("long").alias("n_email_docs"),
        F.sum("nn").cast("long").alias("n_num_docs"),
        F.sum("nb").cast("long").alias("n_both_docs"),
    )
    return b.crossJoin(F.broadcast(t)).select(
        "risk_tier",
        "n_groups",
        "n_docs_tier",
        "n_email_docs",
        "n_num_docs",
        "n_both_docs",
        (
            F.round(F.col("n_docs_tier").cast("double") / F.col("n_docs"), 6)
            + F.lit(0.0)
        ).alias("doc_share"),
        F.expr(_PII_LIFT).alias("cooccur_lift"),
    )


# --- multiclass Matthews correlation of the NB classifier --------------------

# Gorodkin (2004) R_K over the confusion of the registry's hashed
# naive-Bayes language classifier: with s = test docs, c = correct,
# t_k / p_k the true / predicted class counts,
#   R_K = (c*s - sum_k p_k t_k) / sqrt((s^2 - sum p_k^2)(s^2 - sum t_k^2)).
# Every moment is an exact int64 (ceiling: s <= ~3e9 held-out docs before
# c*s / s*s overflow — ANSI/DuckDB fail loud, not silent); the two
# variance factors multiply in DOUBLE (their int64 product would cap s at
# ~55k) inside ONE shared expression, so both engines run the identical
# IEEE sequence.
_MCC_EXPR = (
    "round((1e0 * (c * s - spt))"
    " / nullif(sqrt((1e0 * (s * s - sp2)) * (1e0 * (s * s - st2))), 0e0), 6)"
    " + 0.0"
)
_ACC_EXPR = "round((1e0 * c) / s, 6) + 0.0"


def _mcc_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        _NB_PRED_CTES,
    )

    return (
        _NB_PRED_CTES
        + f"""
, conf AS (
  SELECT true_lang, pred_lang, count(*)::BIGINT AS n
  FROM pred GROUP BY true_lang, pred_lang
),
tk AS (SELECT true_lang AS cls, sum(n)::BIGINT AS t_n FROM conf
       GROUP BY true_lang),
pk AS (SELECT pred_lang AS cls, sum(n)::BIGINT AS p_n FROM conf
       GROUP BY pred_lang),
cl AS (SELECT cls FROM tk UNION SELECT cls FROM pk),
mm AS (
  SELECT cl.cls, coalesce(tk.t_n, 0)::BIGINT AS t_n,
         coalesce(pk.p_n, 0)::BIGINT AS p_n
  FROM cl LEFT JOIN tk ON tk.cls = cl.cls LEFT JOIN pk ON pk.cls = cl.cls
),
ag AS (
  SELECT count(*)::BIGINT AS n_classes, sum(t_n * p_n)::BIGINT AS spt,
         sum(p_n * p_n)::BIGINT AS sp2, sum(t_n * t_n)::BIGINT AS st2
  FROM mm
),
tot AS (
  SELECT sum(n)::BIGINT AS s,
         sum(CASE WHEN pred_lang = true_lang THEN n ELSE 0 END)::BIGINT AS c
  FROM conf
)
SELECT s AS n_test, c AS n_correct, n_classes,
       {_ACC_EXPR} AS accuracy,
       {_MCC_EXPR} AS mcc_rk
FROM tot CROSS JOIN ag
"""
    )


@query("mcc_nb_classifier", oracle=_mcc_oracle())
def mcc_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation (Gorodkin 2004 R_K) of the
    held-out naive-Bayes language predictions — the single-number
    confusion summary that, unlike accuracy or macro-F1, is PREVALENCE-
    ROBUST: a classifier that just predicts the majority language scores
    high accuracy on a skewed corpus but R_K ~ 0, which is exactly the
    failure mode of language-ID on web corpora (one dominant language).
    Completes the eval family next to ``naive_bayes_eval_f1`` (per-class
    view), ``roc_auc_exact`` and ``cohen_kappa``: kappa corrects
    agreement for chance, R_K is the correlation-coefficient analogue
    generalized to K classes (reduces to binary MCC at K = 2).

    Exactness: the confusion moments (c, s, Σp_k·t_k, Σp_k², Σt_k²) are
    exact int64 over the shared integer-quantized prediction frame
    (argmax of micro-unit integer scores — ``_NB_PRED_CTES`` /
    ``_nb_prediction_frame`` are the verified pair); R_K and accuracy
    are each ONE shared double expression, 6dp. Degenerate single-class
    predictions make a variance factor 0 -> NULL via nullif (not a
    division error). Scale shape: the corpus is touched ONCE — one
    aggregation of the NB prediction frame to the |classes|^2 confusion
    frame, which is checkpointed (bounded by the label domain, the
    ``k_anonymity_audit`` pattern) so the class marginals, the moment
    aggregate and the totals all derive from it without re-running the
    scoring DAG; everything downstream is |classes|-row arithmetic."""
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        _nb_prediction_frame,
    )

    conf = (
        _nb_prediction_frame(spark, sf_dir)
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    conf = materialize(conf)  # |classes|^2 frame feeds 3 readouts
    tk = conf.groupBy(F.col("true_lang").alias("cls")).agg(
        F.sum("n").cast("long").alias("t_n")
    )
    pk = conf.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n").cast("long").alias("p_n")
    )
    cl = tk.select("cls").union(pk.select("cls")).distinct()
    mm = (
        cl.join(tk, "cls", "left")
        .join(pk, "cls", "left")
        .select(
            F.coalesce("t_n", F.lit(0)).cast("long").alias("t_n"),
            F.coalesce("p_n", F.lit(0)).cast("long").alias("p_n"),
        )
    )
    ag = mm.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("t_n") * F.col("p_n")).cast("long").alias("spt"),
        F.sum(F.col("p_n") * F.col("p_n")).cast("long").alias("sp2"),
        F.sum(F.col("t_n") * F.col("t_n")).cast("long").alias("st2"),
    )
    tot = conf.agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("true_lang"), F.col("n")).otherwise(0)
        )
        .cast("long")
        .alias("c"),
    )
    return tot.crossJoin(F.broadcast(ag)).select(
        F.col("s").alias("n_test"),
        F.col("c").alias("n_correct"),
        "n_classes",
        F.expr(_ACC_EXPR).alias("accuracy"),
        F.expr(_MCC_EXPR).alias("mcc_rk"),
    )


# --- Friedman test on the per-user event mix ---------------------------------

# Tie-corrected Friedman (k = 3 matched treatments, blocks = users): with
# double-ranks r2 = 2*rank (average ranks at ties are half-integers, so
# doubling keeps everything int64), column sums R2_j, and the tie term
# T = sum over blocks of sum(t^3 - t) per tie group,
#   Q = 6 * (sum_j R2_j^2 - 48 n^2) / (24 n - T)
# — the exact rational form of Conover's tie-corrected statistic at
# k = 3 (derivation: Q_uncorr = (sum R_j^2)/n - 12n, correction factor
# C = 1 - T/(24n)). df = k-1 = 2, so the chi-square upper tail is the
# CLOSED FORM p = exp(-Q/2) (the cochran_q_three_raters trick — no
# incomplete-gamma approximation enters).
#
# With only k = 3 values per block, average ranks need no window: the
# double-rank of a against {b, c} is 2 + 2*#less + #equal, a pure
# integer CASE expression after the per-user pivot.


def _fried_r2(x: str, y: str, z: str) -> str:
    """Double-rank (2x average ascending rank) of column ``x`` among the
    block's three values {x, y, z} — shared dialect text."""
    return (
        f"2 + 2 * ((CASE WHEN {y} < {x} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {z} < {x} THEN 1 ELSE 0 END))"
        f" + (CASE WHEN {y} = {x} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {z} = {x} THEN 1 ELSE 0 END)"
    )


_FRIED_TIE = (
    "CASE WHEN a = b AND b = c THEN 24"
    " WHEN a = b OR b = c OR a = c THEN 6 ELSE 0 END"
)

# R2_j <= 6n, so R2_j^2 caps n at ~5e8 blocks in int64 (ANSI/DuckDB fail
# loud past it — document, don't silently lose precision); the division
# runs in double via 6e0. Fully-tied-everywhere input makes 24n - T = 0
# -> NULL via nullif (Q undefined, not an error).
_FRIED_Q_E6 = (
    "CAST(round(1000000 * 6e0"
    " * ((r2v * r2v + r2c * r2c + r2p * r2p) - 48e0 * n * n)"
    " / nullif(24 * n - tt, 0)) AS BIGINT)"
)


def _fried_oracle() -> str:
    return f"""
WITH pu AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c
  FROM events GROUP BY user_id
),
r AS (
  SELECT {_fried_r2('a', 'b', 'c')} AS ra,
         {_fried_r2('b', 'a', 'c')} AS rb,
         {_fried_r2('c', 'a', 'b')} AS rc,
         {_FRIED_TIE} AS tie
  FROM pu
),
z AS (
  SELECT count(*)::BIGINT AS n, sum(ra)::BIGINT AS r2v,
         sum(rb)::BIGINT AS r2c, sum(rc)::BIGINT AS r2p,
         sum(tie)::BIGINT AS tt
  FROM r
),
q AS (SELECT n, r2v, r2c, r2p, tt, {_FRIED_Q_E6} AS q_e6 FROM z)
SELECT n AS n_users, r2v AS r2_view, r2c AS r2_click, r2p AS r2_purchase,
       tt AS tie_t,
       round(q_e6 / 1e6, 6) + 0.0 AS q_stat,
       round(exp(-(q_e6 / 1e6) / 2), 6) + 0.0 AS p_value
FROM q
"""


@query("friedman_test_event_mix", oracle=_fried_oracle())
def friedman_test_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Friedman test (Friedman 1937; Conover's tie
    correction) of whether users engage with the three funnel actions
    (view / click / purchase) at systematically different rates — the
    nonparametric repeated-measures ANOVA: each user is a BLOCK, the
    three per-user counts are ranked WITHIN the user, and the test asks
    whether the three column rank-sums differ more than chance. The
    within-block ranking removes per-user activity level entirely (a
    10x-more-active user contributes exactly the same ranks), which is
    why this beats three pairwise sign tests or a count ANOVA on this
    kind of heavy-tailed engagement data. Completes the matched-design
    family: ``cochran_q_three_raters`` is the binary-outcome special
    case; this is its ordinal/count generalization.

    Exactness: ranks are k=3 CASE arithmetic on exact counts (average
    ranks carried as integer DOUBLE-ranks; per-block identity
    sum_j r2_j = 12 pins the implementation in tests); rank sums and the
    tie term are exact int64 (ceiling documented at ``_FRIED_Q_E6``); Q
    quantizes to an e6 integer through ONE shared expression, and p is
    the closed-form df=2 tail exp(-Q/2) on the ROUNDED statistic. Scale
    shape: one map-side-combined pivot aggregate to the per-user frame
    (the corpus's only shuffle), pure per-row rank arithmetic, one 1-row
    reduce — no window, no join."""
    pu = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    r = pu.select(
        F.expr(_fried_r2("a", "b", "c")).alias("ra"),
        F.expr(_fried_r2("b", "a", "c")).alias("rb"),
        F.expr(_fried_r2("c", "a", "b")).alias("rc"),
        F.expr(_FRIED_TIE).alias("tie"),
    )
    z = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").cast("long").alias("r2v"),
        F.sum("rb").cast("long").alias("r2c"),
        F.sum("rc").cast("long").alias("r2p"),
        F.sum("tie").cast("long").alias("tt"),
    )
    q = z.withColumn("q_e6", F.expr(_FRIED_Q_E6))
    return q.select(
        F.col("n").alias("n_users"),
        F.col("r2v").alias("r2_view"),
        F.col("r2c").alias("r2_click"),
        F.col("r2p").alias("r2_purchase"),
        F.col("tt").alias("tie_t"),
        (F.round(F.col("q_e6") / 1e6, 6) + F.lit(0.0)).alias("q_stat"),
        (F.round(F.exp(-(F.col("q_e6") / 1e6) / 2), 6) + F.lit(0.0)).alias(
            "p_value"
        ),
    )


# --- Page-Hinkley drift monitor on daily mean event value --------------------

# PH sequential change detector (Page 1954; Hinkley 1971, increase
# variant): over the ordered day sequence of mean event values,
#   m_t = sum_{s<=t} (x_s - xbar_s - delta),  PH_t = m_t - min_{s<=t} m_s,
# alarm when PH_t > lambda. The running mean xbar_s (mean of the day
# means up to s) makes the detector self-calibrating — no training
# window. delta = 0.5 / lambda = 5.0 value units (~0.17 / ~1.7 sd of the
# synthetic daily means), the standard "margin small, threshold several
# sigma" setting.
_PH_DELTA_E9 = 500_000_000
_PH_LAMBDA_E9 = 5_000_000_000

# Day mean -> e9 integer through shared text BEFORE any cumulative sum
# (sv_e6 is an exact integer cents-style sum; the 1e3 product is exact in
# double far past this domain).
_PH_X_E9 = "CAST(round((1e3 * sv_e6) / n) AS BIGINT)"
# Running mean of the day means, rounded back to e9 through shared text.
_PH_XBAR_E9 = "CAST(round((1e0 * sx) / t) AS BIGINT)"


def _ph_oracle(where: str = "") -> str:
    return f"""
WITH d AS (
  SELECT datediff('day', TIMESTAMP '1970-01-01', ts) AS day,
         count(*)::BIGINT AS n,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sv_e6
  FROM events {where} GROUP BY 1
),
x AS (SELECT day, n, {_PH_X_E9} AS x_e9 FROM d),
c1 AS (
  SELECT day, x_e9,
         row_number() OVER (ORDER BY day) AS t,
         CAST(sum(x_e9) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sx
  FROM x
),
dev AS (
  SELECT day, x_e9 - {_PH_XBAR_E9} - {_PH_DELTA_E9} AS dv FROM c1
),
cum AS (
  SELECT day,
         CAST(sum(dv) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS m
  FROM dev
),
ph AS (
  SELECT day,
         m - CAST(min(m) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS p
  FROM cum
)
SELECT count(*)::BIGINT AS n_days,
       round(max(p) / 1e9, 6) + 0.0 AS ph_max,
       min(CASE WHEN p > {_PH_LAMBDA_E9} THEN day END) AS alarm_day,
       (max(p) > {_PH_LAMBDA_E9}) AS drift_detected
FROM ph
"""


def _ph_readout(d: DataFrame) -> DataFrame:
    """The PH scan over a (day, n, sv_e6) frame — shared verbatim by the
    batch query and the streaming twin (bounded-global-window pattern:
    |days| is calendar-bounded, independent of corpus row count)."""
    x = d.select("day", "n", F.expr(_PH_X_E9).alias("x_e9"))
    wd = Window.orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c1 = x.select(
        "day",
        "x_e9",
        F.row_number().over(wd).alias("t"),
        F.sum("x_e9").over(wcum).cast("long").alias("sx"),
    )
    dev = c1.select(
        "day",
        (F.col("x_e9") - F.expr(_PH_XBAR_E9) - F.lit(_PH_DELTA_E9)).alias("dv"),
    )
    cum = dev.select("day", F.sum("dv").over(wcum).cast("long").alias("m"))
    ph = cum.select(
        "day", (F.col("m") - F.min("m").over(wcum).cast("long")).alias("p")
    )
    return ph.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.round(F.max("p") / 1e9, 6) + F.lit(0.0)).alias("ph_max"),
        F.min(F.when(F.col("p") > _PH_LAMBDA_E9, F.col("day"))).alias(
            "alarm_day"
        ),
        (F.max("p") > _PH_LAMBDA_E9).alias("drift_detected"),
    )


@query("page_hinkley_drift", oracle=_ph_oracle())
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector on the daily mean event
    value — the third change-detection lens next to
    ``cusum_changepoint_hourly`` (retrospective single-shift localizer)
    and ``stream_cusum_hourly_monitor`` (known-target online monitor):
    PH tracks the cumulative deviation of each day's mean from the
    RUNNING mean of all days so far (minus a small margin delta) and
    alarms when that sum climbs lambda above its own running minimum —
    self-calibrating (no reference period to choose) and the standard
    concept-drift trigger in streaming-ML monitoring (Gama et al. 2014
    survey usage). Reports the max PH excursion, the first alarm day
    (epoch-day integer, NULL when the sequence never alarms), and the
    boolean verdict. Because lambda is in VALUE units (standard PH — no
    variance normalization), the stationary synthetic corpus alarms at
    small scale factors (day-mean sampling noise ~ 1/sqrt(events/day)
    exceeds lambda) and goes quiet at sf0.1+ — both alarm branches are
    exercised across the test scales.

    Exactness: per-day sums are exact e6 integers; each day mean and
    each running mean quantizes to an e9 integer through ONE shared
    expression BEFORE entering any cumulative sum, so the PH path is
    pure int64 end-to-end and the readout is one 6dp division. Scale
    shape: one map-side-combined aggregate to the calendar-bounded
    |days| frame; the three cumulative windows ride that bounded frame
    (the documented bounded-global-window pattern — |days| is
    time-horizon-bounded, independent of corpus row count); then a
    1-row reduce."""
    d = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("datediff(cast(ts as date), date '1970-01-01')").alias(
                "day"
            ),
            F.round(F.col("value") * 1000000).cast("long").alias("v_e6"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_e6").cast("long").alias("sv_e6"),
        )
    )
    return _ph_readout(d)


@query(
    "stream_page_hinkley_monitor",
    oracle=_ph_oracle("WHERE event_id % 2 = 1"),
)
def stream_page_hinkley_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift monitor computed ON THE INGEST PATH — the
    streaming twin of ``page_hinkley_drift`` (the
    ``stream_cusum_hourly_monitor`` pattern): the odd-event_id half of
    the event stream replays as 2 micro-batches; each batch appends its
    per-DAY partials (event count + exact e6 value sum) to a managed
    table; the readout merges the partials by plain per-day summation
    and runs the IDENTICAL e9-quantized PH scan as the batch query.
    Proof obligation: (n, sv_e6) per day are mergeable integer sums, so
    streaming-then-merge is bit-identical to the batch scan over the
    same half — certified end to end by the oracle (the batch PH SQL
    restricted to the replayed half). This is the live-monitoring shape:
    partial day aggregates land continuously, and the detector re-scans
    the bounded |days| frame on demand.

    Scale shape: per micro-batch one map-side-combined hash aggregate to
    its |days| rows (raw events never shuffle beyond the aggregate); the
    managed table holds batches x days rows; the merge is one bounded
    groupBy and the scan is the documented bounded-global-window
    pattern."""
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    held = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            F.expr("datediff(cast(ts as date), date '1970-01-01')").alias(
                "day"
            ),
            F.round(F.col("value") * 1000000).cast("long").alias("v_e6"),
        )
    )

    def _daily_batch(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_e6").cast("long").alias("sv_e6"),
        )

    partials = replay_split_stream(
        spark,
        held,
        "event_id long, day int, v_e6 long",
        _daily_batch,
        "ph_daily_partials",
        split_col="event_id",
    )
    merged = partials.groupBy("day").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sv_e6").cast("long").alias("sv_e6"),
    )
    return _ph_readout(merged)
