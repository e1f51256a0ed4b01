"""Hypothesis-test queries: rank, scale, distribution, trend and
contingency tests over the documents and events tables.

Rank and location tests (Mann-Whitney, Kruskal-Wallis with Dunn
post-hoc, Brunner-Munzel, Mood's median, Hodges-Lehmann, Wilcoxon
signed-rank and sign tests, permutation), scale tests (Brown-Forsythe,
Fligner-Killeen, Bartlett, Ansari-Bradley), two-sample distribution
tests (Wasserstein, MMD, Cramer-von Mises, energy distance, Kuiper,
Jensen-Shannon, Jarque-Bera), trend and serial tests (Kendall, Theil-Sen,
Mann-Kendall, Jonckheere-Terpstra, Page, Cochran-Armitage, runs,
Ljung-Box) and contingency tests (mutual information, Cramer's V,
Goodman-Kruskal lambda, Cochran's Q, Friedman, Breslow-Day, Bowker).

This module also owns the exact-arithmetic helpers the other test
families share: floor-consistent integer division and modulo on both
engines (``_fdiv_spark`` / ``_fdiv_duck`` / ``_pmod_duck``), the shared
probit and normal-tail texts (``_probit``, ``_phi``, ``_p_upper``) and
the exact decimal sum (``_dec_sum_bigint``).

Every query follows the cross-engine exactness discipline: integer (or
quantized-integer) arithmetic for every corpus-sized sum, doubles only as
single deterministic expressions over identical exact operands, rounded
at 6dp, with the normal-tail polynomial (``analytics_queries._AS_ERFC_POLY``)
evaluated on the ROUNDED statistic so both engines see identical inputs.
Each query is checked against its DuckDB oracle by the full-registry sweep
(tools/verify_drive.py) and pinned against independent Python references
in the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators.global_order import (
    with_global_prefix_max,
    with_global_rank,
)
from flink_realtime_sessionize_sample_spark.operators.mat import materialize
from flink_realtime_sessionize_sample_spark.operators.sessionize import sessionize
from flink_realtime_sessionize_sample_spark.plans.analytics_queries import (
    _AS_ERFC_POLY,
    _CHISQ_SUM_E9,
    _CHISQ_Z,
    _source_lang_margins,
    with_erfc_args,
)
from flink_realtime_sessionize_sample_spark.plans.llm_queries import _TOKS_D, _TOKS_S
from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
    _HEUR_LANG_D,
    _HEUR_LANG_S,
    _NB_PRED_CTES,
    _heldout_marker_ctes,
    _heldout_marker_scores,
    _nb_prediction_frame,
)
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.plans.sessionize_queries import (
    _SESSIONIZE_CTE,
)
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

# The A/B arm of an experiment unit keyed by user: a portable 48-bit hash
# of user_id, mod 2, so all of a user's rows share an arm.
_USER_ARM_DUCK = f"{T.h48_duck('user_id::VARCHAR')} % 2"
_USER_ARM_SPARK = f"pmod({T.h48_spark('cast(user_id as string)')}, 2)"
# The same split keyed by document.
_DOC_ARM_DUCK = f"{T.h48_duck('doc_id::VARCHAR')} % 2"
_DOC_ARM_SPARK = f"pmod({T.h48_spark('cast(doc_id as string)')}, 2)"


# --- Mann-Whitney U (tie-corrected) ---------------------------------------

# z over the exact integer columns (u2num, n1, n2, aa, n) — the SAME text
# evaluates in Spark and DuckDB so the 6dp-rounded statistic is
# cross-engine identical. u2num = 2*U1 - n1*n2 (doubled, mean-centered U),
# aa = (n+1)*n*(n-1) - sum(t^3 - t) (the tie-corrected variance core):
# z = (2U - n1*n2) / (2*sigma), 4*sigma^2 = n1*n2*aa / (3*n*(n-1)).
_MW_Z = (
    "round(cast(u2num as double) / sqrt("
    "cast(n1 as double) * cast(n2 as double) * cast(aa as double)"
    " / (3.0 * cast(n as double) * cast(n - 1 as double))), 6) + 0.0"
)
_MW_Z_GUARDED = (
    f"case when n1 = 0 or n2 = 0 or aa <= 0 then 0.0 else {_MW_Z} end"
)


def _mw_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
         CAST(length({_TOKS_D}) AS BIGINT) AS y
  FROM documents
),
gv AS (
  SELECT y, count(*)::BIGINT AS cnt, sum(g)::BIGINT AS cnt1
  FROM d GROUP BY y
),
mr AS (
  SELECT y, cnt, cnt1,
         CAST(2 * (sum(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS BIGINT) AS a
  FROM gv
),
s AS (
  SELECT sum(cnt)::BIGINT AS n, sum(cnt1)::BIGINT AS n1,
         CAST(sum(cnt1 * a) AS BIGINT) AS r21,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS st
  FROM mr
),
x AS (
  SELECT n, n1, n - n1 AS n2,
         CAST(r21 - n1 * (n1 + 1) - n1 * (n - n1) AS BIGINT) AS u2num,
         CAST((n + 1) * n * (n - 1) - st AS BIGINT) AS aa, st
  FROM s
),
zz AS (SELECT *, {_MW_Z_GUARDED} AS z_stat FROM x),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n1 AS n_en, n2 AS n_other, u2num AS u2c_stat, st AS tie_term, z_stat,
       round({poly}, 6) + 0.0 AS p_value,
       (round({poly}, 6) + 0.0) <= 0.05 AS significant_at_95
FROM xt
"""


@query("mann_whitney_en_tokens", oracle=_mw_oracle())
def mann_whitney_en_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test with EXACT tie correction:
    do English documents draw from the same token-count distribution as
    the rest of the corpus? The nonparametric two-sample location test a
    pipeline runs when the metric is skewed or ordinal (where Welch's t
    is miscalibrated) — completing the rank-statistics family next to
    ``roc_auc_token_count`` (AUC IS U/(n1*n2)) and
    ``spearman_chars_tokens``.

    Exactness: the whole statistic reduces to per-distinct-value counts.
    Doubled midranks (2*cum_before + cnt + 1) keep the rank sum integral;
    u2c_stat = 2*U1 - n1*n2 is an exact int64; the tie term sum(t^3 - t)
    and variance core (n+1)*n*(n-1) - st are exact int64; z is ONE shared
    6dp-rounded expression of those integers and p evaluates the shared
    Abramowitz-Stegun erfc polynomial on the rounded z. Degenerate inputs
    (one empty group, or all values tied) guard to z = 0.

    Scale shape: the corpus collapses to its |distinct token counts|
    frame (bounded by max document length) in one map-side-combined
    groupBy; the cumulative count rides the deterministic-banded
    ``with_global_rank`` pass (no range exchange, no single-partition
    sort); the five moments are one scalar aggregate. int64 ceiling: the
    doubled rank-sum r21 <= 2n^2 and st <= n^3 cap exact arithmetic at
    ~2e6 docs — LOUD on overflow (ANSI Spark throws, DuckDB checks
    BIGINT); past that, carry r21/st in decimal(38,0) over the same
    bounded distinct-value frame."""
    poly = _AS_ERFC_POLY
    d = load_table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("long").alias("g"),
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("y"),
    )
    gv = d.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("g").cast("long").alias("cnt1"),
    )
    mr = with_global_rank(gv, ["y"], rank_col="_rk", sum_col="cnt", cum_col="_cum")
    mr = mr.select(
        "cnt",
        "cnt1",
        (2 * (F.col("_cum") - F.col("cnt")) + F.col("cnt") + 1)
        .cast("long")
        .alias("a"),
    )
    s = mr.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum(F.col("cnt1") * F.col("a")).cast("long").alias("r21"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("st"),
    )
    x = s.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        (
            F.col("r21")
            - F.col("n1") * (F.col("n1") + 1)
            - F.col("n1") * (F.col("n") - F.col("n1"))
        )
        .cast("long")
        .alias("u2num"),
        ((F.col("n") + 1) * F.col("n") * (F.col("n") - 1) - F.col("st"))
        .cast("long")
        .alias("aa"),
        "st",
    )
    zz = x.withColumn("z_stat", F.expr(_MW_Z_GUARDED))
    xt = with_erfc_args(zz)
    pv = F.round(F.expr(poly), 6) + F.lit(0.0)
    return xt.select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_other"),
        F.col("u2num").alias("u2c_stat"),
        F.col("st").alias("tie_term"),
        "z_stat",
        pv.alias("p_value"),
        (pv <= 0.05).alias("significant_at_95"),
    )


# --- deterministic permutation test ---------------------------------------

_PERM_K = 64


def _perm_oracle() -> str:
    parm = T.h48_duck("doc_id::VARCHAR || '#' || k::VARCHAR")
    return f"""
WITH d AS (SELECT doc_id, n_chars AS y FROM documents),
obs AS (
  SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
         CAST(sum({_DOC_ARM_DUCK}) AS BIGINT) AS n1,
         CAST(sum(({_DOC_ARM_DUCK}) * y) AS BIGINT) AS s1
  FROM d
),
ob AS (
  SELECT n, s, n1,
         CAST(n * s1 - n1 * s AS BIGINT) AS num_obs,
         CAST(n1 * (n - n1) AS BIGINT) AS den_obs
  FROM obs
),
pg AS (
  SELECT r.k,
         CAST(sum({parm} % 2) AS BIGINT) AS n1k,
         CAST(sum(({parm} % 2) * y) AS BIGINT) AS s1k
  FROM d, range(1, {_PERM_K + 1}) r(k)
  GROUP BY r.k
),
px AS (
  SELECT p.k,
         CAST(o.n * p.s1k - p.n1k * o.s AS BIGINT) AS numk,
         CAST(p.n1k * (o.n - p.n1k) AS BIGINT) AS denk,
         o.num_obs, o.den_obs
  FROM pg p CROSS JOIN ob o
),
cnt AS (
  SELECT count(*)::BIGINT AS k_perms,
         CAST(sum(CASE WHEN abs(numk) * den_obs >= abs(num_obs) * denk
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM px
)
SELECT o.n, o.n1, o.num_obs, o.den_obs, c.k_perms, c.n_extreme,
       round(CAST(1 + c.n_extreme AS DOUBLE)
             / CAST(c.k_perms + 1 AS DOUBLE), 6) + 0.0 AS p_value
FROM ob o CROSS JOIN cnt c
"""


@query("permutation_test_chars", oracle=_perm_oracle())
def permutation_test_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-sample permutation test — the assumption-free
    twin of ``welch_t_chars_ab`` on the same split and metric: is the
    observed A/B mean gap in document length larger than what re-labeled
    splits produce? Each of the 64 permutations re-assigns every document by
    the portable 48-bit md5 of (doc_id, k) — a pure row function, so
    every task retry, AQE re-plan, and both engines draw the IDENTICAL
    "random" relabelings (no rand(), per the determinism rule the r6
    range-partitioner bug taught).

    Exactness: mean gaps are compared as exact cross-multiplied integer
    rationals — |num_k| * den_obs >= |num_obs| * den_k with num = n*S1 -
    n1*S and den = n1*(n-n1) — so the extreme-count and the (1+x)/(K+1)
    p-value are exact; no float enters until the final 6dp division. The
    degenerate all-one-side relabeling (den_k = 0 forces num_k = 0)
    correctly counts as extreme through the same inequality. int64
    ceiling: |num|*den ~ n^3 * metric^2 caps exact products at ~1e4 docs
    of ~2e3 chars — LOUD on overflow (ANSI/BIGINT checks); past that,
    promote the two products to decimal(38,0) (exact to ~1e12 docs).

    Scale shape: one corpus scan fans out x64 via explode but
    PARTIAL-AGGREGATES map-side to 64 groups, so the exchange carries 64
    rows per input partition, not 64x the corpus; the observed row is a 1-row broadcast."""
    h_obs = f"pmod({T.h48_spark('cast(doc_id as string)')}, 2)"
    h_perm = (
        "pmod("
        + T.h48_spark("concat(cast(doc_id as string), '#', cast(k as string))")
        + ", 2)"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("y")
    )
    obs = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.expr(h_obs)).cast("long").alias("n1"),
        F.sum(F.expr(h_obs) * F.col("y")).cast("long").alias("s1"),
    )
    ob = obs.select(
        "n",
        "s",
        "n1",
        (F.col("n") * F.col("s1") - F.col("n1") * F.col("s"))
        .cast("long")
        .alias("num_obs"),
        (F.col("n1") * (F.col("n") - F.col("n1"))).cast("long").alias("den_obs"),
    )
    pg = (
        d.select("doc_id", "y", F.explode(F.expr(f"sequence(1, {_PERM_K})")).alias("k"))
        .groupBy("k")
        .agg(
            F.sum(F.expr(h_perm)).cast("long").alias("n1k"),
            F.sum(F.expr(h_perm) * F.col("y")).cast("long").alias("s1k"),
        )
    )
    px = pg.crossJoin(F.broadcast(ob)).select(
        (F.col("n") * F.col("s1k") - F.col("n1k") * F.col("s"))
        .cast("long")
        .alias("numk"),
        (F.col("n1k") * (F.col("n") - F.col("n1k"))).cast("long").alias("denk"),
        "num_obs",
        "den_obs",
    )
    cnt = px.agg(
        F.count(F.lit(1)).cast("long").alias("k_perms"),
        F.sum(
            F.when(
                F.abs(F.col("numk")) * F.col("den_obs")
                >= F.abs(F.col("num_obs")) * F.col("denk"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
    )
    return ob.crossJoin(F.broadcast(cnt)).select(
        "n",
        "n1",
        "num_obs",
        "den_obs",
        "k_perms",
        "n_extreme",
        (
            F.round(
                (1 + F.col("n_extreme")).cast("double")
                / (F.col("k_perms") + 1).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("p_value"),
    )


# --- linear-kernel MMD drift over embeddings -------------------------------

_EMB_DIM = 64


@query(
    "mmd_linear_label_drift",
    oracle=f"""
WITH e AS (
  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS g, embedding FROM embeddings
),
cnt AS (SELECT sum(g)::BIGINT AS n1, sum(1 - g)::BIGINT AS n0 FROM e),
exq AS (
  SELECT g, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM e, range(1, {_EMB_DIM + 1}) r(i)
),
dims AS (
  SELECT pos, CAST(sum(g * xq) AS BIGINT) AS s1,
         CAST(sum((1 - g) * xq) AS BIGINT) AS s0
  FROM exq GROUP BY pos
),
m AS (
  SELECT pos,
         CAST(round(CAST(c.n0 * d.s1 - c.n1 * d.s0 AS DOUBLE)
                    / CAST(c.n0 * c.n1 AS DOUBLE)) AS BIGINT) AS gap
  FROM dims d CROSS JOIN cnt c
)
SELECT c.n0 AS n_ref, c.n1 AS n_cur,
       (SELECT CAST(sum(gap * gap) AS BIGINT) FROM m) AS mmd2_e12,
       round(CAST((SELECT sum(gap * gap) FROM m) AS DOUBLE) / 1e12, 6) + 0.0
         AS mmd2_linear,
       (SELECT pos FROM m ORDER BY abs(gap) DESC, pos ASC LIMIT 1) AS top_dim,
       (SELECT gap FROM m ORDER BY abs(gap) DESC, pos ASC LIMIT 1)
         AS top_gap_e6
FROM cnt c
""",
)
def mmd_linear_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between two embedding
    cohorts (labels 0-4 as the reference corpus vs 5-9 as the incoming
    one): MMD^2_linear = ||mean(X) - mean(Y)||^2, the standard cheap
    two-sample drift test in REPRESENTATION space — it catches
    distribution shift that the per-feature drift family (``ks_drift``,
    ``psi_value_drift``, ``chisq_source_language``) cannot see because no
    single coordinate moves. Also reports the dimension carrying the
    largest mean gap, the first thing an embedding-drift triage looks at.

    Exactness: coordinates quantize to e6 integers per row (the
    PCA/KMeans discipline), so per-dimension group sums are exact int64;
    each dimension's mean gap RE-quantizes to an e6 integer through
    round((n0*s1 - n1*s0)/(n0*n1)) — a deterministic IEEE ratio of exact
    integers — and the squared-gap sum is then exact integer arithmetic,
    ORDER-INDEPENDENT by construction (the float-summation-order trap
    cannot exist). int64 ceiling: n0*s1 ~ n^2 * 1e6 caps at ~3e6 vectors
    per cohort — LOUD on overflow; past that, compute each cohort's
    per-dim mean first (one extra rounding, documented) or carry the
    cross products in decimal(38,0).

    Scale shape: one pass explodes n x 64 quantized coordinates but
    PARTIAL-AGGREGATES map-side to 64 (pos) groups; the cohort counts are
    a 1-row broadcast; the final reduce is over 64 rows. State is O(d),
    never O(n)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        (F.col("label") < 5).cast("long").alias("g"), "embedding"
    )
    cnt = e.agg(
        F.sum("g").cast("long").alias("n1"),
        F.sum(1 - F.col("g")).cast("long").alias("n0"),
    )
    exq = e.select(
        "g",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
            )
        ).alias("pos0", "xq"),
    ).select("g", (F.col("pos0") + 1).alias("pos"), "xq")
    dims = exq.groupBy("pos").agg(
        F.sum(F.col("g") * F.col("xq")).cast("long").alias("s1"),
        F.sum((1 - F.col("g")) * F.col("xq")).cast("long").alias("s0"),
    )
    m = dims.crossJoin(F.broadcast(cnt)).select(
        "pos",
        "n0",
        "n1",
        F.expr(
            "cast(round(cast(n0 * s1 - n1 * s0 as double)"
            " / cast(n0 * n1 as double)) as bigint)"
        ).alias("gap"),
    )
    agg = m.agg(
        F.first("n0").alias("n_ref"),
        F.first("n1").alias("n_cur"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("mmd2_e12"),
        # Lexicographic struct max: largest |gap|, then largest -pos
        # (= smallest dimension index) — a deterministic tie-break.
        F.max(
            F.struct(
                F.abs("gap").alias("a"),
                (-F.col("pos")).alias("np"),
                F.col("gap").alias("g"),
            )
        ).alias("_top"),
    )
    return agg.select(
        "n_ref",
        "n_cur",
        "mmd2_e12",
        (F.round(F.col("mmd2_e12").cast("double") / F.lit(1e12), 6) + F.lit(0.0)).alias(
            "mmd2_linear"
        ),
        (-F.col("_top.np")).cast("long").alias("top_dim"),
        F.col("_top.g").alias("top_gap_e6"),
    )


# --- CUSUM change-point over the hourly event rate --------------------------

_HOUR_US = 3600 * 1000000


# --- Wasserstein-1 distance between the A/B split's length CDFs -------------


def _wass_oracle() -> str:
    return f"""
WITH d AS (
  SELECT n_chars, {_DOC_ARM_DUCK} AS arm FROM documents
),
g AS (
  SELECT n_chars, sum(1 - arm)::BIGINT AS ca, sum(arm)::BIGINT AS cb
  FROM d GROUP BY n_chars
),
t AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM g),
r AS (
  SELECT n_chars, ca, cb,
         sum(ca) OVER (ORDER BY n_chars)::BIGINT AS cum_a,
         sum(cb) OVER (ORDER BY n_chars)::BIGINT AS cum_b,
         lag(n_chars) OVER (ORDER BY n_chars) AS v_prev,
         count(*) OVER ()::BIGINT AS n_vals
  FROM g
),
terms AS (
  SELECT r.*, t.na, t.nb,
         CAST(round(abs((cum_a - ca) * nb - (cum_b - cb) * na) * 1000000.0
              / (na * nb)) AS BIGINT) * (n_chars - v_prev) AS w_term,
         CAST(round(abs(cum_a * nb - cum_b * na) * 1000000.0
              / (na * nb)) AS BIGINT) AS d_e6
  FROM r CROSS JOIN t
)
SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
       max(n_vals)::BIGINT AS n_values,
       round(coalesce(sum(w_term), 0) / 1000000.0, 6) + 0.0 AS w1_chars,
       round(max(d_e6) / 1000000.0, 6) + 0.0 AS ks_d
FROM terms
"""


@query("wasserstein_split_drift", oracle=_wass_oracle())
def wasserstein_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the two hash-split
    arms' document-length distributions, with the KS sup-distance beside
    it — the drift readout that reports *how far apart* the CDFs are in
    char units (W1 = integral of |F_A - F_B|), not just the largest gap
    (KS) or a binned divergence (PSI). On an A/A split both should sit
    near 0; a W1 of hundreds of chars on a re-crawl says the new snapshot
    moved the whole length distribution, even when no single point gap
    trips the KS alarm.

    Exactness: per distinct length v the CDF gap is the exact integer
    cross product |cumA*nB - cumB*nA|; each gap quantizes to an e6
    integer height BEFORE the width multiply and the sum (the
    quantize-before-any-float-sum rule — both engines compute the
    identical per-row double round), widths are exact integer diffs
    against the previous distinct value, and the two readouts are final
    6dp divisions. The strictly-previous value comes from
    ``with_global_prefix_max`` over the value order (values are distinct
    after the groupBy, so the prefix max IS the predecessor).

    Scale shape: the corpus collapses to the distinct-length frame in one
    hash aggregate; both cumulative counts ride ONE deterministic-banded
    rank pass (``extra_cums`` — the two-sample CDF shape), the
    predecessor rides the banded prefix-max pass, and the (nA, nB)
    totals are a 1-row broadcast. No single-partition sort anywhere;
    int64 is exhausted only past ~3e9 docs per arm (the |gap|*1e6 cross
    product), where ANSI Spark and DuckDB both fail LOUD.
    """
    arm = F.expr(_DOC_ARM_SPARK)
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", arm.alias("arm")
    )
    g = d.groupBy("n_chars").agg(
        F.sum(F.lit(1) - F.col("arm")).cast("long").alias("ca"),
        F.sum("arm").cast("long").alias("cb"),
    )
    # The grouped frame feeds three consumers (totals + two banded
    # passes): materialize the distinct-length frame once.
    g = materialize(g)
    tot = g.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    ranked = with_global_rank(
        g,
        [F.col("n_chars").asc()],
        rank_col="_r",
        total_col="n_vals",
        sum_col="ca",
        cum_col="cum_a",
        extra_cums=[("cb", "cum_b")],
    )
    prev = with_global_prefix_max(
        ranked, [F.col("n_chars").asc()], "n_chars", out_col="v_prev"
    )
    j = prev.crossJoin(F.broadcast(tot))
    h_excl = F.expr(
        "cast(round(abs((cum_a - ca) * nb - (cum_b - cb) * na) * 1000000.0"
        " / (na * nb)) as bigint)"
    )
    d_e6 = F.expr(
        "cast(round(abs(cum_a * nb - cum_b * na) * 1000000.0 / (na * nb))"
        " as bigint)"
    )
    terms = j.select(
        "na",
        "nb",
        "n_vals",
        (h_excl * (F.col("n_chars") - F.col("v_prev"))).alias("w_term"),
        d_e6.alias("d_e6"),
    )
    return terms.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max("n_vals").cast("long").alias("n_values"),
        # coalesce: a single distinct value leaves every width term NULL
        # (no predecessor anywhere) — W1 is 0 there, not NULL.
        (
            F.round(F.coalesce(F.sum("w_term"), F.lit(0)) / F.lit(1000000.0), 6)
            + F.lit(0.0)
        ).alias("w1_chars"),
        (F.round(F.max("d_e6") / F.lit(1000000.0), 6) + F.lit(0.0)).alias("ks_d"),
    )


# --- Kendall tau-b over the (length, token-count) bucket grid ----------------

_KT_XW = 64  # n_chars bucket width
_KT_YW = 16  # word-count bucket width


def _kendall_oracle() -> str:
    return f"""
WITH b AS (
  SELECT n_chars // {_KT_XW} AS bx,
         length({_TOKS_D}) // {_KT_YW} AS by
  FROM documents
),
cells AS (SELECT bx, by, count(*)::BIGINT AS c FROM b GROUP BY bx, by),
pq AS (
  SELECT coalesce(sum(CASE WHEN p.by > a.by THEN a.c * p.c ELSE 0 END),
                  0)::BIGINT AS conc,
         coalesce(sum(CASE WHEN p.by < a.by THEN a.c * p.c ELSE 0 END),
                  0)::BIGINT AS disc
  FROM cells a JOIN cells p ON p.bx > a.bx
),
mx AS (SELECT sum(m * (m - 1) // 2)::BIGINT AS tx
       FROM (SELECT sum(c)::BIGINT AS m FROM cells GROUP BY bx)),
my AS (SELECT sum(m * (m - 1) // 2)::BIGINT AS ty
       FROM (SELECT sum(c)::BIGINT AS m FROM cells GROUP BY by)),
n AS (SELECT sum(c)::BIGINT AS n_docs, count(*)::BIGINT AS n_cells FROM cells)
SELECT n.n_docs, n.n_cells, pq.conc AS concordant, pq.disc AS discordant,
       mx.tx AS ties_x_pairs, my.ty AS ties_y_pairs,
       CASE WHEN n.n_docs * (n.n_docs - 1) // 2 - mx.tx <= 0
              OR n.n_docs * (n.n_docs - 1) // 2 - my.ty <= 0 THEN NULL
            ELSE round((pq.conc - pq.disc)
             / (sqrt(n.n_docs * (n.n_docs - 1) // 2 - mx.tx)
                * sqrt(n.n_docs * (n.n_docs - 1) // 2 - my.ty)), 6) + 0.0 END
         AS tau_b,
       CASE WHEN pq.conc + pq.disc = 0 THEN NULL
            ELSE round(CAST(pq.conc - pq.disc AS DOUBLE)
                       / (pq.conc + pq.disc), 6) + 0.0 END AS gamma
FROM n CROSS JOIN pq CROSS JOIN mx CROSS JOIN my
"""


@query("kendall_tau_chars_words", oracle=_kendall_oracle())
def kendall_tau_chars_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between document length and word
    count, computed EXACTLY from the bucket-grid contingency table —
    the third member of the correlation family (Pearson-style moments:
    ``welch``/``ab_test_cuped``; Spearman: ``spearman_chars_tokens``;
    Kendall: this). Tau-b is the probability-scale readout (P(concordant)
    - P(discordant), tie-corrected) that survives monotone transforms
    and heavy tails — the robust check that a quality signal actually
    ORDERS documents the way its proxy does.

    Formulation: bucketing both axes (widths {_KT_XW}/{_KT_YW}) makes
    the pair counts a function of the bounded contingency grid:
    concordant pairs = sum over cell pairs (a, p) with p.bx > a.bx and
    p.by > a.by of c_a*c_p — an O(cells^2) computation on a frame whose
    size is the GRID, not the corpus (the exact-from-contingency trick
    chi-square/Cramer's V already use). Ties within a bucket are counted
    by the margin totals (tau-b's n1/n2 correction), so the statistic is
    the exact tau-b of the bucketed variables.

    Exactness: every pair count is exact int64 (ceiling n ~ 4e9 docs,
    where n(n-1)/2 exhausts int64 LOUDLY in both engines); tau-b is one
    final double expression over exact integers, 6dp-rounded. Scale: one
    corpus scan to the grid; the grid self-join is a broadcast
    nested-loop against a bounded aggregate (the documented allowed
    shape), and margins are two tiny re-aggregations of the grid."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.expr(f"n_chars div {_KT_XW}").alias("bx"),
        F.expr(f"size({_TOKS_S}) div {_KT_YW}").alias("by"),
    )
    cells = b.groupBy("bx", "by").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cells = materialize(cells)  # grid feeds 4 consumers
    a, p = cells.alias("a"), cells.alias("p")
    pq = (
        a.join(F.broadcast(p), F.col("p.bx") > F.col("a.bx"))
        .agg(
            # coalesce: a grid with no strictly-greater-bx cell pair leaves
            # the aggregate input EMPTY (sum -> NULL); zero pairs means
            # zero concordant/discordant, not NULL.
            F.coalesce(
                F.sum(
                    F.when(F.col("p.by") > F.col("a.by"), F.col("a.c") * F.col("p.c"))
                    .otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("conc"),
            F.coalesce(
                F.sum(
                    F.when(F.col("p.by") < F.col("a.by"), F.col("a.c") * F.col("p.c"))
                    .otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("disc"),
        )
    )
    mx = (
        cells.groupBy("bx")
        .agg(F.sum("c").cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("tx"))
    )
    my = (
        cells.groupBy("by")
        .agg(F.sum("c").cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("ty"))
    )
    n = cells.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    j = (
        n.crossJoin(F.broadcast(pq))
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
    )
    return j.select(
        "n_docs",
        "n_cells",
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("tx").alias("ties_x_pairs"),
        F.col("ty").alias("ties_y_pairs"),
        # Degenerate-margin guard: with every row tied on an axis the
        # tie-corrected denominator is 0 and ANSI double division throws;
        # tau-b is undefined there, so report NULL (mirrored in the oracle).
        F.when(
            (F.expr("n_docs * (n_docs - 1) div 2 - tx") <= 0)
            | (F.expr("n_docs * (n_docs - 1) div 2 - ty") <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (F.col("conc") - F.col("disc"))
                / (
                    F.sqrt(F.expr("n_docs * (n_docs - 1) div 2 - tx"))
                    * F.sqrt(F.expr("n_docs * (n_docs - 1) div 2 - ty"))
                ),
                6,
            )
            + F.lit(0.0)
        )
        .alias("tau_b"),
        F.when(F.col("conc") + F.col("disc") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("conc") - F.col("disc")).cast("double")
                / (F.col("conc") + F.col("disc")),
                6,
            )
            + F.lit(0.0)
        )
        .alias("gamma"),
    )


# --- Theil-Sen robust trend of the daily event rate --------------------------

_DAY_US = 86_400_000_000


def _ts_oracle() -> str:
    return f"""
WITH d AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
p AS (
  SELECT a.d AS da, b.d AS db,
         CAST(round((b.c - a.c) * 1000000.0 / (b.d - a.d)) AS BIGINT)
           AS slope_e6
  FROM d a JOIN d b ON b.d > a.d
),
r AS (
  SELECT slope_e6,
         row_number() OVER (ORDER BY slope_e6, da, db) AS r,
         count(*) OVER ()::BIGINT AS t
  FROM p
),
med AS (
  SELECT avg(slope_e6) AS med_e6, max(t)::BIGINT AS n_pairs
  FROM r WHERE r = (t + 1) // 2 OR r = t // 2 + 1
),
o AS (
  SELECT count(*)::BIGINT AS n_days, sum(d)::BIGINT AS sd,
         sum(c)::BIGINT AS sc, CAST(sum(d * c) AS BIGINT) AS sdc,
         CAST(sum(d * d) AS BIGINT) AS sdd
  FROM d
)
SELECT o.n_days, med.n_pairs,
       round(med.med_e6 / 1000000.0, 6) + 0.0 AS theil_sen_slope,
       round(CAST(o.n_days * o.sdc - o.sd * o.sc AS DOUBLE)
             / (o.n_days * o.sdd - o.sd * o.sd), 6) + 0.0 AS ols_slope
FROM o CROSS JOIN med
"""


@query("theil_sen_daily_trend", oracle=_ts_oracle())
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily event volume — the median of
    all pairwise day-to-day slopes — reported beside the OLS slope. The
    gap between the two is the outlier alarm an ingest dashboard wants:
    one crawler burst day drags OLS but moves the pairwise-slope median
    almost nowhere, so "is volume really trending up" gets a robust
    answer (complements ``cusum_changepoint_hourly``, which localizes a
    LEVEL shift; this estimates the sustained RATE of change).

    Exactness: each pairwise slope quantizes to an e6 integer
    (quantize-before-selection — both engines round the identical
    double), the median picks the middle element(s) of the total order
    (slope_e6, day_a, day_b) via the deterministic-banded global-rank
    operator (no single-partition sort of the O(days^2) pair frame), and
    the OLS slope is one 6dp expression over exact int64 moment sums
    (epoch-day indices — no calendar semantics). Scale: the corpus
    collapses to the |days| frame in one aggregate; the pair frame is
    O(days^2) — a function of the time horizon, not the corpus — built
    by a broadcast self-join; the rank pass is banded."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d = materialize(d)  # day frame feeds the pair join twice + OLS
    a = d.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = d.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    # nullif guard: the banding gate filter downstream references slope_e6
    # and Catalyst pushes it INTO the join condition, where conjunct order
    # is unspecified — under ANSI the raw division throws DIVIDE_BY_ZERO on
    # the da == db pairs the `db > da` conjunct would have rejected. The
    # total expression yields NULL there and the join condition still drops
    # the row, so results are unchanged.
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
    med = r.filter(
        (F.col("r") == F.expr("(t + 1) div 2")) | (F.col("r") == F.expr("t div 2 + 1"))
    ).agg(
        F.avg("slope_e6").alias("med_e6"),
        F.max("t").cast("long").alias("n_pairs"),
    )
    o = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("d") * F.col("c")).cast("long").alias("sdc"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
    )
    j = o.crossJoin(F.broadcast(med))
    return j.select(
        "n_days",
        "n_pairs",
        (F.round(F.col("med_e6") / F.lit(1000000.0), 6) + F.lit(0.0)).alias(
            "theil_sen_slope"
        ),
        (
            F.round(
                (F.col("n_days") * F.col("sdc") - F.col("sd") * F.col("sc")).cast(
                    "double"
                )
                / (F.col("n_days") * F.col("sdd") - F.col("sd") * F.col("sd")),
                6,
            )
            + F.lit(0.0)
        ).alias("ols_slope"),
    )


# --- Poisson overdispersion test of the hourly arrival process ----------------

# Dispersion statistic D = (n*S2 - S1^2)/S1 = (n-1)*s^2/mean — chi-square
# with n-1 df under a Poisson arrival process. Written once, pasted into
# both dialects (identical operand sequence), 6dp-rounded before reuse.
_DISP_D = "round((n * s2 - s1 * s1) / cast(s1 as double), 6) + 0.0"
_DISP_VMR = "round((n * s2 - s1 * s1) / (cast(s1 as double) * kk), 6) + 0.0"
# Wilson-Hilferty cube-root normalization of chi-square: z ~ N(0,1).
# Literals are e-notation (1e0/3e0) on purpose: Spark parses `1.0/3.0` as
# DECIMAL/DECIMAL — a truncated 0.333333 exponent — while DuckDB divides
# doubles; e-notation is a double literal in BOTH dialects, keeping the
# operand sequence identical (caught live: z diverged 9e-6 at sf0.001).
_DISP_Z = (
    "case when kk <= 0 or s1 = 0 then 0.0 else "
    "round((pow(d / kk, 1e0/3e0) - (1e0 - 2e0/(9*kk)))"
    " / sqrt(2e0/(9*kk)), 6) + 0.0 end"
)


def _disp_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH hc AS (
  SELECT epoch_us(ts) // {_HOUR_US} AS hr, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
s AS (
  SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM hc
),
k AS (SELECT *, n - 1 AS kk FROM s),
d0 AS (SELECT *, {_DISP_D} AS d FROM k),
z0 AS (SELECT *, {_DISP_Z} AS z_stat FROM d0),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM z0
)
SELECT n AS n_hours, s1 AS total_events,
       round(CAST(s1 AS DOUBLE) / n, 6) + 0.0 AS mean_hourly_rate,
       {_DISP_VMR} AS vmr, d AS dispersion_stat, z_stat,
       round({poly}, 6) + 0.0 AS p_value,
       (round({poly}, 6) + 0.0) <= 0.05 AS significant_at_95
FROM xt
"""


@query("event_overdispersion_test", oracle=_disp_oracle())
def event_overdispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion test of the hourly event-arrival process:
    the index of dispersion D = (n-1) * variance / mean of the hourly
    counts is chi-square(n-1) under a well-behaved (Poisson) arrival
    process; a VMR far above 1 flags bursty/clumped ingestion (bot
    bursts, batch replays, a stuck producer flushing) even when the MEAN
    rate looks normal — the distributional health check that complements
    ``cusum_changepoint_hourly`` (level shift WHEN) and
    ``theil_sen_daily_trend`` (sustained drift).

    Exactness: the hourly collapse and the (n, S1, S2) moments are exact
    int64 (S2 overflows int64 LOUDLY past ~3e9 events/hour); D rounds at
    6dp before the Wilson-Hilferty cube-root z-transform, z rounds at
    6dp before the shared Abramowitz-Stegun erfc polynomial — identical
    operand text in both engines, the established p-value discipline.
    Scale: one map-side-combined aggregate to |hours| rows, one scalar
    aggregate, then constant algebra."""
    hc = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = hc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    k = s.withColumn("kk", (F.col("n") - 1).cast("long"))
    d0 = k.withColumn("d", F.expr(_DISP_D))
    z0 = d0.withColumn("z_stat", F.expr(_DISP_Z))
    xt = with_erfc_args(z0)
    poly = _AS_ERFC_POLY
    return xt.select(
        F.col("n").alias("n_hours"),
        F.col("s1").alias("total_events"),
        (F.round(F.col("s1").cast("double") / F.col("n"), 6) + F.lit(0.0)).alias(
            "mean_hourly_rate"
        ),
        F.expr(_DISP_VMR).alias("vmr"),
        F.col("d").alias("dispersion_stat"),
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_value"),
        ((F.round(F.expr(poly), 6) + F.lit(0.0)) <= 0.05).alias(
            "significant_at_95"
        ),
    )


# --- Brown-Forsythe variance-equality test across sources ----------------------

# F on the absolute deviations from the GROUP MEDIAN (doubled to stay
# integer: z = |2x - (x_lo + x_hi)| — the factor cancels in the ratio).
# Written once, pasted into both dialects; F rides Wilson-Hilferty with
# df = k-1 (chi2/df = F as the denominator df grows — documented
# large-N approximation), e-notation double literals throughout.
_BF_F = (
    "case when kk <= 0 or den_e6 <= 0 then cast(null as double) else "
    "round((cast(num_e6 as double) * (n - k)) / (cast(den_e6 as double) * kk), 6)"
    " + 0.0 end"
)
_BF_Z = (
    "case when kk <= 0 or den_e6 <= 0 or num_e6 <= 0 then 0.0 else "
    "round((pow((cast(num_e6 as double) * (n - k))"
    " / (cast(den_e6 as double) * kk), 1e0/3e0) - (1e0 - 2e0/(9*kk)))"
    " / sqrt(2e0/(9*kk)), 6) + 0.0 end"
)


def _bf_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH s AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rs,
         count(*) OVER (PARTITION BY source)::BIGINT AS ns
  FROM documents
),
med AS (
  SELECT source,
         CAST(max(CASE WHEN rs = (ns + 1) // 2 THEN n_chars END)
              + max(CASE WHEN rs = ns // 2 + 1 THEN n_chars END) AS BIGINT)
           AS m2
  FROM s GROUP BY source
),
z AS (
  SELECT d.source, CAST(abs(2 * d.n_chars - m.m2) AS BIGINT) AS z
  FROM documents d JOIN med m USING (source)
),
g AS (
  SELECT source, count(*)::BIGINT AS n_g, sum(z)::BIGINT AS sg,
         CAST(sum(z * z) AS BIGINT) AS qg
  FROM z GROUP BY source
),
t AS (
  SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
         sum(sg)::BIGINT AS st, sum(qg)::BIGINT AS qt,
         CAST(sum(CAST(round(1000000.0 * sg * sg / n_g) AS BIGINT))
              AS BIGINT) AS terms_e6
  FROM g
),
f0 AS (
  SELECT k, n, k - 1 AS kk,
         CAST(terms_e6 - CAST(round(1000000.0 * st * st / n) AS BIGINT)
              AS BIGINT) AS num_e6,
         CAST(1000000 * qt - terms_e6 AS BIGINT) AS den_e6
  FROM t
),
z1 AS (SELECT *, {_BF_F} AS f_stat, {_BF_Z} AS z_stat FROM f0),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM z1
)
SELECT k AS k_sources, n AS n_docs, num_e6, den_e6, f_stat, z_stat,
       round({poly}, 6) + 0.0 AS p_value,
       (round({poly}, 6) + 0.0) <= 0.05 AS significant_at_95
FROM xt
"""


def _source_ranks(docs: DataFrame) -> DataFrame:
    """``docs`` (doc_id, source, n_chars, ...) plus ``ns``, the size of the
    document's source, and ``rs``, its 1-based rank by (n_chars, doc_id)
    within that source: one global pass over the composite
    (source, n_chars, doc_id) key, offset per source. Assumes source
    names contain no '|' (the testdata invariant)."""
    ckf = docs.withColumn(
        "ck",
        F.concat(
            F.col("source"),
            F.lit("|"),
            F.lpad(F.col("n_chars").cast("string"), 13, "0"),
            F.lpad(F.col("doc_id").cast("string"), 13, "0"),
        ),
    )
    cr = with_global_rank(ckf, [F.col("ck").asc()], rank_col="cr").drop("ck")
    offs = cr.groupBy(F.col("source").alias("_src")).agg(
        F.min("cr").cast("long").alias("off"),
        F.count(F.lit(1)).cast("long").alias("ns"),
    )
    return (
        cr.join(F.broadcast(offs), cr.source == offs._src)
        .drop("_src")
        .withColumn("rs", (F.col("cr") - F.col("off") + 1).cast("long"))
    )


@query("brown_forsythe_length_variance", oracle=_bf_oracle())
def brown_forsythe_length_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equality of document-length VARIANCE
    across sources — the robust (median-centered) Levene ANOVA on
    z = |x - median_source|. The location-drift family (trimmed means,
    Welch, Mann-Whitney) asks whether sources differ in LEVEL; this asks
    whether they differ in SPREAD, which is what breaks shared
    truncation thresholds and packing efficiency even when means agree.

    Distributed shape: per-source medians come from the composite-banded
    rank pass (source|lpad(n_chars)|lpad(doc_id) — the documented
    pattern that avoids the partitionBy(source) single-task pinch) via
    ONE conditional aggregate on the two middle order statistics;
    deviations z = |2x - (x_lo + x_hi)| stay exact integers (the factor
    2 cancels in F); group sums are exact int64 (den_e6's 1e6 scaling
    exhausts int64 LOUDLY past ~9e12 in sum-of-squares — the documented
    decimal extension point); each between-group term quantizes to e6
    BEFORE the k-row sum. F and the Wilson-Hilferty z (df = k-1;
    denominator df treated as large — exact for the corpus scales this
    targets) are single 6dp expressions; p rides the shared erfc
    polynomial."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    docs = materialize(docs)  # feeds the rank pass and the z join
    rs = _source_ranks(docs)
    med = rs.groupBy("source").agg(
        (
            F.max(F.when(F.col("rs") == F.expr("(ns + 1) div 2"), F.col("n_chars")))
            + F.max(F.when(F.col("rs") == F.expr("ns div 2 + 1"), F.col("n_chars")))
        )
        .cast("long")
        .alias("m2")
    )
    z = docs.join(F.broadcast(med), "source").select(
        "source", F.abs(2 * F.col("n_chars") - F.col("m2")).cast("long").alias("z")
    )
    g = z.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("sg"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qg"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("st"),
        F.sum("qg").cast("long").alias("qt"),
        F.sum(F.expr("cast(round(1000000.0 * sg * sg / n_g) as bigint)"))
        .cast("long")
        .alias("terms_e6"),
    )
    f0 = t.select(
        "k",
        "n",
        (F.col("k") - 1).alias("kk"),
        F.expr(
            "cast(terms_e6 - cast(round(1000000.0 * st * st / n) as bigint)"
            " as bigint)"
        ).alias("num_e6"),
        F.expr("cast(1000000 * qt - terms_e6 as bigint)").alias("den_e6"),
    )
    z1 = f0.withColumn("f_stat", F.expr(_BF_F)).withColumn("z_stat", F.expr(_BF_Z))
    xt = with_erfc_args(z1)
    poly = _AS_ERFC_POLY
    return xt.select(
        F.col("k").alias("k_sources"),
        F.col("n").alias("n_docs"),
        "num_e6",
        "den_e6",
        "f_stat",
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_value"),
        ((F.round(F.expr(poly), 6) + F.lit(0.0)) <= 0.05).alias(
            "significant_at_95"
        ),
    )


# --- Wald–Wolfowitz runs test on daily revenue deltas ----------------------


# The z expression is written ONCE (e-notation literals only — double in
# both dialects) and pasted verbatim into both engines, then rounded to an
# e6 integer so the erfc polynomial sees the identical operand.
_RUNS_Z_MICRO = (
    "CASE WHEN n1 < 1 OR n2 < 1 OR (n1 + n2) < 2"
    "          OR (2e0 * n1 * n2 * (2e0 * n1 * n2 - n1 - n2)) <= 0"
    "     THEN 0"
    "     ELSE CAST(round(1000000 * (runs - (1e0 + 2e0 * n1 * n2"
    "                                        / (n1 + n2)))"
    "          / sqrt(2e0 * n1 * n2 * (2e0 * n1 * n2 - n1 - n2)"
    "                 / ((n1 + n2) * (n1 + n2) * 1e0 * (n1 + n2 - 1))))"
    "          AS BIGINT) END"
)


def _runs_oracle() -> str:
    return f"""
WITH d AS (
  SELECT datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
sg AS (
  SELECT day,
         CASE WHEN cents > lag(cents) OVER (ORDER BY day) THEN 1
              WHEN cents < lag(cents) OVER (ORDER BY day) THEN -1
              ELSE 0 END AS sgn
  FROM d
),
nz AS (SELECT day, sgn FROM sg WHERE sgn != 0),
rr AS (
  SELECT sgn,
         CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                   OR sgn != lag(sgn) OVER (ORDER BY day)
              THEN 1 ELSE 0 END AS new_run
  FROM nz
),
m AS (
  SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM rr
),
zs AS (SELECT n1, n2, runs, {_RUNS_Z_MICRO} AS z_micro FROM m),
zz AS (SELECT *, round(z_micro / 1e6, 6) + 0.0 AS z_stat FROM zs),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n1, n2, runs, z_stat,
       round({_AS_ERFC_POLY}, 6) + 0.0 AS p_normal
FROM xt
"""


@query("runs_test_daily_revenue", oracle=_runs_oracle())
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the SIGN sequence of day-over-day
    revenue changes: too few runs means momentum/trend, too many means
    oscillation — the standard model-free randomness check a metrics
    pipeline runs before trusting an i.i.d. assumption anywhere
    downstream (complements ``cusum_changepoint_hourly``, which
    localizes a level shift, and ``theil_sen_daily_trend``, which
    estimates a sustained rate).

    Exactness: daily revenue is an exact integer cents sum; signs,
    run starts, n1/n2/R are pure integer window/aggregate logic; z
    quantizes to an e6 integer through ONE shared expression of the
    three integers (e-notation literals — double division in both
    dialects), and p is the shared erfc polynomial on the ROUNDED z.
    Zero deltas drop (the standard treatment). Degenerate inputs
    (either sign absent) guard to z = 0.

    Scale shape: one map-side-combined aggregate to the bounded |days|
    frame; the sign/run windows ride that bounded frame (the documented
    bounded-global-window pattern — |days| is calendar-bounded,
    independent of row count); then a 1-row reduce."""
    d = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                "datediff(cast(o_orderdate as date), date '1970-01-01')"
            ).alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    wd = Window.orderBy("day")
    sg = d.select(
        "day",
        F.when(F.col("cents") > F.lag("cents").over(wd), 1)
        .when(F.col("cents") < F.lag("cents").over(wd), -1)
        .otherwise(0)
        .alias("sgn"),
    ).filter(F.col("sgn") != 0)
    rr = sg.select(
        "sgn",
        F.when(
            F.lag("sgn").over(wd).isNull() | (F.col("sgn") != F.lag("sgn").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    m = rr.agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    zz = m.withColumn("z_micro", F.expr(_RUNS_Z_MICRO)).withColumn(
        "z_stat", F.round(F.col("z_micro") / 1e6, 6) + F.lit(0.0)
    )
    xt = with_erfc_args(zz)
    return xt.select(
        "n1",
        "n2",
        "runs",
        "z_stat",
        (F.round(F.expr(_AS_ERFC_POLY), 6) + F.lit(0.0)).alias("p_normal"),
    )


# --- exact normal-equations OLS (Cramer's rule) ----------------------------

# Shared determinant expressions over the nine exact integer moments.
# Triple products overflow int64 near 1e7-row inputs, so every term
# promotes to double FIRST (1e0 * ...); the expression text is pasted
# verbatim into both engines, so both evaluate the identical IEEE
# operation sequence (deterministic, order-fixed by the text).
_OLS_DET = (
    "(1e0 * n * (1e0 * s11 * s22 - 1e0 * s12 * s12)"
    " - 1e0 * s1 * (1e0 * s1 * s22 - 1e0 * s12 * s2)"
    " + 1e0 * s2 * (1e0 * s1 * s12 - 1e0 * s11 * s2))"
)
_OLS_DET0 = (
    "(1e0 * sy * (1e0 * s11 * s22 - 1e0 * s12 * s12)"
    " - 1e0 * s1 * (1e0 * s1y * s22 - 1e0 * s12 * s2y)"
    " + 1e0 * s2 * (1e0 * s1y * s12 - 1e0 * s11 * s2y))"
)
_OLS_DET1 = (
    "(1e0 * n * (1e0 * s1y * s22 - 1e0 * s12 * s2y)"
    " - 1e0 * sy * (1e0 * s1 * s22 - 1e0 * s12 * s2)"
    " + 1e0 * s2 * (1e0 * s1 * s2y - 1e0 * s1y * s2))"
)
_OLS_DET2 = (
    "(1e0 * n * (1e0 * s11 * s2y - 1e0 * s1y * s12)"
    " - 1e0 * s1 * (1e0 * s1 * s2y - 1e0 * s1y * s2)"
    " + 1e0 * sy * (1e0 * s1 * s12 - 1e0 * s11 * s2))"
)


def _ols_oracle() -> str:
    return f"""
WITH d AS (
  SELECT n_chars AS y,
         CAST(length({_TOKS_D}) AS BIGINT) AS x1,
         CAST(length(list_distinct({_TOKS_D})) AS BIGINT) AS x2
  FROM documents
),
m AS (
  SELECT count(*)::BIGINT AS n,
         sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2, sum(y)::BIGINT AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM d
),
dt AS (SELECT *, {_OLS_DET} AS det FROM m)
SELECT n,
       CASE WHEN det = 0 THEN NULL
            ELSE round({_OLS_DET0} / det, 6) + 0.0 END AS b0,
       CASE WHEN det = 0 THEN NULL
            ELSE round({_OLS_DET1} / det, 6) + 0.0 END AS b1,
       CASE WHEN det = 0 THEN NULL
            ELSE round({_OLS_DET2} / det, 6) + 0.0 END AS b2
FROM dt
"""


@query("ols_chars_model", oracle=_ols_oracle())
def ols_chars_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares fit n_chars ~ b0 + b1*n_words +
    b2*n_distinct_words, solved EXACTLY from the normal equations by
    Cramer's rule over nine integer moment sums — the closed-form
    multivariate extension of the registry's single-regressor lines
    (``orders_trend_decomposition`` OLS, ``theil_sen_daily_trend``
    robust slope). The fitted coefficients are the standard
    "characters-per-token" calibration a token-budget planner uses when
    only character counts are available upstream of tokenization
    (pairs with ``tokenizer_fertility_by_lang``).

    Exactness: all nine moments are exact int64 from ONE
    map-side-combined scalar aggregate; each 3x3 determinant promotes
    to double per-term in a SHARED expression (identical text both
    engines — same IEEE sequence), and coefficients are single
    6dp-rounded divisions. A singular system (collinear regressors)
    yields NULL coefficients, not a crash. int64 ceiling: s11 ~ n *
    (2e3)^2 caps at ~2e12 docs; the triple products are double-side
    by construction.

    Scale shape: one corpus scan -> 1-row reduce; zero joins, zero
    shuffles beyond the scalar aggregate."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("y"),
        F.expr(f"cast(size({_TOKS_S}) as bigint)").alias("x1"),
        F.expr(f"cast(size(array_distinct({_TOKS_S})) as bigint)").alias("x2"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    dt = m.withColumn("det", F.expr(_OLS_DET))
    return dt.select(
        "n",
        F.expr(
            f"CASE WHEN det = 0 THEN NULL"
            f" ELSE round({_OLS_DET0} / det, 6) + 0.0 END"
        ).alias("b0"),
        F.expr(
            f"CASE WHEN det = 0 THEN NULL"
            f" ELSE round({_OLS_DET1} / det, 6) + 0.0 END"
        ).alias("b1"),
        F.expr(
            f"CASE WHEN det = 0 THEN NULL"
            f" ELSE round({_OLS_DET2} / det, 6) + 0.0 END"
        ).alias("b2"),
    )


# --- mutual information of the source x language contingency ---------------

# Per-cell / per-margin entropy contributions quantize at e9 (the values
# are O(1e-3..1) nats; e9 keeps 6 live digits after the final 6dp round)
# through shared expression text; every ln argument is a ratio of double-
# promoted exact integers.
_MI_CELL_E9 = (
    "CAST(round(1000000000 * (1e0 * nsl / nn)"
    " * ln((1e0 * nsl * nn) / (1e0 * ns * nl))) AS BIGINT)"
)
_MI_HS_E9 = (
    "CAST(round(-1000000000 * (1e0 * ns / nn) * ln(1e0 * ns / nn)) AS BIGINT)"
)
_MI_HL_E9 = (
    "CAST(round(-1000000000 * (1e0 * nl / nn) * ln(1e0 * nl / nn)) AS BIGINT)"
)


def _mi_oracle() -> str:
    return f"""
WITH cell AS (
  SELECT source, lang, count(*)::BIGINT AS nsl
  FROM documents GROUP BY source, lang
),
ms AS (SELECT source, sum(nsl)::BIGINT AS ns FROM cell GROUP BY source),
ml AS (SELECT lang, sum(nsl)::BIGINT AS nl FROM cell GROUP BY lang),
tot AS (SELECT sum(nsl)::BIGINT AS nn FROM cell),
mi AS (
  SELECT CAST(sum({_MI_CELL_E9}) AS BIGINT) AS mi_e9,
         count(*)::BIGINT AS n_cells
  FROM cell JOIN ms USING (source) JOIN ml USING (lang) CROSS JOIN tot
),
hs AS (
  SELECT CAST(sum({_MI_HS_E9}) AS BIGINT) AS hs_e9
  FROM ms CROSS JOIN tot
),
hl AS (
  SELECT CAST(sum({_MI_HL_E9}) AS BIGINT) AS hl_e9
  FROM ml CROSS JOIN tot
)
SELECT n_cells, round(mi_e9 / 1e9, 6) + 0.0 AS mi_nats,
       round(hs_e9 / 1e9, 6) + 0.0 AS h_source,
       round(hl_e9 / 1e9, 6) + 0.0 AS h_lang,
       CASE WHEN hs_e9 <= 0 OR hl_e9 <= 0 THEN NULL
            ELSE round(mi_e9 / sqrt(1e0 * hs_e9 * hl_e9), 6) + 0.0 END
         AS nmi
FROM mi CROSS JOIN hs CROSS JOIN hl
"""


@query("mutual_info_source_lang", oracle=_mi_oracle())
def mutual_info_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and normalized MI) between document source and
    language — the EFFECT-SIZE companion to the registry's independence
    tests (``chisq_source_language`` answers "is there dependence";
    this answers "how many nats of language identity does knowing the
    source buy", the quantity a mixture designer actually budgets
    with). NMI = MI / sqrt(H(S) H(L)) normalizes to [0, 1].

    Exactness: cell and margin counts are exact int64; each cell's MI
    contribution and each margin's entropy contribution quantize to e9
    integers through shared expression text (every ln argument is a
    double-promoted ratio of exact integers), so the cross-cell sums
    are exact integer sums — order-independent by construction; the
    three readouts and NMI are single 6dp expressions. Degenerate
    single-source or single-language corpora yield NULL nmi.

    Scale shape: one corpus scan to the bounded |S|x|L| cell frame;
    margins and totals are bounded re-aggregates of the cells (never a
    second corpus scan); everything after the first aggregate is
    broadcast-sized."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("nsl"))
    )
    ms = cell.groupBy("source").agg(F.sum("nsl").cast("long").alias("ns"))
    ml = cell.groupBy("lang").agg(F.sum("nsl").cast("long").alias("nl"))
    tot = cell.agg(F.sum("nsl").cast("long").alias("nn"))
    mi = (
        cell.join(ms, "source")
        .join(ml, "lang")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.expr(_MI_CELL_E9)).cast("long").alias("mi_e9"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
    )
    hs = ms.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(_MI_HS_E9)).cast("long").alias("hs_e9")
    )
    hl = ml.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(_MI_HL_E9)).cast("long").alias("hl_e9")
    )
    return (
        mi.crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hl))
        .select(
            "n_cells",
            (F.round(F.col("mi_e9") / 1e9, 6) + F.lit(0.0)).alias("mi_nats"),
            (F.round(F.col("hs_e9") / 1e9, 6) + F.lit(0.0)).alias("h_source"),
            (F.round(F.col("hl_e9") / 1e9, 6) + F.lit(0.0)).alias("h_lang"),
            F.expr(
                "CASE WHEN hs_e9 <= 0 OR hl_e9 <= 0 THEN NULL"
                " ELSE round(mi_e9 / sqrt(1e0 * hs_e9 * hl_e9), 6) + 0.0 END"
            ).alias("nmi"),
        )
    )


# --- pairwise Jensen-Shannon divergence between sources --------------------

# Per-token JS contribution for the side whose count is c1 (>0), against
# the other side's count c2 (0 when absent): 0.5 * (c1/n1) *
# ln(2*c1*n2 / (c1*n2 + c2*n1)), e9-quantized through shared text (every
# product promotes to double; both engines evaluate the identical
# sequence). Summing the two directions over their own support gives the
# full JS = 0.5 KL(P||M) + 0.5 KL(Q||M).
_JS_TERM_E9 = (
    "CAST(round(1000000000 * 5e-1 * (1e0 * c1 / n1)"
    " * ln((2e0 * c1 * n2) / (1e0 * c1 * n2 + 1e0 * c2 * n1))) AS BIGINT)"
)


def _js_oracle() -> str:
    return f"""
WITH tk AS (
  SELECT source, unnest({_TOKS_D}) AS token FROM documents
),
c AS (SELECT source, token, count(*)::BIGINT AS c FROM tk GROUP BY source, token),
t AS (SELECT source, sum(c)::BIGINT AS n FROM c GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS na, b.n AS nb
  FROM t a JOIN t b ON a.source < b.source
),
p_terms AS (
  SELECT p.source_a, p.source_b,
         x.c AS c1, coalesce(y.c, 0) AS c2, p.na AS n1, p.nb AS n2
  FROM pairs p
  JOIN c x ON x.source = p.source_a
  LEFT JOIN c y ON y.source = p.source_b AND y.token = x.token
),
q_terms AS (
  SELECT p.source_a, p.source_b,
         x.c AS c1, coalesce(y.c, 0) AS c2, p.nb AS n1, p.na AS n2
  FROM pairs p
  JOIN c x ON x.source = p.source_b
  LEFT JOIN c y ON y.source = p.source_a AND y.token = x.token
),
allt AS (
  SELECT source_a, source_b, {_JS_TERM_E9} AS e9 FROM p_terms
  UNION ALL
  SELECT source_a, source_b, {_JS_TERM_E9} AS e9 FROM q_terms
)
SELECT source_a, source_b,
       round(CAST(sum(e9) AS BIGINT) / 1e9, 6) + 0.0 AS js_nats
FROM allt GROUP BY source_a, source_b
"""


@query("js_divergence_source_matrix", oracle=_js_oracle())
def js_divergence_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every pair of source
    unigram distributions — the SYMMETRIC, bounded (<= ln 2) similarity
    matrix a mixture designer actually clusters on, where
    ``source_unigram_kl``'s asymmetric KL needs a reference side and
    explodes on disjoint support. JS(P,Q) = 0.5 KL(P||M) + 0.5 KL(Q||M)
    with M the even mixture; a token absent from one source contributes
    the finite ln 2 term, never infinity.

    Exactness: per-token counts and per-source totals are exact int64;
    each direction's per-token contribution quantizes to an e9 integer
    through ONE shared expression (double-promoted products inside the
    ln — identical text both engines), so the cross-token sum is an
    exact integer sum, order-independent by construction; js_nats is a
    single 6dp division. The two KL directions sum over their OWN
    support via LEFT joins (c2 = 0 when absent) — no full-outer join,
    no missing-token special cases.

    Scale shape: one explode -> per-(source, token) hash aggregate (the
    only corpus-sized shuffle); the pair frame is the bounded |S|^2
    broadcast; each direction is a token-keyed equi join of the count
    frame against itself restricted to one source — shuffle
    O(vocab * |S|), never O(corpus)."""
    tk = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.expr(_TOKS_S)).alias("token")
    )
    c = tk.groupBy("source", "token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    t = c.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    ta = t.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    tb = t.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    pairs = ta.crossJoin(tb).filter(F.col("source_a") < F.col("source_b"))

    def _terms(first: str, second: str, n1: str, n2: str) -> DataFrame:
        x = c.select(
            F.col("source").alias(first), F.col("token"), F.col("c").alias("c1")
        )
        y = c.select(
            F.col("source").alias(second),
            F.col("token"),
            F.col("c").alias("_c2"),
        )
        return (
            x.join(F.broadcast(pairs), first)
            .join(y, [second, "token"], "left")
            .select(
                "source_a",
                "source_b",
                "c1",
                F.coalesce(F.col("_c2"), F.lit(0)).alias("c2"),
                F.col(n1).alias("n1"),
                F.col(n2).alias("n2"),
            )
        )

    allt = _terms("source_a", "source_b", "na", "nb").unionByName(
        _terms("source_b", "source_a", "nb", "na")
    )
    return (
        allt.withColumn("e9", F.expr(_JS_TERM_E9))
        .groupBy("source_a", "source_b")
        .agg(
            (F.round(F.sum("e9").cast("long") / 1e9, 6) + F.lit(0.0)).alias(
                "js_nats"
            )
        )
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
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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
    xt = with_erfc_args(zz)
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
    return (
        _NB_PRED_CTES
        + _heldout_marker_ctes("doc_id, lang, text")
        + f"""
r AS (
  SELECT p.doc_id,
         (p.pred_lang = p.true_lang)::INT AS x1,
         (({_HEUR_LANG_D}) = h.lang)::INT AS x2,
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

    pred = _nb_prediction_frame(spark, sf_dir).select(
        "doc_id",
        (F.col("pred_lang") == F.col("true_lang")).cast("int").alias("x1"),
    )
    hs = _heldout_marker_scores(spark, sf_dir, "doc_id", "lang", "text")
    h = hs.select(
        "doc_id",
        (F.expr(_HEUR_LANG_S) == F.col("lang"))
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


def _cv_oracle() -> str:
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
  SELECT {_CHISQ_SUM_E9} AS chi2_e9
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
    cell, ms, ml, tot, dims = _source_lang_margins(spark, sf_dir)
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

    chi = grid.crossJoin(F.broadcast(tot)).agg(
        F.expr(_CHISQ_SUM_E9).alias("chi2_e9")
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


# --- Goodman-Kruskal lambda (source <-> lang) --------------------------------

# Proportional reduction in error predicting the column variable with vs
# without the row variable: lambda(col|row) =
#   (sum_rows max_col n_rc - max_col n_c) / (N - max_col n_c).
# Every operand is an exact int64 count; the ratio is ONE shared double,
# NULL when the modal column class is the whole table (denominator 0).
_GK_LAMBDA = (
    "CASE WHEN nn - mc <= 0 THEN NULL"
    " ELSE round((1e0 * smr - mc) / (1e0 * nn - mc), 6) + 0.0 END"
)


def _gk_oracle() -> str:
    lam_ls = _GK_LAMBDA.replace("smr", "sm_s").replace("mc", "mx_l")
    lam_sl = _GK_LAMBDA.replace("smr", "sm_l").replace("mc", "mx_s")
    return f"""
WITH cell AS (
  SELECT source, lang, count(*)::BIGINT AS n
  FROM documents GROUP BY source, lang
),
rowmax AS (SELECT source, max(n)::BIGINT AS m FROM cell GROUP BY source),
colmax AS (SELECT lang, max(n)::BIGINT AS m FROM cell GROUP BY lang),
rowtot AS (SELECT source, sum(n)::BIGINT AS t FROM cell GROUP BY source),
coltot AS (SELECT lang, sum(n)::BIGINT AS t FROM cell GROUP BY lang),
agg AS (
  SELECT (SELECT sum(n) FROM cell)::BIGINT AS nn,
         (SELECT sum(m) FROM rowmax)::BIGINT AS sm_s,
         (SELECT sum(m) FROM colmax)::BIGINT AS sm_l,
         (SELECT max(t) FROM coltot)::BIGINT AS mx_l,
         (SELECT max(t) FROM rowtot)::BIGINT AS mx_s
)
SELECT nn AS n_docs,
       {lam_ls} AS lambda_lang_given_source,
       {lam_sl} AS lambda_source_given_lang
FROM agg
"""


@query("goodman_kruskal_lambda_source_lang", oracle=_gk_oracle())
def goodman_kruskal_lambda_source_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal lambda in BOTH directions over the source x lang
    contingency — the proportional-reduction-in-error (PRE) association
    measure that answers the operational question chi-square and Cramér's
    V cannot: "if I know a document's source, how much BETTER can I guess
    its language than always guessing the modal language?" (and vice
    versa). lambda = 0 means source carries no predictive value for lang
    even when chi-square is wildly significant (corpus-scale n makes
    everything significant); lambda near 1 means source nearly determines
    lang — the signal a mixture-rebalancing job keys on. Completes the
    dependence battery: chi-square (is there any), Cramér's V
    (normalized strength), MI (information units), lambda (decision
    units).

    Exactness: pure integer counting end to end — cell counts, row/column
    maxima, marginal-maximum — with ONE shared 6dp double ratio per
    direction; a degenerate table (modal class = everything) yields NULL
    via the shared guard, not a division error.

    Scale shape: one map-side-combined hash aggregate collapses the
    corpus to the bounded |S| x |L| cell frame, which is checkpointed
    (it feeds four bounded re-aggregates); everything downstream is
    dimension-sized arithmetic with broadcast scalars."""
    cell = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cell = materialize(cell)  # bounded |S| x |L|; 4 readouts
    rowmax = cell.groupBy("source").agg(F.max("n").cast("long").alias("m"))
    colmax = cell.groupBy("lang").agg(F.max("n").cast("long").alias("m"))
    rowtot = cell.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    coltot = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("t"))
    agg = (
        cell.agg(F.sum("n").cast("long").alias("nn"))
        .crossJoin(F.broadcast(rowmax.agg(F.sum("m").cast("long").alias("sm_s"))))
        .crossJoin(F.broadcast(colmax.agg(F.sum("m").cast("long").alias("sm_l"))))
        .crossJoin(F.broadcast(coltot.agg(F.max("t").cast("long").alias("mx_l"))))
        .crossJoin(F.broadcast(rowtot.agg(F.max("t").cast("long").alias("mx_s"))))
    )
    lam_ls = _GK_LAMBDA.replace("smr", "sm_s").replace("mc", "mx_l")
    lam_sl = _GK_LAMBDA.replace("smr", "sm_l").replace("mc", "mx_s")
    return agg.select(
        F.col("nn").alias("n_docs"),
        F.expr(lam_ls).alias("lambda_lang_given_source"),
        F.expr(lam_sl).alias("lambda_source_given_lang"),
    )


# --- Kruskal-Wallis H across sources ------------------------------------------

# Tie-corrected Kruskal-Wallis over k groups with DOUBLED ranks (average
# ranks at ties are half-integers; doubling keeps everything int64):
# per-group doubled rank sum R2_j, doubled deviation dev_j =
# R2_j - n_j*(N+1) (E[R2_j] = n_j*(N+1)), per-group term
# dev_j^2 / (4 n_j) e6-quantized before the (k-row) sum, then
#   H = 12/(N(N+1)) * sum_j dev_j^2/(4 n_j) / C,
#   C = 1 - sum_t (t^3 - t) / (N^3 - N)   (tie correction)
# assembled as ONE shared double expression over the exact integers
# (sum_e6 carries sum_j dev_j^2/n_j * 1e6; 12/4 = 3). Products promote
# via 1e0* (int64 N^3 overflows near 2e6 distinct rows-per-value — the
# double product is correctly rounded identically in both engines).
_KW_TERM_E6 = (
    "CAST(round(1000000 * (1e0 * dev * dev) / (4e0 * nj)) AS BIGINT)"
)
_KW_H = (
    "CASE WHEN (1e0 * nn * nn * nn - nn - tt) <= 0 THEN NULL"
    " ELSE (12e0 * sum_e6 / 1000000)"
    " * (1e0 * nn * nn * nn - nn)"
    " / ((1e0 * nn * (nn + 1)) * (1e0 * nn * nn * nn - nn - tt)) END"
)
_KW_Z = (
    f"CASE WHEN ({_KW_H}) IS NULL THEN NULL"
    f" ELSE round(sqrt(2 * ({_KW_H})) - sqrt(2.0 * dof - 1), 6) + 0.0 END"
)


def _kw_rank_sums(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Document length pooled over sources and ranked (doubled average
    ranks): (per: source, nj, r2j; tot: nn, tt = sum of t^3 - t over
    tie groups) — the Kruskal-Wallis and Dunn ``per``/``tot`` CTEs."""
    sg = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sg = materialize(sg)  # bounded |S| x |values|; feeds g + the join
    g = sg.groupBy("v").agg(F.sum("c").cast("long").alias("cnt"))
    rk = with_global_rank(g, ["v"], rank_col="_rk", sum_col="cnt", cum_col="cum_all")
    a2 = rk.select(
        "v", (2 * (F.col("cum_all") - F.col("cnt")) + F.col("cnt") + 1).alias("r2")
    )
    per = (
        sg.join(a2, "v")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("r2j"),
        )
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("nn"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tt"),
    )
    return per, tot


def _kw_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH sg AS (
  SELECT source, n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY source, n_chars
),
g AS (SELECT v, sum(c)::BIGINT AS cnt FROM sg GROUP BY v),
rk AS (
  SELECT v, cnt,
         CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all
  FROM g
),
a2 AS (
  SELECT v, 2 * (cum_all - cnt) + cnt + 1 AS r2 FROM rk
),
per AS (
  SELECT sg.source,
         sum(sg.c)::BIGINT AS nj,
         CAST(sum(sg.c * a2.r2) AS BIGINT) AS r2j
  FROM sg JOIN a2 ON sg.v = a2.v
  GROUP BY sg.source
),
tot AS (
  SELECT sum(cnt)::BIGINT AS nn,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tt
  FROM g
),
terms AS (
  SELECT per.nj, per.r2j, per.r2j - per.nj * (tot.nn + 1) AS dev,
         tot.nn, tot.tt
  FROM per CROSS JOIN tot
),
s AS (
  SELECT count(*)::BIGINT AS k,
         CAST(sum({_KW_TERM_E6}) AS BIGINT) AS sum_e6,
         max(nn)::BIGINT AS nn, max(tt)::BIGINT AS tt
  FROM terms
),
st AS (SELECT nn AS n_docs, k AS n_groups, k - 1 AS dof, sum_e6, nn, tt FROM s),
zz AS (SELECT *, {_KW_Z} AS z_stat FROM st),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_docs, n_groups, dof,
       CASE WHEN ({_KW_H}) IS NULL THEN NULL
            ELSE round(({_KW_H}), 6) + 0.0 END AS h_stat,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("kruskal_wallis_length_by_source", oracle=_kw_oracle())
def kruskal_wallis_length_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H: do the k = |sources| document-length
    distributions share one location, without assuming normality? The
    k-group generalization that completes the rank-test family — the
    registered ``mann_whitney_en_tokens`` is its k = 2 special case and
    the registered ``friedman_test_event_mix`` is its MATCHED-design
    sibling; this is the unmatched one-way layout (Kruskal & Wallis 1952,
    tie correction per Conover 1999). The length-by-source question is the
    robust form of "are sources exchangeable for curriculum/mixture
    purposes" that Welch/Brown-Forsythe answer only under moment
    assumptions.

    Exactness: ranks are kept DOUBLED so average ranks at ties stay int64
    (the ``roc_auc_token_count`` device); per-distinct-value average ranks
    come from the exact global cumulative (banded ``with_global_rank`` —
    no single-partition sort); per-group deviations dev_j = R2_j −
    n_j(N+1) are exact int64, each group's H term e6-quantizes through
    shared text BEFORE the k-row sum, and H, Fisher's z (the house
    large-dof chi-square tail device, dof = 19 here) and the erfc p are
    single shared double expressions. A fully-tied corpus (tie term
    exhausts N³−N) yields NULL via the shared guard.

    Scale shape: ONE corpus aggregate to the (source × distinct-length)
    frame (checkpointed — bounded by |S| × |length domain|); value ranks
    ride the banded global-rank pass over the |length domain| frame; the
    per-group frame is k rows; the statistic is a scalar reduce."""
    per, tot = _kw_rank_sums(spark, sf_dir)
    terms = per.crossJoin(F.broadcast(tot)).select(
        "nj",
        "r2j",
        (F.col("r2j") - F.col("nj") * (F.col("nn") + 1)).alias("dev"),
        "nn",
        "tt",
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.expr(_KW_TERM_E6)).cast("long").alias("sum_e6"),
        F.max("nn").cast("long").alias("nn"),
        F.max("tt").cast("long").alias("tt"),
    )
    st = s.select(
        F.col("nn").alias("n_docs"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).alias("dof"),
        "sum_e6",
        "nn",
        "tt",
    )
    zz = st.withColumn("z_stat", F.expr(_KW_Z))
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
    return xt.select(
        "n_docs",
        "n_groups",
        "dof",
        F.expr(
            f"CASE WHEN ({_KW_H}) IS NULL THEN NULL"
            f" ELSE round(({_KW_H}), 6) + 0.0 END"
        ).alias("h_stat"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Mann-Kendall trend test on daily event volume ----------------------------

# S = sum over day pairs i<j of sign(c_j - c_i); tie-corrected variance
# 18*Var = N(N-1)(2N+5) - sum_t t(t-1)(2t+5) over tie groups of the day
# counts; z applies the standard +/-1 continuity correction. All moments
# exact int64 (|days| is calendar-bounded); z is one shared double.
_MK_Z = (
    "CASE WHEN var18 <= 0 THEN NULL"
    " WHEN s > 0 THEN round((s - 1) / sqrt(var18 / 18e0), 6) + 0.0"
    " WHEN s < 0 THEN round((s + 1) / sqrt(var18 / 18e0), 6) + 0.0"
    " ELSE 0.0 END"
)


def _mk_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS c
  FROM events GROUP BY 1
),
p AS (
  SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM d a JOIN d b ON b.day > a.day
),
tg AS (SELECT c, count(*)::BIGINT AS t FROM d GROUP BY c),
v AS (
  SELECT (SELECT count(*) FROM d)::BIGINT AS n,
         CAST((SELECT sum(t * (t - 1) * (2 * t + 5)) FROM tg) AS BIGINT) AS tie
),
st AS (
  SELECT p.s, v.n,
         v.n * (v.n - 1) * (2 * v.n + 5) - v.tie AS var18
  FROM p CROSS JOIN v
),
zz AS (SELECT n AS n_days, s AS s_stat, var18, {_MK_Z} AS z_stat FROM st),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_days, s_stat, var18, z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            ELSE round(({poly}), 6) + 0.0 END AS p_two_sided
FROM xt
"""


@query("mann_kendall_daily_trend", oracle=_mk_oracle())
def mann_kendall_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily event volume — the
    SIGNIFICANCE companion to the registered ``theil_sen_daily_trend``
    (the classic pairing: Theil-Sen estimates the slope, Mann-Kendall
    tests whether any monotone trend exists at all, both from the same
    pairwise-comparison frame, both distribution-free and burst-robust
    since only SIGNS of pairwise differences enter). Tie-corrected
    variance (Kendall 1975) and the standard ±1 continuity correction;
    two-sided normal p via the shared erfc polynomial.

    Exactness: S and the tie-corrected 18·Var are exact int64 (day
    counts, pair signs, tie-group cubics — all integers over the
    calendar-bounded day frame); z and p are single shared double
    expressions on the exact operands; a constant series (var18 = 0)
    yields NULL via the shared guard.

    Scale shape: the corpus collapses to the |days| frame in one
    map-side-combined aggregate (checkpointed — it feeds the pair join
    twice plus the tie and count readouts); the O(days²) pair frame is a
    broadcast self-join bounded by the time horizon, not the corpus (the
    ``theil_sen_daily_trend`` shape); the statistic is a scalar reduce."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d = materialize(d)  # bounded |days|; feeds pair join + ties + count
    a = d.select(F.col("day").alias("da"), F.col("c").alias("ca"))
    b = d.select(F.col("day").alias("db"), F.col("c").alias("cb"))
    p = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    tg = d.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("t"))
    v = (
        d.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(
            F.broadcast(
                tg.agg(
                    F.sum(
                        F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                    )
                    .cast("long")
                    .alias("tie")
                )
            )
        )
    )
    st = p.crossJoin(F.broadcast(v)).select(
        "s",
        "n",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie")
        ).alias("var18"),
    )
    zz = st.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        "var18",
        F.expr(_MK_Z).alias("z_stat"),
    )
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
    return xt.select(
        "n_days",
        "s_stat",
        "var18",
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" ELSE round(({poly}), 6) + 0.0 END"
        ).alias("p_two_sided"),
    )


# --- Dunn's post-hoc pairwise test (follow-up to Kruskal-Wallis) ---------------

# Tie-corrected Dunn (1964) z for a pair (a, b) over DOUBLED rank sums:
# z = (Rbar_a - Rbar_b) / sigma_ab with
# sigma_ab^2 = [N(N+1)/12 - T/(12(N-1))] (1/n_a + 1/n_b); doubled means
# divide by 2*sigma. One shared expression over six exact integers.
_DUNN_SIG2 = (
    "(((1e0 * nn * (nn + 1)) / 12 - (1e0 * tt) / (12e0 * (nn - 1)))"
    " * (1e0 / na + 1e0 / nb))"
)
_DUNN_Z = (
    f"CASE WHEN nn < 2 OR {_DUNN_SIG2} <= 0 THEN NULL"
    f" ELSE round((1e0 * r2a / na - 1e0 * r2b / nb)"
    f" / (2 * sqrt({_DUNN_SIG2})), 6) + 0.0 END"
)


def _dunn_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH sg AS (
  SELECT source, n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY source, n_chars
),
g AS (SELECT v, sum(c)::BIGINT AS cnt FROM sg GROUP BY v),
rk AS (
  SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all FROM g
),
a2 AS (SELECT v, 2 * (cum_all - cnt) + cnt + 1 AS r2 FROM rk),
per AS (
  SELECT sg.source, sum(sg.c)::BIGINT AS nj,
         CAST(sum(sg.c * a2.r2) AS BIGINT) AS r2j
  FROM sg JOIN a2 ON sg.v = a2.v GROUP BY sg.source
),
tot AS (
  SELECT sum(cnt)::BIGINT AS nn,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tt
  FROM g
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.nj AS na, b.nj AS nb, a.r2j AS r2a, b.r2j AS r2b, t.nn, t.tt
  FROM per a JOIN per b ON a.source < b.source CROSS JOIN tot t
),
zz AS (
  SELECT source_a, source_b, na, nb, {_DUNN_Z} AS z_stat FROM pairs
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
            1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
),
pv AS (
  SELECT source_a, source_b, na, nb, z_stat,
         round(({poly}), 6) + 0.0 AS p_value
  FROM xt
),
rk2 AS (
  SELECT *,
         row_number() OVER (ORDER BY p_value ASC, source_a ASC, source_b ASC)
           AS p_rank,
         count(*) OVER ()::BIGINT AS m
  FROM pv
),
bh AS (SELECT *, (p_value * m <= p_rank * 0.05) AS _ok FROM rk2),
kk AS (SELECT *, max(CASE WHEN _ok THEN p_rank ELSE 0 END) OVER () AS _k FROM bh)
SELECT source_a, source_b, na AS n_a, nb AS n_b, z_stat, p_value,
       p_rank::BIGINT AS p_rank, (p_rank <= _k) AS rejected
FROM kk
"""


@query("dunn_posthoc_length_pairs", oracle=_dunn_oracle())
def dunn_posthoc_length_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's (1964) tie-corrected post-hoc test: WHICH source pairs
    differ in document-length location, after the omnibus
    ``kruskal_wallis_length_by_source`` says "some do" — the standard
    follow-up (pairwise mean-rank z over the POOLED ranks, not pairwise
    Mann-Whitneys, which would re-rank each pair and break the omnibus
    coupling), with Benjamini-Hochberg control across the k(k-1)/2 = 190
    pairs (the house ``ab_segment_bh_fdr`` step-up device — Dunn's
    classic Bonferroni is needlessly conservative at 190 tests).

    Exactness: the pooled doubled-rank moments are the KW query's exact
    integers; each pair's z is ONE shared double expression over six
    int64 operands (degenerate pooled variance yields NULL); two-sided
    p via the shared erfc polynomial on the ROUNDED z; the BH rank walk
    orders by (p, source_a, source_b) — fully deterministic because p is
    6dp-rounded identically in both engines.

    Scale shape: identical to KW up to the per-source frame (one corpus
    aggregate to the checkpointed (source x value) frame, banded global
    cumulative for ranks), then a |k|x|k| self-join and the BH windows
    on the bounded 190-row pair frame (documented bounded-global-window
    exception)."""
    per, tot = _kw_rank_sums(spark, sf_dir)
    per = materialize(per)  # k rows; feeds both sides of the pair join
    pa = per.select(
        F.col("source").alias("source_a"),
        F.col("nj").alias("na"),
        F.col("r2j").alias("r2a"),
    )
    pb = per.select(
        F.col("source").alias("source_b"),
        F.col("nj").alias("nb"),
        F.col("r2j").alias("r2b"),
    )
    pairs = (
        pa.join(F.broadcast(pb), F.col("source_a") < F.col("source_b"))
        .crossJoin(F.broadcast(tot))
    )
    zz = pairs.select(
        "source_a", "source_b", "na", "nb", F.expr(_DUNN_Z).alias("z_stat")
    )
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
    pv = xt.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        "z_stat",
        (F.round(F.expr(poly), 6) + F.lit(0.0)).alias("p_value"),
    )
    w_rank = Window.orderBy(
        F.col("p_value").asc(), F.col("source_a").asc(), F.col("source_b").asc()
    )
    w_all = Window.partitionBy()  # bounded 190-row pair frame
    rk2 = (
        pv.withColumn("p_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("_ok", F.col("p_value") * F.col("m") <= F.col("p_rank") * 0.05)
        .withColumn(
            "_k", F.max(F.when(F.col("_ok"), F.col("p_rank")).otherwise(0)).over(w_all)
        )
    )
    return rk2.select(
        "source_a",
        "source_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "z_stat",
        "p_value",
        "p_rank",
        (F.col("p_rank") <= F.col("_k")).alias("rejected"),
    )


# --- two-sample Cramer-von Mises drift statistic --------------------------------

# Tie-collapsed two-sample CvM over the pooled distinct-value grid:
#   T = n1*n2/N^2 * sum_j l_j * (F1(v_j) - F2(v_j))^2
# with right-continuous ECDFs; per distinct value the integer core is
# diff_num = cum1*N - cum_all*n1 (= (F1-F2)*n1*n2), so each value's
# contribution quantizes to an e6 integer through ONE shared expression
# (double-promoted products — cum*N reaches 1e10 at sf0.1 and its square
# exceeds int64). The null moments standardizing T are Anderson &
# Darling's (1952/1962) exact finite-N forms for the untied case:
#   E[T] = (1 + 1/N)/6,
#   Var[T] = (1/45) * (N+1)/N^2 * (4*n1*n2*N - 3*(n1^2+n2^2) - 2*n1*n2)
#            / (4*n1*n2).
_CVM_TERM_E6 = (
    "CAST(round(1000000 * c_all"
    " * ((1e0 * cum1 * nn - 1e0 * cum_all * n1)"
    "    * (1e0 * cum1 * nn - 1e0 * cum_all * n1))"
    " / ((1e0 * nn * nn) * (1e0 * n1 * n2))) AS BIGINT)"
)
_CVM_MEAN = "((1 + 1e0 / nn) / 6)"
_CVM_VAR = (
    "((1e0 / 45) * ((nn + 1e0) / (1e0 * nn * nn))"
    " * (4e0 * n1 * n2 * nn - 3e0 * (1e0 * n1 * n1 + 1e0 * n2 * n2)"
    "    - 2e0 * n1 * n2) / (4e0 * n1 * n2))"
)
_CVM_Z = (
    f"CASE WHEN n1 < 1 OR n2 < 1 OR {_CVM_VAR} <= 0 THEN NULL"
    f" ELSE round((t_e6 / 1e6 - {_CVM_MEAN}) / sqrt({_CVM_VAR}), 6) + 0.0 END"
)


def _cvm_oracle() -> str:
    return f"""
WITH ev AS (
  SELECT value, epoch_us(ts) AS us FROM events
),
bounds AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
tagged AS (
  SELECT value,
         CASE WHEN us < (SELECT mid FROM bounds) THEN 1 ELSE 0 END AS early
  FROM ev
),
grouped AS (
  SELECT value, sum(early)::BIGINT AS c1, count(*)::BIGINT AS c_all
  FROM tagged GROUP BY value
),
tot AS (
  SELECT sum(c1)::BIGINT AS n1,
         (sum(c_all) - sum(c1))::BIGINT AS n2,
         sum(c_all)::BIGINT AS nn
  FROM grouped
),
cdf AS (
  SELECT value, c_all,
         sum(c1) OVER (ORDER BY value)::BIGINT AS cum1,
         sum(c_all) OVER (ORDER BY value)::BIGINT AS cum_all
  FROM grouped
),
s AS (
  SELECT t.n1, t.n2, t.nn,
         CAST(sum({_CVM_TERM_E6}) AS BIGINT) AS t_e6
  FROM cdf CROSS JOIN tot t
  GROUP BY t.n1, t.n2, t.nn
)
SELECT n1 AS n_early, n2 AS n_late,
       round(t_e6 / 1e6, 6) + 0.0 AS t_stat,
       round({_CVM_MEAN}, 6) + 0.0 AS t_null_mean,
       {_CVM_Z} AS z_score,
       coalesce(({_CVM_Z}) > 3, FALSE) AS drift_at_3sd
FROM s
"""


@query("cvm_drift_two_sample", oracle=_cvm_oracle())
def cvm_drift_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises drift statistic between the first and
    second half of the event stream's time range — the INTEGRAL (L2)
    companion to the registered sup-norm ``ks_drift_detection`` over the
    identical split and value column, completing the two-sample drift
    family (KS = worst single gap, CvM = accumulated squared gap across
    the whole distribution, Wasserstein = transport cost, PSI = binned):
    CvM catches many-small-deviations drift that KS's single supremum
    dilutes. Standardized against Anderson & Darling's exact finite-N
    null moments; the readout is the z-score a monitor thresholds (the
    3-sd flag is deliberately conservative — T's limiting law is not
    normal, and at 3 sd the one-sided Cantelli bound alone gives
    p <= 1/10).

    Exactness: per-distinct-value ECDF gaps reduce to the integer core
    cum1*N − cum_all*n1; each value's contribution e6-quantizes through
    shared text (products double-promoted — the squared core exceeds
    int64 at sf0.1 already) before the exact integer sum; mean, variance
    and z are single shared double expressions over (n1, n2, N, t_e6);
    a degenerate split yields NULL via the shared guard.

    Scale shape: identical to ks_drift_detection — one hash aggregate to
    the |distinct values| frame, BOTH cumulative counts ride one banded
    ``with_global_rank`` pass (no single-partition window), broadcast
    totals, scalar reduce."""
    ev = load_table(spark, sf_dir, "events").select(
        "value", F.unix_micros("ts").alias("us")
    )
    bounds = ev.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "value", F.when(F.col("us") < F.col("mid"), 1).otherwise(0).alias("early")
    )
    grouped = tagged.groupBy("value").agg(
        F.sum("early").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("c_all"),
    )
    # Bounded |distinct values| frame with two downstream branches (the
    # totals and the banded CDF pass) — checkpoint so the corpus
    # aggregate runs once under every config, incl. exchange.reuse=false
    # (round-10 review finding; the chisq/GK/KW pattern).
    grouped = materialize(grouped)
    tot = grouped.agg(
        F.sum("c1").cast("long").alias("n1"),
        (F.sum("c_all") - F.sum("c1")).cast("long").alias("n2"),
        F.sum("c_all").cast("long").alias("nn"),
    )
    cdf = with_global_rank(
        grouped,
        ["value"],
        rank_col="_rk",
        sum_col="c1",
        cum_col="cum1",
        extra_cums=[("c_all", "cum_all")],
    )
    s = (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2", "nn")
        .agg(F.sum(F.expr(_CVM_TERM_E6)).cast("long").alias("t_e6"))
    )
    return s.select(
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        (F.round(F.col("t_e6") / 1e6, 6) + F.lit(0.0)).alias("t_stat"),
        (F.round(F.expr(_CVM_MEAN), 6) + F.lit(0.0)).alias("t_null_mean"),
        F.expr(_CVM_Z).alias("z_score"),
        F.coalesce(F.expr(_CVM_Z) > 3, F.lit(False)).alias("drift_at_3sd"),
    )


def _fdiv_spark(x: str, d: int) -> str:
    """FLOOR-division text for Spark SQL over a positive constant divisor.

    ADVICE r11 #2 (the pre-1970 bucketing dialect trap). Measured
    semantics (pinned by ``test_bucketing_floor_consistent_pre_epoch``):
    Spark ``div`` and DuckDB integer ``//`` BOTH truncate toward zero
    (DuckDB's ``-1 // 2`` is 0, despite the operator's floor-division
    name), and both ``%`` carry the dividend's sign — so the historical
    ``//``/``div`` pairs agreed with each other but not with the Python
    floor-semantics references, and a ``%``-vs-``pmod`` pair (the old
    kuiper tod) genuinely diverged pre-epoch. Truncate-then-correct
    (subtract 1 exactly when the remainder is negative) gives TRUE floor
    division in pure integer arithmetic; :func:`_fdiv_duck` is the
    oracle-side twin and :func:`_pmod_duck` pairs with Spark's ``pmod``,
    so engine pairs AND the Python brute-force references now share one
    semantics on every dividend sign."""
    return f"(({x}) div {d} - (CASE WHEN (({x}) % {d}) < 0 THEN 1 ELSE 0 END))"


def _fdiv_duck(x: str, d: int) -> str:
    """FLOOR-division text for DuckDB — see :func:`_fdiv_spark`: DuckDB
    integer ``//`` truncates toward zero exactly like Spark ``div``, so
    the same remainder correction applies."""
    return f"(({x}) // {d} - (CASE WHEN (({x}) % {d}) < 0 THEN 1 ELSE 0 END))"


def _pmod_duck(x: str, m: int) -> str:
    """Non-negative modulo text for DuckDB (its ``%`` carries the
    dividend's sign and there is no ``pmod`` builtin) — the add-then-
    re-mod form, pairing with Spark's ``pmod`` (ADVICE r11 #2)."""
    return f"(((({x}) % {m}) + {m}) % {m})"


# --- Jonckheere-Terpstra ordered trend -----------------------------------------

# JT statistic over k ORDERED groups: J = sum_{i<j} U_ij with U_ij the
# Mann-Whitney count (ties at 1/2). Kept DOUBLED (j2 = 2J) so tie halves
# stay int64 (the roc_auc/KW device): per shared value grid row,
# 2*U-contribution = 2*c_j*C_i(<v) + c_i*c_j. Null moments with ties
# (Hollander & Wolfe 1999 §6.2, eq. 6.19): with band sizes n_i and
# pooled tie sizes t_v,
#   mu = (N^2 - sum n_i^2) / 4
#   sigma^2 = (N(N-1)(2N+5) - sum n(n-1)(2n+5) - sum t(t-1)(2t+5)) / 72
#           + (sum n(n-1)(n-2)) * (sum t(t-1)(t-2)) / (36 N(N-1)(N-2))
#           + (sum n(n-1)) * (sum t(t-1)) / (8 N(N-1))
# — every component an exact integer sum over the bounded band/value
# frames, promoted to double ONLY inside this shared expression. Two
# integer-core boundaries, handled differently (round-11 review fix):
# the QUADRATIC cores (j2, sum_n2, b3, t3) leave int64 near 3e9 events;
# the CUBIC band/tie moment sums (b1/b2/t1/t2 ~ 2*n^3) leave int64 as
# early as ~1.7e6 rows in ONE band or tie group — and there Spark's
# non-ANSI multiply would wrap while DuckDB raises (the chi-square
# ADVICE r10 asymmetry). So the z carries an explicit tripwire on the
# exact INPUTS (2*max^2*N bounds each cubic sum from above, evaluated
# in double — conservative, identical in both engines): past it, fail
# loud to NULL together instead of shipping a wrapped statistic.
_JT_CUBIC_GUARD = (
    "(2e0 * mxb * mxb * nn) > 9e18 OR (2e0 * mxt * mxt * nn) > 9e18"
)
_JT_VAR = (
    "((1e0 * nn * (nn - 1) * (2 * nn + 5) - 1e0 * b1 - 1e0 * t1) / 72e0"
    " + (1e0 * b2 * t2) / (36e0 * nn * (nn - 1) * (nn - 2))"
    " + (1e0 * b3 * t3) / (8e0 * nn * (nn - 1)))"
)
_JT_Z = (
    f"CASE WHEN nn < 3 OR {_JT_CUBIC_GUARD} OR ({_JT_VAR}) <= 0 THEN NULL"
    f" ELSE round((2e0 * j2 - (1e0 * nn * nn - 1e0 * sum_n2))"
    f" / (4e0 * sqrt({_JT_VAR})), 6) + 0.0 END"
)


def _jt_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH e AS (
  SELECT {_pmod_duck(_fdiv_duck(_fdiv_duck("epoch_us(ts)", 1000000), 3600), 24)} // 6 AS b,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
gv AS (SELECT b, v, count(*)::BIGINT AS c FROM e GROUP BY b, v),
vals AS (SELECT v, sum(c)::BIGINT AS tv FROM gv GROUP BY v),
bands AS (SELECT b, sum(c)::BIGINT AS nb FROM gv GROUP BY b),
grid AS (
  SELECT bands.b, vals.v, coalesce(gv.c, 0)::BIGINT AS c
  FROM vals CROSS JOIN bands
  LEFT JOIN gv ON gv.b = bands.b AND gv.v = vals.v
),
cum AS (
  SELECT b, v, c,
         (sum(c) OVER (PARTITION BY b ORDER BY v) - c)::BIGINT AS cumlt
  FROM grid
),
j AS (
  SELECT CAST(sum(2 * gj.c * gi.cumlt + gi.c * gj.c) AS BIGINT) AS j2
  FROM cum gi JOIN cum gj ON gi.v = gj.v AND gi.b < gj.b
),
moms AS (
  SELECT (SELECT sum(nb)::BIGINT FROM bands) AS nn,
         (SELECT count(*)::BIGINT FROM bands) AS k,
         (SELECT CAST(sum(nb * nb) AS BIGINT) FROM bands) AS sum_n2,
         (SELECT CAST(sum(nb * (nb - 1) * (2 * nb + 5)) AS BIGINT)
          FROM bands) AS b1,
         (SELECT CAST(sum(nb * (nb - 1) * (nb - 2)) AS BIGINT)
          FROM bands) AS b2,
         (SELECT CAST(sum(nb * (nb - 1)) AS BIGINT) FROM bands) AS b3,
         (SELECT max(nb)::BIGINT FROM bands) AS mxb,
         (SELECT max(tv)::BIGINT FROM vals) AS mxt,
         (SELECT CAST(sum(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT)
          FROM vals) AS t1,
         (SELECT CAST(sum(tv * (tv - 1) * (tv - 2)) AS BIGINT)
          FROM vals) AS t2,
         (SELECT CAST(sum(tv * (tv - 1)) AS BIGINT) FROM vals) AS t3
),
zz AS (
  SELECT moms.nn AS n_events, moms.k AS n_bands, j.j2 AS jt_u2,
         {_JT_Z} AS z_stat
  FROM j CROSS JOIN moms
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_events, n_bands, jt_u2, z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("jonckheere_terpstra_daily_trend", oracle=_jt_oracle())
def jonckheere_terpstra_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend in event value across
    the four time-of-day bands (night → morning → afternoon → evening) —
    the ordered-alternative member that completes the k-group rank
    family: ``kruskal_wallis_length_by_source`` tests ANY location
    difference across unordered groups, while JT (Jonckheere 1954;
    Terpstra 1952) pools the k(k-1)/2 pairwise Mann-Whitney counts in
    band order and so concentrates its power on monotone alternatives —
    exactly what ``cochran_armitage_trend`` does for binary outcomes and
    ``mann_kendall_daily_trend`` does for a single time series; this is
    the distributional version over ordered categories. On the
    stationary synthetic corpus the honest expectation is no trend.

    Exactness: the doubled statistic 2J stays int64 (ties contribute
    c_i*c_j, the 1/2-count doubled); per-band strictly-below cumulative
    counts come from a PARTITIONED window over the zero-filled
    band × value grid, so U_ij needs no per-pair re-sort; the tie-
    corrected null moments (Hollander & Wolfe eq. 6.19) reduce to seven
    exact integer sums over the band totals and pooled tie counts, and
    z is ONE shared double expression over those integers, 6dp-rounded
    before the erfc polynomial (one-sided upper p: the alternative is
    ordered-increasing).

    Scale shape: one map-side-combined aggregate to the (band ×
    distinct-cent-value) frame — bounded by 4 × the 2dp value domain,
    independent of corpus rows — checkpointed, then zero-filled to the
    grid (broadcast band list), one partitioned cumulative window, a
    broadcast self-join over the 6 ordered band pairs, and scalar
    reduces for the moments. No corpus-sized shuffle after the first
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            f"pmod({_fdiv_spark(_fdiv_spark('unix_micros(ts)', 1000000), 3600)}, 24)"
            " div 6"
        ).alias("b"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
    )
    gv = e.groupBy("b", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # Bounded |bands| x |cent values| frame with three consumers (vals,
    # bands, grid): checkpoint so the corpus scan runs once under every
    # config (exchange.reuse=false included).
    gv = materialize(gv)
    vals = gv.groupBy("v").agg(F.sum("c").cast("long").alias("tv"))
    bands = gv.groupBy("b").agg(F.sum("c").cast("long").alias("nb"))
    grid = (
        vals.crossJoin(F.broadcast(bands.select("b")))
        .join(gv, ["b", "v"], "left")
        .select("b", "v", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
    )
    wb = Window.partitionBy("b").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "b",
        "v",
        "c",
        (F.sum("c").over(wb) - F.col("c")).cast("long").alias("cumlt"),
    )
    gi = cum.select(
        F.col("b").alias("bi"), "v", F.col("c").alias("ci"), "cumlt"
    )
    gj = cum.select(F.col("b").alias("bj"), "v", F.col("c").alias("cj"))
    j = (
        gi.join(gj, "v")
        .filter(F.col("bi") < F.col("bj"))
        .agg(
            F.sum(2 * F.col("cj") * F.col("cumlt") + F.col("ci") * F.col("cj"))
            .cast("long")
            .alias("j2")
        )
    )
    bmom = bands.agg(
        F.sum("nb").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("nb") * F.col("nb")).cast("long").alias("sum_n2"),
        F.sum(F.col("nb") * (F.col("nb") - 1) * (2 * F.col("nb") + 5))
        .cast("long")
        .alias("b1"),
        F.sum(F.col("nb") * (F.col("nb") - 1) * (F.col("nb") - 2))
        .cast("long")
        .alias("b2"),
        F.sum(F.col("nb") * (F.col("nb") - 1)).cast("long").alias("b3"),
        F.max("nb").cast("long").alias("mxb"),
    )
    tmom = vals.agg(
        F.sum(F.col("tv") * (F.col("tv") - 1) * (2 * F.col("tv") + 5))
        .cast("long")
        .alias("t1"),
        F.sum(F.col("tv") * (F.col("tv") - 1) * (F.col("tv") - 2))
        .cast("long")
        .alias("t2"),
        F.sum(F.col("tv") * (F.col("tv") - 1)).cast("long").alias("t3"),
        F.max("tv").cast("long").alias("mxt"),
    )
    zz = (
        j.crossJoin(F.broadcast(bmom))
        .crossJoin(F.broadcast(tmom))
        .select(
            F.col("nn").alias("n_events"),
            F.col("k").alias("n_bands"),
            F.col("j2").alias("jt_u2"),
            F.expr(_JT_Z).alias("z_stat"),
        )
    )
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
    return xt.select(
        "n_events",
        "n_bands",
        "jt_u2",
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- energy-distance drift ------------------------------------------------------

# Szekely & Rizzo (2004/2013) two-sample energy statistic on the
# first-half/second-half time split:
#   eps = 2 E|X-Y| - E|X-X'| - E|Y-Y'|,  T = (m*n/N) * eps
# (T >= 0, zero iff equal distributions; consistent against ALL
# alternatives). The O(N^2) pairwise-distance definition reduces, in
# 1-D, to order-statistic form: against the value-sorted grid with
# strictly-below counts a and value-weighted sums s,
#   sum_pairs |x - y| = sum_v c(v) * (v * a(v) - s(v))
# so every pair sum is ONE banded cumulative pass — exact int64 over
# cent-quantized values.
_ED_EPS = (
    "(2e0 * sxy / (1e0 * n1 * n2)"
    " - 2e0 * sxx / (1e0 * n1 * n1)"
    " - 2e0 * syy / (1e0 * n2 * n2))"
)
_ED_T = f"((1e0 * n1 * n2 / (n1 + n2)) * {_ED_EPS})"


def _ed_oracle() -> str:
    return f"""
WITH ev AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v, epoch_us(ts) AS us
  FROM events
),
bounds AS (SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev),
tagged AS (
  SELECT v, CASE WHEN us < (SELECT mid FROM bounds) THEN 1 ELSE 0 END AS early
  FROM ev
),
grouped AS (
  SELECT v, CAST(sum(early) AS BIGINT) AS c1, count(*)::BIGINT AS c_all
  FROM tagged GROUP BY v
),
tot AS (
  SELECT sum(c1)::BIGINT AS n1, (sum(c_all) - sum(c1))::BIGINT AS n2,
         CAST(sum(v * c1) AS BIGINT) AS w1t,
         CAST(sum(v * (c_all - c1)) AS BIGINT) AS w2t
  FROM grouped
),
cdf AS (
  SELECT v, c1, c_all - c1 AS c2,
         sum(c1) OVER w::BIGINT AS cum1,
         sum(c_all - c1) OVER w::BIGINT AS cum2,
         CAST(sum(v * c1) OVER w AS BIGINT) AS cw1,
         CAST(sum(v * (c_all - c1)) OVER w AS BIGINT) AS cw2
  FROM grouped WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
sums AS (
  SELECT CAST(sum(c1 * (v * (cum1 - c1) - (cw1 - v * c1))) AS BIGINT) AS sxx,
         CAST(sum(c2 * (v * (cum2 - c2) - (cw2 - v * c2))) AS BIGINT) AS syy,
         CAST(sum(c2 * (v * (cum1 - c1) - (cw1 - v * c1)
                        + ((SELECT w1t FROM tot) - cw1)
                        - v * ((SELECT n1 FROM tot) - cum1)))
              AS BIGINT) AS sxy
  FROM cdf
)
SELECT t.n1 AS n_early, t.n2 AS n_late, s.sxx, s.syy, s.sxy,
       CASE WHEN t.n1 < 1 OR t.n2 < 1 THEN NULL
            ELSE round({_ED_EPS} / 100e0, 6) + 0.0 END AS energy_dist,
       CASE WHEN t.n1 < 1 OR t.n2 < 1 THEN NULL
            ELSE round({_ED_T} / 100e0, 6) + 0.0 END AS t_stat
FROM sums s CROSS JOIN tot t
"""


@query("energy_distance_drift", oracle=_ed_oracle())
def energy_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample ENERGY-distance drift statistic between the first and
    second half of the event stream's time range — completing the
    two-sample drift family on the identical split and value column as
    ``ks_drift_detection`` (sup-norm) and ``cvm_drift_two_sample`` (L2
    of the ECDF gap): the energy statistic (Szekely & Rizzo 2004, 2013)
    is 2E|X−Y| − E|X−X'| − E|Y−Y'|, a METRIC on distributions that is
    consistent against every alternative (including pure tail/spread
    changes that move little ECDF mass), and the 1-D member of the
    family whose d-dimensional version powers the registered
    ``mmd_linear_label_drift``. Ships the raw pair-distance integer
    sums, the energy distance in value units, and the Szekely-Rizzo
    test statistic T = (mn/N)·eps (permutation-calibrated in the
    literature; as a monitor readout T is thresholded directly, so no
    distributional approximation is smuggled in — the honest choice the
    ``wasserstein_split_drift`` readout already made).

    Exactness: values cent-quantize through shared text; each of the
    three O(N²)-by-definition pair sums reduces to the 1-D
    order-statistic form sum_v c·(v·below_count − below_sum), computed
    from ONE banded global-order pass carrying four cumulative sums
    (counts + value-weighted sums for both halves — the
    ``with_global_rank`` extra_cums device), so sxx/syy/sxy are exact
    int64; eps and T are single shared double expressions over those
    integers, de-cent-scaled by 1e2 at the end (the energy statistic is
    LINEAR in the values — one cent factor, not two; round-11 review
    fix: the original /1e4 shipped value-unit readouts 100x small).

    Scale shape: one hash aggregate to the |distinct cent values| frame
    (bounded by the 2dp value domain), one banded global-order pass (no
    single-partition window), broadcast totals, scalar reduce. The
    integer pair sums stay inside int64 to ~3e9 events per side at this
    value domain (sum <= N·|v|max·N ≈ cents·N²) — the same documented
    boundary class as the KW/JT moment cores."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
        F.unix_micros("ts").alias("us"),
    )
    # Integer floor-division midpoint (round-11 review fix): the oracle's
    # `//` floors, so the Spark side must too — `div` on exact longs, not
    # a double divide + truncating cast (which disagrees on negative
    # epochs and loses exactness past 2^53 us).
    bounds = ev.agg(
        F.expr(
            f"CAST({_fdiv_spark('min(us) + max(us)', 2)} AS BIGINT)"
        ).alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "v", F.when(F.col("us") < F.col("mid"), 1).otherwise(0).alias("early")
    )
    grouped = tagged.groupBy("v").agg(
        F.sum("early").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("c_all"),
    )
    grouped = grouped.select(
        "v",
        "c1",
        (F.col("c_all") - F.col("c1")).cast("long").alias("c2"),
        (F.col("v") * F.col("c1")).cast("long").alias("w1"),
        (F.col("v") * (F.col("c_all") - F.col("c1"))).cast("long").alias("w2"),
    )
    # Bounded |distinct cent values| frame with FIVE consumers (the
    # banded rank pass reads its input along three plan branches, plus
    # tot and the final join): checkpoint so the corpus scan + bounds
    # cross join run once under every config — measured 10 "Scan
    # parquet" nodes in the executed plan before, 0 after (the cvm
    # round-10 review finding, same shape).
    grouped = materialize(grouped)
    cdf = with_global_rank(
        grouped,
        ["v"],
        rank_col="_rk",
        sum_col="c1",
        cum_col="cum1",
        extra_cums=[("c2", "cum2"), ("w1", "cw1"), ("w2", "cw2")],
    )
    tot = grouped.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum("w1").cast("long").alias("w1t"),
        F.sum("w2").cast("long").alias("w2t"),
    )
    sums = cdf.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("c1")
            * (
                F.col("v") * (F.col("cum1") - F.col("c1"))
                - (F.col("cw1") - F.col("v") * F.col("c1"))
            )
        )
        .cast("long")
        .alias("sxx"),
        F.sum(
            F.col("c2")
            * (
                F.col("v") * (F.col("cum2") - F.col("c2"))
                - (F.col("cw2") - F.col("v") * F.col("c2"))
            )
        )
        .cast("long")
        .alias("syy"),
        F.sum(
            F.col("c2")
            * (
                F.col("v") * (F.col("cum1") - F.col("c1"))
                - (F.col("cw1") - F.col("v") * F.col("c1"))
                + (F.col("w1t") - F.col("cw1"))
                - F.col("v") * (F.col("n1") - F.col("cum1"))
            )
        )
        .cast("long")
        .alias("sxy"),
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
    )
    return sums.select(
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        "sxx",
        "syy",
        "sxy",
        F.expr(
            f"CASE WHEN n1 < 1 OR n2 < 1 THEN NULL"
            f" ELSE round({_ED_EPS} / 100e0, 6) + 0.0 END"
        ).alias("energy_dist"),
        F.expr(
            f"CASE WHEN n1 < 1 OR n2 < 1 THEN NULL"
            f" ELSE round({_ED_T} / 100e0, 6) + 0.0 END"
        ).alias("t_stat"),
    )


# --- Mood's median test --------------------------------------------------------


def _mood_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH sg AS (
  SELECT source, n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY source, n_chars
),
g AS (SELECT v, sum(c)::BIGINT AS cnt FROM sg GROUP BY v),
tot0 AS (SELECT sum(cnt)::BIGINT AS nn FROM g),
rk AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM g),
med AS (
  -- LOW median: the ceil(N/2)-th order statistic (cum*2 >= N picks the
  -- N/2-th value on even N, the middle one on odd N) — matches the
  -- Python reference's vals[(n+1)//2 - 1].
  SELECT min(v)::BIGINT AS m
  FROM rk CROSS JOIN tot0 WHERE cum * 2 >= nn
),
cell AS (
  SELECT source,
         CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE 0 END AS side,
         sum(c)::BIGINT AS nsl
  FROM sg GROUP BY 1, 2
),
ms AS (SELECT source, sum(nsl)::BIGINT AS ns FROM cell GROUP BY source),
ml AS (SELECT side, sum(nsl)::BIGINT AS nl FROM cell GROUP BY side),
dims AS (
  SELECT (SELECT count(*) FROM ms)::BIGINT AS r,
         (SELECT count(*) FROM ml)::BIGINT AS c
),
grid AS (
  SELECT ms.ns, ml.nl, coalesce(cell.nsl, 0) AS nsl
  FROM ms CROSS JOIN ml
  LEFT JOIN cell ON cell.source = ms.source AND cell.side = ml.side
),
chi AS (
  SELECT {_CHISQ_SUM_E9} AS chi2_e9 FROM grid CROSS JOIN tot0
),
st AS (
  SELECT t.nn AS n_docs, d.r AS n_groups,
         (SELECT m FROM med) AS grand_median,
         coalesce((SELECT nl FROM ml WHERE side = 1), 0) AS n_above,
         CAST((d.r - 1) * (d.c - 1) AS BIGINT) AS dof,
         chi.chi2_e9 AS chi2_e9
  FROM chi CROSS JOIN dims d CROSS JOIN tot0 t
),
zz AS (
  SELECT *, CASE WHEN dof < 1 THEN NULL ELSE ({_CHISQ_Z}) END AS z_stat
  FROM st
),
xt AS (
  SELECT *, abs(z_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(z_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_docs, n_groups, grand_median, n_above, dof,
       CASE WHEN dof < 1 OR chi2_e9 < 0 THEN NULL
            ELSE round(chi2_e9 / 1e9, 6) + 0.0 END AS chi2,
       z_stat,
       CASE WHEN z_stat IS NULL THEN NULL
            WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0
            ELSE round(1 - ({poly}) / 2, 6) + 0.0 END AS p_value
FROM xt
"""


@query("mood_median_test", oracle=_mood_oracle())
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the k = |sources| document-length
    groups: compute the GRAND (pooled low) median, classify every
    document above/at-or-below it, and chi-square the resulting k x 2
    contingency — the crudest but most outlier-immune member of the
    k-group location family (Kruskal-Wallis uses full rank information;
    Mood's only the sign against the pooled median, so a corpus where
    one source has a pathological tail cannot move any other source's
    contribution). The classic triage test a mixture dashboard runs
    FIRST, before the rank machinery.

    Exactness: the pooled median comes from exact integer cumulative
    counts over the bounded length domain (cum * 2 >= N — the low
    median, integer-only predicate); the k x 2 cells, margins and
    totals are exact int64; the statistic REUSES the full-grid
    chi-square machinery verbatim — ``_CHISQ_SUM_E9`` (the symmetric
    DECIMAL(38,0) overflow guard) over ``_CHISQ_CELL_E9`` cells and
    ``_CHISQ_Z`` for Fisher's z — so Mood, chi-square-independence and
    Cramer's V can never desynchronize; p is the shared erfc polynomial
    (upper tail). A degenerate side split (every value at or below the
    median, dof = 0) yields NULL statistics, identically in both
    engines (the side margin frame is built from PRESENT cells only,
    shared construction).

    Scale shape: one map-side-combined aggregate to the bounded
    (source x length) frame (checkpointed — it feeds the value frame
    and the cell classification); the median rides the banded
    global-rank cumulative over the |length domain| frame; cells,
    margins, grid and the statistic are dimension-sized with broadcast
    scalars."""
    sg = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sg = materialize(sg)
    g = sg.groupBy("v").agg(F.sum("c").cast("long").alias("cnt"))
    tot = g.agg(F.sum("cnt").cast("long").alias("nn"))
    rk = with_global_rank(g, ["v"], rank_col="_rk", sum_col="cnt", cum_col="cum")
    med = (
        rk.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("nn"), F.col("v")))
            .cast("long")
            .alias("m")
        )
    )
    cell = (
        sg.crossJoin(F.broadcast(med))
        .select(
            "source",
            F.when(F.col("v") > F.col("m"), 1).otherwise(0).alias("side"),
            "c",
        )
        .groupBy("source", "side")
        .agg(F.sum("c").cast("long").alias("nsl"))
    )
    cell = materialize(cell)  # bounded k x 2; feeds ms/ml/grid
    ms = cell.groupBy("source").agg(F.sum("nsl").cast("long").alias("ns"))
    ml = cell.groupBy("side").agg(F.sum("nsl").cast("long").alias("nl"))
    dims = ms.agg(F.count(F.lit(1)).cast("long").alias("r")).crossJoin(
        ml.agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        ms.crossJoin(F.broadcast(ml))
        .join(cell, ["source", "side"], "left")
        .select("ns", "nl", F.coalesce(F.col("nsl"), F.lit(0)).alias("nsl"))
    )
    chi = grid.crossJoin(F.broadcast(tot)).agg(
        F.expr(_CHISQ_SUM_E9).alias("chi2_e9")
    )
    above = ml.filter(F.col("side") == 1).agg(
        F.coalesce(F.sum("nl"), F.lit(0)).cast("long").alias("n_above")
    )
    st = (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(above))
        .select(
            F.col("nn").alias("n_docs"),
            F.col("r").alias("n_groups"),
            F.col("m").alias("grand_median"),
            "n_above",
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
            "chi2_e9",
        )
    )
    zz = st.withColumn(
        "z_stat",
        F.expr(f"CASE WHEN dof < 1 THEN NULL ELSE ({_CHISQ_Z}) END"),
    )
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
    return xt.select(
        "n_docs",
        "n_groups",
        "grand_median",
        "n_above",
        "dof",
        F.expr(
            "CASE WHEN dof < 1 OR chi2_e9 < 0 THEN NULL"
            " ELSE round(chi2_e9 / 1e9, 6) + 0.0 END"
        ).alias("chi2"),
        "z_stat",
        F.expr(
            f"CASE WHEN z_stat IS NULL THEN NULL"
            f" WHEN z_stat >= 0 THEN round(({poly}) / 2, 6) + 0.0"
            f" ELSE round(1 - ({poly}) / 2, 6) + 0.0 END"
        ).alias("p_value"),
    )


# --- Brunner-Munzel robust rank test -------------------------------------------

# Brunner & Munzel (2000): the Behrens-Fisher RANK problem. Per
# (group, value) cell every observation shares the same deviation
#   dev = R_pool - R_within - rbar_i + (n_i + 1)/2
#       = (D2 * n_i - T2_i + n_i * (n_i + 1)) / (2 n_i)
# with D2 = doubled-pooled minus doubled-within midrank (exact int),
# T2_i = sum of c * doubled-pooled midranks in group i (exact int). The
# variance contribution c * dev^2 rounds to INTEGER rank^2 units per
# cell through shared text (the statistic is O(1) while dev^2 ~ N^2, so
# the <= 0.5-per-cell quantization sits ~1e-14 relative — far below the
# 6dp output round; e6 scaling would overflow int64 at sf0.1 instead).
_BM_E = "(1e0 * d2 * ni - 1e0 * t2i + 1e0 * ni * (ni + 1))"
_BM_TERM = (
    f"CAST(round((1e0 * c) * {_BM_E} * {_BM_E}"
    " / (4e0 * ni * ni)) AS BIGINT)"
)
_BM_V = "(1e0 * s{a} / (n{a} - 1))"


def _bm(text: str, a: str) -> str:
    return text.replace("{a}", a)


_BM_DEN = f"sqrt(1e0 * n0 * {_bm(_BM_V, '0')} + 1e0 * n1 * {_bm(_BM_V, '1')})"
_BM_GUARD = f"n0 < 2 OR n1 < 2 OR ({_BM_DEN}) <= 0"
_BM_W = (
    f"CASE WHEN {_BM_GUARD} THEN NULL"
    f" ELSE round((1e0 * n0 * n1 * (1e0 * t21 / (2e0 * n1) - 1e0 * t20 / (2e0 * n0)))"
    f" / ((n0 + n1) * ({_BM_DEN})), 6) + 0.0 END"
)
_BM_DF = (
    f"CASE WHEN {_BM_GUARD} THEN NULL"
    f" ELSE round((1e0 * n0 * {_bm(_BM_V, '0')} + 1e0 * n1 * {_bm(_BM_V, '1')})"
    f" * (1e0 * n0 * {_bm(_BM_V, '0')} + 1e0 * n1 * {_bm(_BM_V, '1')})"
    f" / ((1e0 * n0 * {_bm(_BM_V, '0')}) * (1e0 * n0 * {_bm(_BM_V, '0')}) / (n0 - 1)"
    f"  + (1e0 * n1 * {_bm(_BM_V, '1')}) * (1e0 * n1 * {_bm(_BM_V, '1')}) / (n1 - 1)), 6)"
    " + 0.0 END"
)
_BM_PHAT = (
    "CASE WHEN n0 < 1 OR n1 < 1 THEN NULL"
    " ELSE round((1e0 * t21 / (2e0 * n1) - (n1 + 1) / 2e0) / n0, 6) + 0.0 END"
)


def _bm_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
WITH sg AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
         n_chars AS v, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
p AS (SELECT v, sum(c)::BIGINT AS cnt FROM sg GROUP BY v),
rk AS (
  SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM p
),
a2 AS (SELECT v, 2 * (cum - cnt) + cnt + 1 AS r2p FROM rk),
wn AS (
  SELECT g, v, c,
         2 * (CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) - c)
           + c + 1 AS r2w
  FROM sg
),
gt AS (
  SELECT wn.g, sum(wn.c)::BIGINT AS ni,
         CAST(sum(wn.c * a2.r2p) AS BIGINT) AS t2i
  FROM wn JOIN a2 ON a2.v = wn.v GROUP BY wn.g
),
cells AS (
  SELECT wn.g, wn.c, a2.r2p - wn.r2w AS d2, gt.ni, gt.t2i
  FROM wn JOIN a2 ON a2.v = wn.v JOIN gt ON gt.g = wn.g
),
sums AS (
  SELECT g, max(ni)::BIGINT AS ni, max(t2i)::BIGINT AS t2i,
         CAST(sum({_BM_TERM}) AS BIGINT) AS s
  FROM cells GROUP BY g
),
piv AS (
  SELECT CAST(sum(CASE WHEN g = 0 THEN ni END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN g = 1 THEN ni END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g = 0 THEN t2i END) AS BIGINT) AS t20,
         CAST(sum(CASE WHEN g = 1 THEN t2i END) AS BIGINT) AS t21,
         CAST(sum(CASE WHEN g = 0 THEN s END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN g = 1 THEN s END) AS BIGINT) AS s1
  FROM sums
),
zz AS (
  SELECT n0 AS n_rest, n1 AS n_en, {_BM_PHAT} AS p_hat,
         {_BM_W} AS w_stat, {_BM_DF} AS df_welch
  FROM piv
),
xt AS (
  SELECT *, abs(w_stat) / sqrt(2.0) AS _x,
         1 / (1 + 0.3275911 * (abs(w_stat) / sqrt(2.0))) AS _t
  FROM zz
)
SELECT n_rest, n_en, p_hat, w_stat, df_welch,
       CASE WHEN w_stat IS NULL THEN NULL
            ELSE round({poly}, 6) + 0.0 END AS p_normal
FROM xt
"""


@query("brunner_munzel_en_vs_rest", oracle=_bm_oracle())
def brunner_munzel_en_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test of stochastic equality between English and
    non-English document lengths — the Behrens-Fisher completion of the
    rank family: the registered ``mann_whitney_en_tokens`` assumes the
    two shapes differ only by shift (its variance is pooled), which is
    exactly wrong when one language family has heavier length tails; BM
    (Brunner & Munzel 2000, the modern recommended default over MW —
    e.g. lawstat) estimates the relative effect p = P(X < Y) + P(X = Y)/2
    directly and studentizes with SEPARATE within-group rank variances
    (the rank Welch), so unequal spreads cannot masquerade as location
    shifts. Ships the relative effect, the studentized statistic, the
    Welch-Satterthwaite df, and the normal-approximation p (at corpus n
    the t(df) and normal tails agree far beyond 6dp; documented, not
    smuggled).

    Exactness: doubled pooled and within-group midranks keep ties
    int64-exact (the MW/KW device); per-cell deviations collapse to the
    shared integer core (D2*n_i − T2_i + n_i(n_i+1))/(2n_i) — every
    observation in a (group, value) cell shares one deviation — and the
    variance contribution rounds to integer rank² units per cell
    through shared text before the exact sum (e6 scaling would overflow
    int64 at sf0.1; the ≤0.5-per-cell error is ~1e-14 relative on an
    O(N²) sum). Effect, statistic, df are single shared double
    expressions over the six pivoted integers; degenerate groups guard
    to NULL.

    Scale shape: one map-side-combined aggregate to the bounded
    (group × length domain) frame (checkpointed); pooled midranks ride
    the banded global-rank pass, within-group midranks a PARTITIONED
    window over the same bounded frame; everything after is
    dimension-sized with a 2-row pivot."""
    sg = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
            F.col("n_chars").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sg = materialize(sg)
    p = sg.groupBy("v").agg(F.sum("c").cast("long").alias("cnt"))
    rk = with_global_rank(p, ["v"], rank_col="_rk", sum_col="cnt", cum_col="cum")
    a2 = rk.select(
        "v", (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias("r2p")
    )
    w_in = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = sg.select(
        "g",
        "v",
        "c",
        (2 * (F.sum("c").over(w_in) - F.col("c")) + F.col("c") + 1)
        .cast("long")
        .alias("r2w"),
    )
    gt = (
        wn.join(a2, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("ni"),
            F.sum(F.col("c") * F.col("r2p")).cast("long").alias("t2i"),
        )
    )
    cells = (
        wn.join(a2, "v")
        .join(F.broadcast(gt), "g")
        .select(
            "g",
            "c",
            (F.col("r2p") - F.col("r2w")).cast("long").alias("d2"),
            "ni",
            "t2i",
        )
    )
    sums = cells.groupBy("g").agg(
        F.max("ni").cast("long").alias("ni"),
        F.max("t2i").cast("long").alias("t2i"),
        F.sum(F.expr(_BM_TERM)).cast("long").alias("s"),
    )
    g = F.col("g")
    piv = sums.agg(
        F.sum(F.when(g == 0, F.col("ni"))).cast("long").alias("n0"),
        F.sum(F.when(g == 1, F.col("ni"))).cast("long").alias("n1"),
        F.sum(F.when(g == 0, F.col("t2i"))).cast("long").alias("t20"),
        F.sum(F.when(g == 1, F.col("t2i"))).cast("long").alias("t21"),
        F.sum(F.when(g == 0, F.col("s"))).cast("long").alias("s0"),
        F.sum(F.when(g == 1, F.col("s"))).cast("long").alias("s1"),
    )
    zz = piv.select(
        F.col("n0").alias("n_rest"),
        F.col("n1").alias("n_en"),
        F.expr(_BM_PHAT).alias("p_hat"),
        F.expr(_BM_W).alias("w_stat"),
        F.expr(_BM_DF).alias("df_welch"),
        "n0",
        "n1",
        "t20",
        "t21",
        "s0",
        "s1",
    )
    xt = with_erfc_args(zz, "w_stat")
    poly = _AS_ERFC_POLY
    return xt.select(
        "n_rest",
        "n_en",
        "p_hat",
        "w_stat",
        "df_welch",
        F.when(
            F.col("w_stat").isNotNull(),
            F.round(F.expr(poly), 6) + F.lit(0.0),
        ).alias("p_normal"),
    )


def _dec_sum_bigint(term: str) -> str:
    """Exact integer sum with the symmetric int64-overflow guard: both
    engines sum in DECIMAL(38,0) (exact — 38 digits unreachable) and
    fail loud to NULL together once the total leaves int64 range (the
    ``_CHISQ_SUM_E9`` pattern from analytics_queries, generalized)."""
    return (
        f"CASE WHEN abs(sum(CAST({term} AS DECIMAL(38,0))))"
        " > 9223372036854775807 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(sum(CAST({term} AS DECIMAL(38,0))) AS BIGINT) END"
    )


# --- Kuiper two-sample drift on time-of-day -------------------------------------

# Kuiper's V = D+ + D- (signed sup-gaps of the two ECDFs) — the
# rotation-invariant KS variant, THE two-sample test for CIRCULAR data
# (Kuiper 1960; NR §14.3): on time-of-day, KS's sensitivity depends on
# where midnight cuts the circle, Kuiper's does not. Asymptotic tail
# (first four series terms, even j's sign pattern per NR probks-style
# truncation): p = 2 * sum_j (4 j^2 L^2 - 1) exp(-2 j^2 L^2) at
# L = (sqrt(ne) + 0.155 + 0.24/sqrt(ne)) * V, ne = n1*n2/(n1+n2),
# clamped to [0,1]; below L = 0.4 the series is degenerate and p = 1
# (the standard small-lambda guard).
_KP_LAM = (
    # Degenerate-split guard (ADVICE r11 #3): with an empty half the
    # effective-n is 0 and 0.24/sqrt(0) would RAISE under Spark's ANSI
    # divide-by-zero (and go inf under DuckDB's IEEE floats) — the CASE
    # short-circuits both engines to NULL together.
    "CASE WHEN n1 < 1 OR n2 < 1 THEN NULL"
    " ELSE (sqrt((1e0 * n1 * n2) / (n1 + n2)) + 0.155"
    " + 0.24 / sqrt((1e0 * n1 * n2) / (n1 + n2))) * (v_e6 / 1e6) END"
)
_KP_P = (
    # lam IS NULL must short-circuit FIRST: greatest/least IGNORE NULL
    # arguments in both engines, so the ELSE branch would manufacture
    # p = 0.0 ("infinitely significant") out of a degenerate split.
    "CASE WHEN lam IS NULL THEN NULL"
    " WHEN lam < 0.4 THEN 1.0 ELSE least(1.0, greatest(0.0,"
    " 2 * ((4 * lam * lam - 1) * exp(-2 * lam * lam)"
    " + (16 * lam * lam - 1) * exp(-8 * lam * lam)"
    " + (36 * lam * lam - 1) * exp(-18 * lam * lam)"
    " + (64 * lam * lam - 1) * exp(-32 * lam * lam)))) END"
)


def _kp_oracle() -> str:
    return f"""
WITH ev AS (
  SELECT {_pmod_duck(_fdiv_duck("epoch_us(ts)", 1000000), 86400)} AS tod, epoch_us(ts) AS us
  FROM events
), bounds AS (
  SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev
), tagged AS (
  SELECT tod, CASE WHEN us < (SELECT mid FROM bounds) THEN 1 ELSE 0 END AS early
  FROM ev
), grouped AS (
  SELECT tod, sum(early)::BIGINT AS c1, count(*)::BIGINT AS c_all
  FROM tagged GROUP BY tod
), tot AS (
  SELECT sum(c1)::BIGINT AS n1, (sum(c_all) - sum(c1))::BIGINT AS n2 FROM grouped
), cdf AS (
  SELECT tod,
         sum(c1) OVER (ORDER BY tod)::BIGINT AS cum1,
         sum(c_all) OVER (ORDER BY tod)::BIGINT AS cum_all
  FROM grouped
), d AS (
  SELECT t.n1, t.n2,
         max(CASE WHEN t.n1 < 1 OR t.n2 < 1 THEN NULL
             ELSE c.cum1 / (1e0 * t.n1)
                  - (c.cum_all - c.cum1) / (1e0 * t.n2) END) AS dplus,
         max(CASE WHEN t.n1 < 1 OR t.n2 < 1 THEN NULL
             ELSE (c.cum_all - c.cum1) / (1e0 * t.n2)
                  - c.cum1 / (1e0 * t.n1) END) AS dminus
  FROM cdf c, tot t
  GROUP BY t.n1, t.n2
), v AS (
  SELECT n1, n2, dplus, dminus,
         CAST(round(1000000 * (dplus + dminus)) AS BIGINT) AS v_e6
  FROM d
), lamt AS (SELECT *, {_KP_LAM} AS lam FROM v)
SELECT n1 AS n_early, n2 AS n_late,
       round(dplus, 6) + 0.0 AS d_plus,
       round(dminus, 6) + 0.0 AS d_minus,
       v_e6 / 1e6 + 0.0 AS kuiper_v,
       round({_KP_P}, 6) + 0.0 AS p_value,
       ({_KP_P}) < 0.05 AS drift_at_95
FROM lamt
"""


@query("kuiper_tod_drift", oracle=_kp_oracle())
def kuiper_tod_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper two-sample drift test on event TIME-OF-DAY between the
    first and second half of the stream's time range — the CIRCULAR-data
    completion of the drift family (KS / CvM / PSI / energy are all
    origin-sensitive: a diurnal shift that moves mass across midnight
    can halve the KS statistic depending on where the 0h cut falls;
    Kuiper's V = D+ + D- is invariant to rotating the circle, which is
    exactly the guarantee a time-of-day serving-skew monitor needs).

    Exactness: time-of-day is pure integer arithmetic on epoch micros,
    floor-div + non-negative-mod on BOTH engines (ADVICE r11 #2: Spark
    ``div``/DuckDB ``//`` disagree on negative-epoch dividends, so the
    Spark side floor-corrects and the oracle pmod-wraps explicitly — a
    pre-1970 timestamp buckets identically now); a degenerate split
    (n1 = 0 or n2 = 0, e.g. every event at one timestamp) NULLs the
    ECDF gaps in BOTH engines instead of Spark-NULL-vs-DuckDB-NaN
    (ADVICE r11 #3), and the NULL propagates through V/lambda/p
    identically; both cumulative counts ride one
    ``with_global_rank`` pass over the bounded (<= 86400-row) tod grid;
    D+ / D- are order-insensitive maxima of one shared double gap text;
    V e6-quantizes before the tail evaluation so lambda and p derive
    from the same integer in both engines; the four-term asymptotic
    tail is one shared text with the standard lambda < 0.4 guard.

    Scale shape: one corpus scan -> hash aggregate onto the BOUNDED tod
    grid (86400 rows max at any corpus size); everything downstream is
    bounded re-aggregation, exactly the registered ks_drift_detection
    shape with a domain that cannot grow."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            f"pmod({_fdiv_spark('unix_micros(ts)', 1000000)}, 86400)"
        ).alias("tod"),
        F.unix_micros("ts").alias("us"),
    )
    bounds = ev.agg(
        F.expr(_fdiv_spark("min(us) + max(us)", 2)).alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "tod", F.when(F.col("us") < F.col("mid"), 1).otherwise(0).alias("early")
    )
    grouped = tagged.groupBy("tod").agg(
        F.sum("early").cast("long").alias("c1"),
        F.count(F.lit(1)).alias("c_all"),
    )
    # Bounded frame (<= 86400 rows) feeding tot plus the global-rank
    # pass's internal branches: checkpoint so the corpus scans exactly
    # once under every config (exchange-reuse-independent — the
    # registered ks_drift_detection predates this discipline and leans
    # on runtime exchange reuse instead).
    grouped = materialize(grouped)
    tot = grouped.agg(
        F.sum("c1").cast("long").alias("n1"),
        (F.sum("c_all") - F.sum("c1")).cast("long").alias("n2"),
    )
    cdf = with_global_rank(
        grouped,
        ["tod"],
        rank_col="_rk",
        sum_col="c1",
        cum_col="cum1",
        extra_cums=[("c_all", "cum_all")],
    )
    # Empty-half guard (ADVICE r11 #3): when every event shares one
    # timestamp nothing is 'early' (n1 = 0) and the ECDF gap divides by
    # zero — NULL in Spark but NaN under DuckDB's IEEE float division.
    # Guard the gap to NULL in BOTH engines so the degenerate split
    # fails loud together (the lin/DL degenerate-arm convention); the
    # NULL then propagates through v_e6/lam/p identically.
    gap = F.when(
        (F.col("n1") < 1) | (F.col("n2") < 1), F.lit(None).cast("double")
    ).otherwise(
        F.col("cum1") / F.col("n1")
        - (F.col("cum_all") - F.col("cum1")) / F.col("n2")
    )
    d = (
        cdf.crossJoin(F.broadcast(tot))
        .select("n1", "n2", gap.alias("g"))
        .groupBy("n1", "n2")
        .agg(F.max("g").alias("dplus"), F.max(-F.col("g")).alias("dminus"))
    )
    v = d.select(
        "n1",
        "n2",
        "dplus",
        "dminus",
        F.round(1000000 * (F.col("dplus") + F.col("dminus")))
        .cast("long")
        .alias("v_e6"),
    )
    lamt = v.withColumn("lam", F.expr(_KP_LAM))
    return lamt.select(
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        (F.round("dplus", 6) + F.lit(0.0)).alias("d_plus"),
        (F.round("dminus", 6) + F.lit(0.0)).alias("d_minus"),
        (F.col("v_e6") / 1e6 + F.lit(0.0)).alias("kuiper_v"),
        (F.round(F.expr(_KP_P), 6) + F.lit(0.0)).alias("p_value"),
        (F.expr(_KP_P) < 0.05).alias("drift_at_95"),
    )


# Second-order moment term (ADVICE r11 #1): the per-row product promotes
# to DECIMAL(38,0) BEFORE multiplying (int64 x*x wraps in Spark and
# raises in DuckDB — the DeLong per-row-product lesson), and the corpus
# sums ride the shared ``_dec_sum_bigint`` guard below so past int64
# both engines fail loud to NULL together (which NULLs the slopes,
# variances, and inference downstream — never a silent wrap). ``{a}`` is
# the arm, ``{u}``/``{v}`` the two factors (x/y per-user cent sums).
_LIN_MOM = "CASE WHEN arm = {a} THEN CAST({u} AS DECIMAL(38,0)) * {v} ELSE 0 END"


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
    guard conventions of the other rank tests. The lower tail's C/D rational is
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
    poly = _AS_ERFC_POLY
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
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
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
    return f"""
WITH e AS (
  SELECT {_USER_ARM_DUCK} AS arm, CAST(round(value * 100) AS BIGINT) AS cents
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
    arm = F.expr(_USER_ARM_SPARK)
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
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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


# --- paired pre/post frames --------------------------------------------------------

# Each event with the batch's midpoint time ``mid``, which splits a user's
# events into a pre and a post period.
_PREPOST_EV_CTES = f"""WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
bounds AS (SELECT {_fdiv_duck("min(us) + max(us)", 2)} AS mid FROM ev),"""
# Per user: post-period minus pre-period spend in cents.
_PREPOST_DIFF_CTES = _PREPOST_EV_CTES + """
per_user AS (
  SELECT user_id,
         sum(CASE WHEN us >= (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           - sum(CASE WHEN us < (SELECT mid FROM bounds) THEN cents ELSE 0 END)::BIGINT
           AS d
  FROM ev GROUP BY user_id
),"""


def _prepost_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, us, cents, mid) — the Spark twin of ``_PREPOST_EV_CTES``."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(
        F.expr(_fdiv_spark("min(us) + max(us)", 2)).alias("mid")
    )
    return ev.crossJoin(F.broadcast(bounds))


def _prepost_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, d) — the Spark twin of ``_PREPOST_DIFF_CTES``' ``per_user``."""
    return (
        _prepost_events(spark, sf_dir)
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
    poly = _AS_ERFC_POLY
    return f"""
{_PREPOST_DIFF_CTES}
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
    poly = _AS_ERFC_POLY
    per_user = _prepost_diff(spark, sf_dir)
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
    xt = with_erfc_args(zz, F.col("z_micro") / 1e6)
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
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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
    xt = with_erfc_args(zz)
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
    poly = _AS_ERFC_POLY
    return f"""
{_PREPOST_DIFF_CTES}
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
    poly = _AS_ERFC_POLY
    per_user = _prepost_diff(spark, sf_dir)
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("d") != 0, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    zz = s.withColumn("z_micro", F.expr(_SG_Z))
    xt = with_erfc_args(zz, F.col("z_micro") / 1e6)
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
    poly = _AS_ERFC_POLY
    return f"""
WITH e AS (
  SELECT {_USER_ARM_DUCK} AS arm, CAST(round(value * 100) AS BIGINT) AS cents
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
    e = load_table(spark, sf_dir, "events").select(
        F.expr(_USER_ARM_SPARK).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("arm").cast("long").alias("c1"),
    )
    g = materialize(g)  # bounded value grid; rank pass + totals

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
    poly = _AS_ERFC_POLY
    zz = s.crossJoin(F.broadcast(tot)).select(
        "nn", "n0", "n1", "w2", "a1", "a2d", F.expr(_AB_Z).alias("z_stat")
    )
    xt = with_erfc_args(zz)
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


# Per event type: the 2x2 table of user-hash arm ``g`` against the
# outcome value > 60 (a = treated yes, b = treated no, c = control yes,
# d = control no).
_STRATA_2X2_CTES = f"""WITH e AS (
  SELECT event_type AS stratum, {_USER_ARM_DUCK} AS g,
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
),"""


def _strata_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stratum, a, b, c, d) — the Spark twin of ``_STRATA_2X2_CTES``."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        F.expr(_USER_ARM_SPARK).alias("g"),
        F.when(F.col("value") > 60, 1).otherwise(0).alias("y"),
    )
    return e.groupBy("stratum").agg(
        F.sum(F.col("g") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("g") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("g")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("g")) * (1 - F.col("y"))).cast("long").alias("d"),
    )


def _bd_oracle() -> str:
    poly = _AS_ERFC_POLY
    return f"""
{_STRATA_2X2_CTES}
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
    s = _strata_2x2(spark, sf_dir)
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
    poly = _AS_ERFC_POLY
    zz = st.withColumn("z_stat", F.expr(_BD_Z))
    xt = with_erfc_args(zz)
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
    toks = T.tokens_duck("text")
    poly = _AS_ERFC_POLY
    mom = {
        f"s{u}{v}{a}": _dec_sum_bigint(_LIN_MOM.format(a=a, u=u, v=v))
        for a in (0, 1)
        for (u, v) in (("x", "x"), ("x", "y"), ("y", "y"))
    }
    return f"""
WITH d AS (
  SELECT {_DOC_ARM_DUCK} AS arm,
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
    arm = F.expr(_DOC_ARM_SPARK)
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
    xt = with_erfc_args(zz)
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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
    xt = with_erfc_args(zz)
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
    poly = _AS_ERFC_POLY
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
    poly = _AS_ERFC_POLY
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
    xt = with_erfc_args(zz)
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
