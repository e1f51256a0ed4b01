"""Round-5 feature-engineering / scale-pattern operators.

Eight beyond-parity operators a 100 TB training-data pipeline reaches for
once the core dedup/similarity/text family (llm_queries.py) is in place:
iterative distributed linear algebra (power-iteration PCA), cluster-size
audits of the dedup graph, exact-count stratified sampling, hopping
event-time windows, the sparse (inverted-index) cosine similarity join,
per-dimension robust feature scaling, watermark-delay late-data
accounting, and corpus n-gram novelty scoring.

Cross-engine exactness conventions: every float that crosses an engine
boundary is either (a) an exact integer in disguise (fixed-point e2/e6
scaling), (b) a deterministic double expression over identical operands
(sqrt/division of exact integers — IEEE ops are bit-deterministic given
the same inputs, unlike SUM over doubles whose order differs), or (c)
rounded at 6dp after (a)/(b). Iterative queries quantize state between
iterations so both engines iterate the SAME integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators.mat import (
    materialize,
    materialize_loop,
)
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.sources.registry import load_table


# --- power-iteration PCA over the embedding covariance --------------------

_PCA_DIM = 64
_PCA_ITERS = 3


def _pca_iter_duck(k: int) -> str:
    """One quantized power iteration: integer matvec → 1-row max →
    renormalize to e6 fixed point (round of a deterministic double ratio)."""
    return f"""
w{k} AS (
  SELECT c.i, sum(c.c_int * v.v)::BIGINT AS w
  FROM cfull c JOIN v{k - 1} v ON v.i = c.j GROUP BY c.i
),
m{k} AS (SELECT max(abs(w))::BIGINT AS m FROM w{k}),
v{k} AS (
  SELECT i, CAST(round(w::DOUBLE / m::DOUBLE * 1000000) AS BIGINT) AS v
  FROM w{k}, m{k}
)"""


@query(
    "embedding_pca_power_iteration",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, r.i AS i, embedding[r.i]::DOUBLE AS v
  FROM embeddings, range(1, {_PCA_DIM + 1}) r(i)
), cov AS (
  SELECT a.i - 1 AS i, b.i - 1 AS j, round(covar_samp(a.v, b.v), 6) AS c
  FROM ex a JOIN ex b USING (vec_id)
  WHERE a.i <= b.i
  GROUP BY a.i, b.i
), cfull AS (
  SELECT i, j, CAST(round(c * 1000000) AS BIGINT) AS c_int FROM cov
  UNION ALL
  SELECT j, i, CAST(round(c * 1000000) AS BIGINT) FROM cov WHERE i < j
), v0 AS (
  SELECT r.i AS i, 1000000::BIGINT AS v FROM range(0, {_PCA_DIM}) r(i)
),
{",".join(_pca_iter_duck(k) for k in range(1, _PCA_ITERS + 1)).lstrip()}
SELECT i, v AS v_e6 FROM v{_PCA_ITERS}
""",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by {_PCA_ITERS}
    power iterations over the covariance matrix — the whitening/PCA step
    of an embedding pipeline as a DISTRIBUTED iterative algorithm (the
    dense-matrix sibling of ``pagerank_neardup_3iter``).

    The data-proportional work is the covariance itself
    (operators/vector_stats.py: per-Arrow-batch BLAS partials, zero corpus
    bytes shuffled). Everything after operates on the FIXED d×d = {_PCA_DIM}×{_PCA_DIM}
    matrix: each iteration is an equi-join matvec + a 1-row broadcast max
    + a renormalizing projection — O(d²) rows per step regardless of
    corpus size, so the plan is identical at 100 TB.

    Cross-engine exactness: the covariance is rounded to 6dp (already
    oracle-verified identical via ``embedding_covariance``), quantized to
    e6 integers, and every iteration renormalizes through
    ``round(w/m * 1e6)`` — an IEEE-deterministic double ratio of exact
    integers — so both engines iterate bit-identical state and the final
    eigenvector (e6 fixed point, sign fixed by the all-positive start) is
    exactly comparable, no tolerance needed."""
    from flink_realtime_sessionize_sample_spark.operators.vector_stats import (
        embedding_covariance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cov = embedding_covariance(emb, "embedding", dim=_PCA_DIM)
    upper = cov.select("i", "j", F.round(F.col("cov") * 1000000).cast("long").alias("c_int"))
    cfull = upper.unionByName(
        upper.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c_int"
        )
    )
    v = spark.range(_PCA_DIM).select(
        F.col("id").cast("int").alias("i"), F.lit(1000000).cast("long").alias("v")
    )
    for _ in range(_PCA_ITERS):
        w = (
            cfull.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c_int") * F.col("v")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "i",
            F.round(F.col("w").cast("double") / F.col("m").cast("double") * 1000000)
            .cast("long")
            .alias("v"),
        )
    return v.select("i", F.col("v").alias("v_e6"))


# --- near-dup cluster-size audit ------------------------------------------

def _cluster_sizes_oracle() -> str:
    # Reuse the verified-pairs + recursive-CC oracle of
    # dedup_cluster_canonical, wrapping its final SELECT as a CTE and
    # aggregating component sizes into a histogram.
    from flink_realtime_sessionize_sample_spark.plans import llm_queries as L
    from flink_realtime_sessionize_sample_spark.operators import dedup as D

    canon = (
        L._DOC_SHINGLES_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + L._minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
        + L._CLUSTER_TAIL_D
    )
    wrapped = canon.replace(
        "SELECT node AS doc_id, MIN(lab) AS canonical_doc_id\nFROM reach GROUP BY node",
        """, canon AS (
  SELECT node AS doc_id, MIN(lab) AS canonical_doc_id FROM reach GROUP BY node
), sizes AS (
  SELECT canonical_doc_id, count(*)::BIGINT AS cluster_size
  FROM canon GROUP BY canonical_doc_id
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters
FROM sizes GROUP BY cluster_size""",
    )
    if "n_clusters" not in wrapped:
        # Not an assert (stripped under `python -O`): a silently failed
        # replace() would register a malformed oracle.
        raise ValueError("cluster-sizes oracle rewrite did not match")
    return wrapped


@query("doc_dup_cluster_sizes", oracle=_cluster_sizes_oracle())
def doc_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph — the audit a dedup run
    reports (how many pairs/triples/template-families, i.e. is the corpus
    2% clones or one 10k-doc boilerplate blob?). Composed on
    ``near_dup_clusters`` (MinHash-LSH pairs → large-star/small-star CC):
    two cascaded hash aggregates on top, both map-side combinable; the
    histogram domain is bounded by the largest cluster, not the corpus."""
    from flink_realtime_sessionize_sample_spark.operators.dedup import (
        near_dup_clusters,
    )

    comp = near_dup_clusters(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    sizes = comp.groupBy("canonical_doc_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# --- exact-count stratified sampling --------------------------------------

_STRAT_FRAC = 0.2


@query(
    "stratified_sample_exact",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, {T.h48_duck("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM keyed
)
SELECT doc_id, source FROM ranked WHERE rn <= floor(cnt * {_STRAT_FRAC})
""",
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-count stratified sampling: precisely ⌊{_STRAT_FRAC}·N_s⌋ docs
    from every source stratum — the complement of ``sample_stratified_docs``
    (hash-rate sampling, whose per-stratum count is only binomially close
    to the target). Training mixtures with hard token budgets need the
    exact variant.

    Determinism without a shuffle-order dependence: rows are ranked by a
    portable 48-bit hash of the doc id (+ id tiebreak), so the selected
    set is a pure function of the data. The rank window partitions by
    stratum — balanced as long as strata are (documented: a single
    mega-stratum would need the global_order two-pass instead); the
    per-stratum count rides the same window, no second scan."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.expr(T.h48_spark("cast(doc_id as string)")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    wc = Window.partitionBy("source")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") <= F.floor(F.col("cnt") * _STRAT_FRAC))
        .select("doc_id", "source")
    )


# --- hopping (sliding) event-time windows ---------------------------------

_HOP_US = 1_800_000_000  # 30 min
_WIN_HOPS = 4  # window = 4 hops = 2 h


@query(
    "events_sliding_windows",
    oracle=f"""
SELECT (CAST(floor(epoch_us(ts) / {_HOP_US}) AS BIGINT) - k.k) * {_HOP_US} AS window_start_us,
       count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS sum_value_cents
FROM events, range(0, {_WIN_HOPS}) k(k)
GROUP BY window_start_us
""",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows (2 h window, 30 min hop): every event
    lands in exactly {_WIN_HOPS} overlapping windows — the sliding-window
    aggregation ``events_hourly_windows`` (tumbling) doesn't cover, and
    the batch twin of Structured Streaming's ``window(ts, '2 hours',
    '30 minutes')``. Implemented as an explicit bounded explode (×{_WIN_HOPS},
    the window/hop ratio) + one hash aggregate, with window starts from
    integer epoch arithmetic so both engines bucket identically (no
    reliance on an engine's window-origin convention). At scale the
    blowup factor is the ratio — chosen, bounded, and map-side combined
    away within each partition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .select(
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_WIN_HOPS - 1))).alias("k"),
            F.floor(F.col("ts_us") / _HOP_US).alias("bucket"),
        )
        .groupBy(((F.col("bucket") - F.col("k")) * _HOP_US).alias("window_start_us"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
    )


# --- sparse (inverted-index) cosine similarity join -----------------------

_SPARSE_THRESHOLD = 0.9


@query(
    "doc_sparse_cosine_pairs",
    oracle=f"""
WITH sub AS (SELECT doc_id, {T.tokens_duck('text')} AS t FROM documents WHERE doc_id % 10 = 0),
tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM sub WHERE len(t) > 0)
  GROUP BY doc_id, tok
), nrm AS (
  SELECT doc_id, sqrt(sum(tf * tf)::DOUBLE) AS nrm FROM tf GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.tf * b.tf)::BIGINT AS dot
  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT d.doc_a, d.doc_b,
       round(d.dot::DOUBLE / (x.nrm * y.nrm), 6) AS cosine
FROM dots d
JOIN nrm x ON x.doc_id = d.doc_a
JOIN nrm y ON y.doc_id = d.doc_b
WHERE round(d.dot::DOUBLE / (x.nrm * y.nrm), 6) >= {_SPARSE_THRESHOLD}
""",
)
def doc_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-frequency cosine similarity join via an inverted index —
    the bag-of-words complement of the dense ``dedup_embedding_cosine``:
    dot products accumulate through a token-postings equi-join (never a
    crossJoin), so join fan-out is Σ_token df² — bounded by posting-list
    length, which real corpora prune by document frequency (drop tokens
    with df above a cap: exact for pairs whose support isn't exclusively
    stopwords).

    The SYNTHETIC corpus is the documented degenerate case: a ~31-word
    vocabulary makes every posting list corpus-length (same regime as
    ``containment_pairs``' scale caveat), so df pruning would delete the
    vocabulary; the query therefore runs on a deterministic 1-in-10 doc
    subset and the docstring, not the data, carries the scale story.

    Cross-engine exactness: dot products and squared norms are exact
    integers; sqrt/multiply/divide are IEEE-deterministic on identical
    operands; the only round is the final 6dp, applied to identical
    doubles. Threshold compares the ROUNDED value in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = docs.select("doc_id", F.expr(T.tokens_spark("text")).alias("t")).filter(
        F.size("t") > 0
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nrm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    a = tf.select(F.col("doc_id").alias("doc_a"), "tok", F.col("tf").alias("tf_a"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "tok", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double") / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    return (
        dots.join(nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a")), "doc_a")
        .join(nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b")), "doc_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= _SPARSE_THRESHOLD)
        .select("doc_a", "doc_b", "cosine")
    )


# --- per-dimension robust feature scaling ---------------------------------

@query(
    "robust_scaler_features",
    oracle="""
WITH ex AS (
  SELECT vec_id, r.i - 1 AS i, embedding[r.i]::DOUBLE AS x
  FROM embeddings, range(1, 65) r(i)
), stats AS (
  SELECT i,
         round(quantile_cont(x, 0.5), 6) AS med,
         round(quantile_cont(x, 0.25), 6) AS q1,
         round(quantile_cont(x, 0.75), 6) AS q3
  FROM ex GROUP BY i
)
SELECT s.i, s.med, s.q1, s.q3,
       round(s.q3 - s.q1, 6) + 0.0 AS iqr,
       sum(CASE WHEN e.x < s.q1 - 1.5 * (s.q3 - s.q1)
                  OR e.x > s.q3 + 1.5 * (s.q3 - s.q1)
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       count(*)::BIGINT AS n
FROM ex e JOIN stats s USING (i)
GROUP BY s.i, s.med, s.q1, s.q3
""",
)
def robust_scaler_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension robust scaling statistics for the embedding corpus —
    median/IQR (the outlier-insensitive alternative to mean/std feature
    normalization) plus Tukey-fence outlier counts, the pre-training
    feature-QA table. One posexplode (×64, the fixed dim) → exact
    percentile aggregate per dimension → one join back for the fence
    counts; the dimension key gives 64 perfectly-balanced groups at any
    corpus size. Exact ``percentile`` ≙ DuckDB ``quantile_cont``; fences
    compare raw doubles against 6dp-rounded quantile arithmetic, which is
    deterministic in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    stats = ex.groupBy("i").agg(
        F.round(F.expr("percentile(x, 0.5)"), 6).alias("med"),
        F.round(F.expr("percentile(x, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(x, 0.75)"), 6).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ex.join(stats, "i")
        .groupBy("i", "med", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    (F.col("x") < F.col("q1") - 1.5 * iqr)
                    | (F.col("x") > F.col("q3") + 1.5 * iqr),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "i",
            "med",
            "q1",
            "q3",
            (F.round(iqr, 6) + F.lit(0.0)).alias("iqr"),
            "n_outliers",
            "n",
        )
    )


# --- watermark-delay late-data accounting ---------------------------------

_LATE_DELAYS_S = (0, 60, 300, 3600)


@query(
    "late_data_accounting",
    oracle=f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
pm AS (
  SELECT event_id, ts_us,
         max(ts_us) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM e
)
SELECT d.delay_s,
       sum(CASE WHEN pm.pmax IS NOT NULL
                 AND pm.ts_us < pm.pmax - d.delay_s::BIGINT * 1000000
                THEN 1 ELSE 0 END)::BIGINT AS n_late
FROM pm, (VALUES {", ".join(f"({d})" for d in _LATE_DELAYS_S)}) d(delay_s)
GROUP BY d.delay_s
""",
)
def late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing table: for each candidate watermark delay, how many
    events would be DROPPED as late (event time behind the running max of
    all prior arrivals by more than the delay)? Arrival order = event_id
    (the generator's ingestion order). This is the batch replay that picks
    the streaming pipeline's ``withWatermark`` horizon from data instead
    of folklore (the reference hard-codes 60 s —
    RealtimeSessionize.scala:105).

    The running prior-max uses ``with_global_prefix_max``
    (operators/global_order.py): deterministic banding + local window + one
    broadcast offsets row — NO single-partition global window even though
    the oracle states it that way. The delay dimension is a bounded ×{len(_LATE_DELAYS_S)}
    explode collapsed by one aggregate."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_prefix_max,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    pm = with_global_prefix_max(ev, ["event_id"], "ts_us", out_col="pmax")
    delays = F.array(*[F.lit(d).cast("long") for d in _LATE_DELAYS_S])
    return (
        pm.select("ts_us", "pmax", F.explode(delays).alias("delay_s"))
        .groupBy("delay_s")
        .agg(
            F.sum(
                F.when(
                    F.col("pmax").isNotNull()
                    & (F.col("ts_us") < F.col("pmax") - F.col("delay_s") * 1000000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_late")
        )
    )


# --- corpus n-gram novelty scoring ----------------------------------------

@query(
    "doc_ngram_novelty",
    oracle=f"""
WITH tok AS (SELECT doc_id, {T.tokens_duck('text')} AS t FROM documents),
sh AS (
  SELECT doc_id, {T.shingles_duck('t')} AS sh FROM tok
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM sh WHERE len(sh) > 0
), firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g
)
SELECT e.doc_id,
       count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       round(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) * 100.0
             / count(*), 6) + 0.0 AS novelty_pct
FROM ex e JOIN firsts f USING (g)
GROUP BY e.doc_id
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram novelty: per document, what fraction of its distinct
    3-gram shingles appear for the FIRST time (min doc_id order) — the
    curation score that separates fresh content from recombinations of
    already-seen text, and the streaming-ingest dual of dedup (novelty 0 ≈
    exact duplicate, low novelty ≈ template).

    Same scale skeleton as ``line_dedup_c4``: explode to (doc, gram) →
    map-side-combinable MIN per gram (state = distinct grams) → re-join on
    the gram key (co-partitioned with the aggregate, no second text
    shuffle) → per-doc rollup. The percent is an exact integer ratio
    rounded at 6dp."""
    return _novelty_frame(load_table(spark, sf_dir, "documents"))


def _novelty_frame(docs: DataFrame) -> DataFrame:
    """The ``doc_ngram_novelty`` pipeline over an arbitrary (doc_id, text)
    frame — shared by the registered query and bench.py's scale smoke.

    Unconditional ``repartition`` first: tokenize + shingle +
    array_distinct is the per-row CPU hot spot, and a small corpus arrives
    as ONE parquet split — without the spread the whole projection runs on
    a single core (measured 8× slower at sf0.1). Unconditional (rather
    than ``fan_out``'s partition-count probe) because this helper also
    receives DERIVED frames (bench's exploded 10× corpus), where the
    ``.rdd`` partition probe itself is pathologically expensive; the cost
    is one shuffle of raw doc bytes, strictly smaller than the gram-keyed
    exchange the first aggregate pays anyway."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(n_part).select(
        "doc_id", F.expr(T.tokens_spark("text")).alias("t")
    )
    # Three deliberate shape choices, all learned from the 10× scale
    # smoke (each alone made the operator serial AND quadratic per doc):
    # * `explode_outer` + post-generate null filter, NOT plain `explode`:
    #   Catalyst's InferFiltersFromGenerate adds `size(sh) > 0` for a
    #   non-outer explode and pushes it below the repartition exchange,
    #   inlining the ENTIRE tokenize+shingle tree into a pre-exchange
    #   Filter evaluated on the un-spread scan partition. The outer
    #   variant infers nothing; the explicit `g IS NOT NULL` sits above
    #   the Generate where it belongs.
    # * No user `filter(size(sh) > 0)` either — same pushdown+inlining.
    # * First-occurrence via a WINDOW over the gram partitioning, not an
    #   aggregate + rejoin: the join's derived `isnotnull(g)` constraint
    #   triggers the same inlined pushdown; the window needs the one
    #   gram-keyed exchange and adds no pushable predicate.
    sh = toks.select("doc_id", F.expr(T.shingles_spark("t")).alias("sh"))
    ex = sh.select("doc_id", F.explode_outer("sh").alias("g")).filter(
        F.col("g").isNotNull()
    )
    exw = ex.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("g"))
    )
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        exw.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.round(F.col("n_novel") * 100.0 / F.col("n_shingles"), 6)
                + F.lit(0.0)
            ).alias("novelty_pct"),
        )
    )


# --- exact equi-depth histogram -------------------------------------------

_EQD_BUCKETS = 8


@query(
    "equi_depth_histogram",
    oracle=f"""
WITH c AS (
  SELECT l_orderkey, l_linenumber,
         round(l_extendedprice * 100)::BIGINT AS cents
  FROM lineitem
), t AS (
  SELECT cents,
         ntile({_EQD_BUCKETS}) OVER (ORDER BY cents, l_orderkey, l_linenumber) AS bucket
  FROM c
)
SELECT bucket, count(*)::BIGINT AS n,
       min(cents)::BIGINT AS min_cents, max(cents)::BIGINT AS max_cents
FROM t GROUP BY bucket
""",
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-FREQUENCY histogram of line-item prices ({_EQD_BUCKETS}
    buckets) — the complement of ``order_value_histogram`` (equal-width)
    and ``price_percentiles`` (point quantiles): every bucket holds the
    same row count to ±1, with exact value boundaries, the statistic
    range-partitioners and CBO histograms are built from.

    SQL-standard ``ntile`` needs a total order over the DATA — the classic
    global-sort pinch — so the bucket assignment here rides
    ``with_global_rank`` + ``ntile_from_rank`` (operators/global_order.py):
    deterministic banding + local sort + one broadcast offsets row, no
    single-partition sort; the oracle states it as the global window and
    the value hash proves the rewrite exact (ties broken by the unique
    (orderkey, linenumber) suffix)."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        ntile_from_rank,
        with_global_rank,
    )

    c = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    ranked = with_global_rank(
        c,
        [F.col("cents").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_r",
        total_col="_n",
    )
    return (
        ranked.select(
            "cents",
            ntile_from_rank(F.col("_r"), F.col("_n"), _EQD_BUCKETS).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


# --- year-over-year growth ------------------------------------------------

@query(
    "orders_yoy_growth",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
         sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY nation, o_year
)
SELECT nation, o_year, rev_cents,
       lag(rev_cents) OVER (PARTITION BY nation ORDER BY o_year) AS prev_cents,
       round((rev_cents - lag(rev_cents) OVER (PARTITION BY nation ORDER BY o_year))::DOUBLE
             / lag(rev_cents) OVER (PARTITION BY nation ORDER BY o_year), 6) + 0.0
         AS yoy_growth
FROM rev
""",
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the lag-over-aggregated-
    series reporting pattern (distinct from ``orders_trend_decomposition``'s
    within-series moving average): one join-aggregate collapses the fact
    table to |nations|×|years| rows, then the lag window runs on that TINY
    series (25 partitions), so window cost is independent of fact-table
    size. First year per nation reports NULL growth (honest missing prior,
    not zero). Exact integer cents until the final 6dp ratio."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"))
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    prev = F.lag("rev_cents").over(w)
    return rev.select(
        "nation",
        "o_year",
        "rev_cents",
        prev.alias("prev_cents"),
        (
            F.round((F.col("rev_cents") - prev).cast("double") / prev, 6) + F.lit(0.0)
        ).alias("yoy_growth"),
    )


# --- chi-square contingency (category association) ------------------------

@query(
    "doc_source_contingency_chi2",
    oracle="""
WITH cells AS (
  SELECT source, lang, count(*)::BIGINT AS n FROM documents GROUP BY source, lang
), rows_ AS (SELECT source, sum(n)::BIGINT AS row_n FROM cells GROUP BY source),
cols_ AS (SELECT lang, sum(n)::BIGINT AS col_n FROM cells GROUP BY lang),
tot AS (SELECT sum(n)::BIGINT AS grand FROM cells)
SELECT c.source, c.lang, c.n,
       round(r.row_n * co.col_n / t.grand::DOUBLE, 6) + 0.0 AS expected,
       round(pow(c.n - r.row_n * co.col_n / t.grand::DOUBLE, 2)
             / (r.row_n * co.col_n / t.grand::DOUBLE), 6) + 0.0 AS chi2_contrib
FROM cells c
JOIN rows_ r USING (source)
JOIN cols_ co USING (lang)
CROSS JOIN tot t
""",
)
def doc_source_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency table for source × lang — is document
    language independent of its source? (The corpus-mixture audit that
    catches a crawler feeding one language from one domain.) Per-cell
    observed counts, expected counts under independence, and chi-square
    contributions; the global statistic is the SUM of the last column,
    deliberately left to the consumer because a cross-cell double sum is
    accumulation-order-dependent across engines while every per-cell value
    here is IEEE-deterministic (margins are exact integers; the only
    float ops are one division and one square on identical operands).

    Plan: one hash aggregate for the cells, two trivial re-aggregates for
    the margins, margins re-joined (broadcast — bounded by category
    cardinality, never corpus size), 1-row grand total crossJoin."""
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_ = cells.groupBy("source").agg(F.sum("n").alias("row_n"))
    cols_ = cells.groupBy("lang").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("grand"))
    e = F.col("row_n") * F.col("col_n") / F.col("grand").cast("double")
    return (
        cells.join(F.broadcast(rows_), "source")
        .join(F.broadcast(cols_), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n",
            (F.round(e, 6) + F.lit(0.0)).alias("expected"),
            (F.round(F.pow(F.col("n") - e, 2) / e, 6) + F.lit(0.0)).alias(
                "chi2_contrib"
            ),
        )
    )


# --- rolling 7-day distinct users -----------------------------------------

_DAY_US = 86_400_000_000


@query(
    "rolling_7d_distinct_users",
    oracle=f"""
WITH daily AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS day
  FROM events
), infl AS (
  SELECT DISTINCT user_id, day + k.k AS d
  FROM daily, range(0, 7) k(k)
)
SELECT d AS day, count(*)::BIGINT AS n_distinct_users
FROM infl GROUP BY d
""",
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT active users per day — the DAU/WAU rolling
    metric windows cannot express (COUNT(DISTINCT) over a sliding frame is
    unsupported, and collect_set frames hold the whole window in memory).
    The scalable rewrite: dedup to (user, active-day) pairs, explode each
    into its 7 influenced days (bounded ×7, the window length), dedup
    again, count per day. Both dedups are hash aggregates on fixed-width
    keys; state is O(users × days), never O(events). Days with no activity
    in range simply don't appear (join a calendar to densify — see
    ``gap_fill_hourly``)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.floor(F.unix_micros("ts") / _DAY_US).alias("day")
    ).distinct()
    infl = daily.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("d")
    ).distinct()
    return infl.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("n_distinct_users")
    )


# --- MinHash-LSH recall audit ---------------------------------------------

def _minhash_recall_oracle() -> str:
    from flink_realtime_sessionize_sample_spark.plans import llm_queries as L
    from flink_realtime_sessionize_sample_spark.operators import dedup as D

    mh = L._minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS).replace(
        "cand AS (", "mh_cand AS ("
    )
    if "mh_cand AS (" not in mh:
        # Not an assert (stripped under `python -O`): a silently failed
        # rename would collide with the outer cand CTE.
        raise ValueError("minhash-recall oracle rename did not match")
    return (
        L._DOC_SHINGLES_CTE
        + """
, ex AS (SELECT doc_id, len(sh) AS _n, unnest(sh) AS s FROM nonempty),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, _n,
           row_number() OVER (PARTITION BY doc_id ORDER BY _df ASC, s ASC) AS _pos
    FROM (SELECT doc_id, s, _n, count(*) OVER (PARTITION BY s) AS _df FROM ex)
  ) WHERE _pos <= _n - ceil(0.5 * _n) + 1
),
ex_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
),
tverified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM ex_cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
true_pairs AS (
  SELECT doc_a, doc_b, round(common::DOUBLE / uni, 6) AS jaccard
  FROM tverified WHERE common::DOUBLE / uni >= 0.5
)"""
        + mh
        + """
SELECT CAST(floor(t.jaccard * 10) AS INT) AS jaccard_band,
       count(*)::BIGINT AS n_true,
       sum(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_found,
       round(sum(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) + 0.0 AS recall
FROM true_pairs t
LEFT JOIN mh_cand m ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b
GROUP BY jaccard_band
"""
    )


@query("minhash_recall_audit", oracle=_minhash_recall_oracle())
def minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical MinHash-LSH recall per Jaccard band — the tuning readout
    for the dedup family: ground truth = the EXACT PPJoin Jaccard join
    (lossless), probe = the banded LSH candidate set; per 0.1-wide Jaccard
    band report how many true pairs the 12-hash/4-band scheme surfaced.
    This is how (num_hashes, bands) get chosen against the S-curve on the
    real corpus instead of on paper.

    Both sides are existing oracle-verified operators composed by one
    left join on the canonical (doc_a < doc_b) pair key + one small
    aggregate — no new candidate generation. Banding floors the 6dp-rounded
    Jaccard ×10 in IEEE doubles; both engines evaluate the identical
    expression, so boundary values land in the same band by construction.
    At 100 TB the exact side is the expensive one — which is the point:
    this audit runs on a SAMPLE to tune the cheap LSH side before the
    full-corpus LSH-only run."""
    from flink_realtime_sessionize_sample_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    true_pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    found = D.minhash_lsh_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b", F.lit(1).alias("_f")
    )
    return (
        true_pairs.join(found, ["doc_a", "doc_b"], "left")
        .groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("jaccard_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("_f"), F.lit(0))).cast("long").alias("n_found"),
            (
                F.round(
                    F.sum(F.coalesce(F.col("_f"), F.lit(0))).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("recall"),
        )
    )


# --- fully hash-checked KMeans (round 6) ----------------------------------

_KM_DIM = 64
_KM_K = 8
_KM_ITERS = 2


def _km_iter_duck(n: int) -> str:
    """One Lloyd round: integer-exact assignment + quantized recenter."""
    return f"""
d{n} AS (
  SELECT e.vec_id, c.cent_id, sum((e.xq - c.cq) * (e.xq - c.cq)) AS dist
  FROM exq e JOIN cents{n - 1} c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cent_id
),
a{n} AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
    FROM d{n}
  ) WHERE rn = 1
),
m{n} AS (
  SELECT a.cent_id, e.pos,
         CAST(round(sum(e.xq)::DOUBLE / count(*)) AS BIGINT) AS cq
  FROM a{n} a JOIN exq e ON a.vec_id = e.vec_id
  GROUP BY a.cent_id, e.pos
),
cents{n} AS (
  SELECT p.cent_id, p.pos, coalesce(m.cq, p.cq) AS cq
  FROM cents{n - 1} p
  LEFT JOIN m{n} m ON m.cent_id = p.cent_id AND m.pos = p.pos
)"""


def kmeans_exact_frames(emb: DataFrame):
    """The integer-exact Lloyd pipeline of ``kmeans_lloyd_2iter`` —
    returns (centroids (cent_id, pos, cq), final assignment
    (vec_id, cent_id)); shared with the hash-checked SemDeDup query.

    r15 opt: materialize() pins the quantized coordinate frame (consumed
    by the init + two joins per Lloyd round) and each round's assignment
    and centroid table, so round i+1's plan references round i's RESULT
    instead of nesting (and re-executing) its whole subtree — the same
    2^rounds plan-tree hazard as the BPE trainer and Weiszfeld loops."""
    exq = materialize(
        emb.select(
            "vec_id",
            F.posexplode(
                F.expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
            ).alias("pos0", "xq"),
        ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "xq")
    )
    cents = exq.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cent_id"), "pos", F.col("xq").alias("cq")
    )
    assign = None
    for _ in range(_KM_ITERS):
        d = (
            exq.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cent_id")
            .agg(F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))).alias("dist"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cent_id").asc())
        assign = materialize(
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cent_id")
        )
        means = (
            assign.join(exq, "vec_id")
            .groupBy("cent_id", "pos")
            .agg(
                F.round(F.sum("xq").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cq_new")
            )
        )
        cents = materialize(
            cents.join(means, ["cent_id", "pos"], "left")
            .select("cent_id", "pos", F.coalesce("cq_new", "cq").alias("cq"))
        )
    return cents, assign


@query(
    "kmeans_lloyd_2iter",
    oracle=f"""
WITH exq AS (
  SELECT vec_id, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM embeddings, range(1, {_KM_DIM + 1}) r(i)
),
cents0 AS (
  SELECT vec_id AS cent_id, pos, xq AS cq FROM exq WHERE vec_id < {_KM_K}
),
{",".join(_km_iter_duck(n) for n in range(1, _KM_ITERS + 1)).lstrip()},
sizes AS (SELECT cent_id, count(*) AS n FROM a{_KM_ITERS} GROUP BY cent_id)
SELECT c.cent_id, c.pos, c.cq AS c_e6, coalesce(s.n, 0)::BIGINT AS n_members
FROM cents{_KM_ITERS} c LEFT JOIN sizes s ON s.cent_id = c.cent_id
""",
)
def kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans as a fully VALUE-HASH-CHECKED distributed iterative
    algorithm: {_KM_ITERS} Lloyd rounds, k={_KM_K}, deterministic first-k
    init — the cross-engine-exact sibling of the pyspark.ml codebook
    (``ann_ivf_trained_topk``, which can only be bounds-audited because
    k-means|| init varies with partitioning). Here EVERY arithmetic step
    is order-independent: coordinates quantize to e6 integers per row, so
    squared distances are exact BIGINT sums (no float summation order),
    argmin ties break on cent_id, and recentring re-quantizes through
    round(sum/count) — an IEEE-deterministic ratio of exact integers —
    so both engines iterate bit-identical centroids (the PCA queries' e6
    trick applied to clustering). Empty clusters keep their previous
    centroid.

    Scale shape: the assignment joins each row against the 512-row
    broadcast centroid table and PARTIAL-AGGREGATES map-side, so the
    exchange carries k rows per vector, not k×d; recentring is one
    hash aggregate on (cent, dim). Output: the trained model itself —
    (cent_id, pos, c_e6, n_members), {_KM_K}×{_KM_DIM} rows."""
    cents, assign = kmeans_exact_frames(load_table(spark, sf_dir, "embeddings"))
    sizes = assign.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        cents.join(sizes, "cent_id", "left")
        .select(
            "cent_id",
            "pos",
            F.col("cq").alias("c_e6"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_members"),
        )
    )


@query(
    "semantic_dedup_exact_kmeans",
    oracle=f"""
WITH exq AS (
  SELECT vec_id, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM embeddings, range(1, {_KM_DIM + 1}) r(i)
),
cents0 AS (
  SELECT vec_id AS cent_id, pos, xq AS cq FROM exq WHERE vec_id < {_KM_K}
),
{",".join(_km_iter_duck(n) for n in range(1, _KM_ITERS + 1)).lstrip()},
e AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
asg AS (SELECT a.vec_id, a.cent_id, e.v, e.nrm FROM a{_KM_ITERS} a JOIN e ON e.vec_id = a.vec_id)
SELECT a.cent_id AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({T.dot_duck('a.v', 'b.v')} / (a.nrm * b.nrm), 6) AS cosine
FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
WHERE round({T.dot_duck('a.v', 'b.v')} / (a.nrm * b.nrm), 6) >= 0.4
""",
)
def semantic_dedup_exact_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the whole pipeline VALUE-HASH-CHECKED: clusters come
    from the integer-exact Lloyd rounds (``kmeans_lloyd_2iter`` — both
    engines iterate bit-identical centroids, so cluster membership is
    deterministic), then cosine ≥ 0.4 near-dup pairs are scored WITHIN
    clusters only — the end-to-end semantic dedup whose every emitted
    row the oracle reproduces, upgrading the pyspark.ml-codebook variant
    (``semantic_dedup_semdedup``, bounds-audited by necessity) to a full
    hash gate. Same scale shape: pair work is Σ|cluster|², every join an
    equi join on cent_id, no all-pairs scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, assign = kmeans_exact_frames(emb)
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(T.norm_spark("embedding")).alias("nrm"),
    )
    asg = assign.join(e, "vec_id")
    a = asg.select(
        "cent_id",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    b = asg.select(
        "cent_id",
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    cos = F.expr(T.dot_spark("_va", "_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, "cent_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= 0.4)
        .select(F.col("cent_id").alias("cluster"), "vec_a", "vec_b", "cosine")
    )


@query(
    "ann_ivf_exact_kmeans_topk",
    oracle=f"""
WITH exq AS (
  SELECT vec_id, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM embeddings, range(1, {_KM_DIM + 1}) r(i)
),
cents0 AS (
  SELECT vec_id AS cent_id, pos, xq AS cq FROM exq WHERE vec_id < {_KM_K}
),
{",".join(_km_iter_duck(n) for n in range(1, _KM_ITERS + 1)).lstrip()},
dq AS (
  SELECT e.vec_id, c.cent_id, sum((e.xq - c.cq) * (e.xq - c.cq)) AS dist
  FROM exq e JOIN cents{_KM_ITERS} c ON e.pos = c.pos
  WHERE e.vec_id % 100 = 0
  GROUP BY e.vec_id, c.cent_id
),
probe AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
    FROM dq
  ) WHERE rn <= 3
),
e AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
corpus_cells AS (SELECT a.vec_id, a.cent_id, e.v, e.nrm FROM a{_KM_ITERS} a JOIN e ON e.vec_id = a.vec_id),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM probe p
  JOIN corpus_cells c ON c.cent_id = p.cent_id
  JOIN e q ON q.vec_id = p.query_id
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank::INT AS rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_ivf_exact_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with the WHOLE index value-hash-checked: cells come
    from the integer-exact Lloyd rounds (deterministic membership both
    engines), queries (vec_id % 100 = 0) probe their nprobe=3 nearest
    cells by the same exact integer distance, candidates score by cosine
    rounded at 6dp with neighbor-id tie-break — every emitted (query,
    neighbor, rank, cosine) row oracle-reproduced, unlike the
    pyspark.ml-codebook IVF variants whose init forces bounds-style
    audits. Scale shape identical to ``ann_ivf_trained_topk``: bucketed
    candidate generation via the cell equi join, never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assign = kmeans_exact_frames(emb)
    exq = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
            )
        ).alias("pos0", "xq"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "xq")
    dq = (
        exq.filter(F.col("vec_id") % 100 == 0)
        .join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cent_id")
        .agg(
            F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))).alias(
                "dist"
            )
        )
    )
    wp = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cent_id").asc())
    probe = (
        dq.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 3)
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(T.norm_spark("embedding")).alias("nrm"),
    )
    corpus_cells = assign.join(e, "vec_id").select(
        "cent_id", F.col("vec_id").alias("c_id"), F.col("v").alias("c_v"), F.col("nrm").alias("c_nrm")
    )
    q = e.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("nrm").alias("q_nrm")
    )
    cos = F.expr(T.dot_spark("c_v", "q_v")) / (F.col("c_nrm") * F.col("q_nrm"))
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        probe.join(corpus_cells, "cent_id")
        .join(q, F.col("query_id") == F.col("q_id"))
        .filter(F.col("c_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("c_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --- hash-checked geometric median (round 6) -------------------------------

_GM_DIM = 64
_GM_ITERS = 2


def _gm_iter_duck(n: int) -> str:
    """One Weiszfeld step with per-point quantized contributions: exact
    BIGINT squared distances -> deterministic sqrt -> each point's
    numerator/denominator term rounded to an integer BEFORE the corpus
    sum, so the update is a ratio of exact integer sums."""
    return f"""
d{n} AS (
  SELECT e.vec_id, sqrt(sum((e.xq - g.gq) * (e.xq - g.gq))::DOUBLE) AS dist
  FROM exq e JOIN g{n - 1} g ON e.pos = g.pos
  GROUP BY e.vec_id
  HAVING sum((e.xq - g.gq) * (e.xq - g.gq)) > 0
),
num{n} AS (
  SELECT e.pos, sum(CAST(round(e.xq * 1000000.0 / d.dist) AS BIGINT))::BIGINT AS nq
  FROM exq e JOIN d{n} d ON e.vec_id = d.vec_id
  GROUP BY e.pos
),
den{n} AS (
  SELECT sum(CAST(round(1000000000000.0 / dist) AS BIGINT))::BIGINT AS dq,
         count(*)::BIGINT AS n_used
  FROM d{n}
),
g{n} AS (
  SELECT n.pos, CAST(round(n.nq * 1000000.0 / d.dq) AS BIGINT) AS gq
  FROM num{n} n CROSS JOIN den{n} d
)"""


@query(
    "geometric_median_embeddings",
    oracle=f"""
WITH exq AS (
  SELECT vec_id, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM embeddings, range(1, {_GM_DIM + 1}) r(i)
),
g0 AS (
  SELECT pos, CAST(round(sum(xq)::DOUBLE / count(*)) AS BIGINT) AS gq
  FROM exq GROUP BY pos
),
{",".join(_gm_iter_duck(n) for n in range(1, _GM_ITERS + 1)).lstrip()}
SELECT g.pos, m.gq AS mean_e6, g.gq AS gmedian_e6,
       (SELECT n_used FROM den{_GM_ITERS})::BIGINT AS n_points
FROM g{_GM_ITERS} g JOIN g0 m ON m.pos = g.pos
""",
)
def geometric_median_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of the embedding corpus — the outlier-robust
    centroid (50% breakdown point vs the mean's 0%) behind robust
    aggregation and poisoning-resistant averaging — via {_GM_ITERS}
    VALUE-HASH-CHECKED Weiszfeld iterations seeded from the quantized
    mean.

    Same determinism discipline as ``kmeans_lloyd_2iter``: coordinates
    quantize to e6 integers; per-point squared distances are exact BIGINT
    sums; dist = sqrt(int) is one IEEE-deterministic double per point;
    and crucially each point's Weiszfeld terms (x_ij/d_i, 1/d_i) are
    ROUNDED TO INTEGERS BEFORE the corpus-wide sum, so the update is a
    ratio of exact integer sums — no float summation order anywhere.
    Points coincident with the current iterate (dist 0) drop out of that
    round, the standard Weiszfeld-at-a-vertex guard.

    Scale shape: each iteration is (join each row against the 64-row
    broadcast iterate -> per-vector BIGINT aggregate -> per-dim integer
    aggregate + one scalar) — two hash aggregates per round, state 64
    rows regardless of corpus size; nothing wider than (vec_id, pos, xq)
    ever shuffles. Output: (pos, mean_e6, gmedian_e6, n_points) — the
    mean kept alongside to show the robust shift."""
    return geometric_median_frame(load_table(spark, sf_dir, "embeddings"))


def geometric_median_frame(emb: DataFrame) -> DataFrame:
    """The Weiszfeld pipeline over an arbitrary (vec_id, embedding) frame —
    shared by the registered query and the robustness unit test.

    r15 opt: the quantized coordinate frame feeds the seed mean + two
    consumers per Weiszfeld round — materialize() pins one scan+explode
    instead of five; each round's distance frame and 64-row iterate are
    pinned too, so round i+1's plan does not nest (and re-execute) round
    i's whole subtree (the same 2^rounds plan-tree hazard as the BPE
    trainer)."""
    exq = materialize(
        emb.select(
            "vec_id",
            F.posexplode(
                F.expr(
                    "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
                )
            ).alias("pos0", "xq"),
        ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "xq")
    )
    mean = materialize(
        exq.groupBy("pos").agg(
            F.round(F.sum("xq").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("gq")
        )
    )
    g = mean
    den = None
    for _ in range(_GM_ITERS):
        ss = (
            exq.join(F.broadcast(g), "pos")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("xq") - F.col("gq")) * (F.col("xq") - F.col("gq"))).alias(
                    "ss"
                )
            )
        )
        d = materialize(
            ss.filter(F.col("ss") > 0).select(
                "vec_id", F.sqrt(F.col("ss").cast("double")).alias("dist")
            )
        )
        num = (
            exq.join(d, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum(
                    F.round(F.col("xq") * F.lit(1000000.0) / F.col("dist")).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("nq")
            )
        )
        den = d.agg(
            F.sum(F.round(F.lit(1000000000000.0) / F.col("dist")).cast("long"))
            .cast("long")
            .alias("dq"),
            F.count(F.lit(1)).alias("n_used"),
        )
        g = materialize(num.crossJoin(F.broadcast(den)).select(
            "pos",
            F.round(F.col("nq") * F.lit(1000000.0) / F.col("dq"))
            .cast("long")
            .alias("gq"),
        ))
    return (
        g.join(mean.select("pos", F.col("gq").alias("mean_e6")), "pos")
        .crossJoin(F.broadcast(den.select(F.col("n_used").cast("long").alias("n_points"))))
        .select("pos", "mean_e6", F.col("gq").alias("gmedian_e6"), "n_points")
    )


# --- Johnson-Lindenstrauss projection + ANN recall audit (round 6) ---------

_JL_IN = 64
_JL_OUT = 16  # sqrt(16) = 4: the JL normalization divides exactly

_JL_SIGN_SQL = (
    "CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END"
)


def _jl_signs_spark() -> str:
    h = T.h48_spark("concat(cast(i as string), '|', cast(j as string))")
    return _JL_SIGN_SQL.format(h=h)


def _jl_signs_duck() -> str:
    h = T.h48_duck("i.i::VARCHAR || '|' || j.j::VARCHAR")
    return _JL_SIGN_SQL.format(h=h)


_JL_PROJ_DUCK = f"""
exq AS (
  SELECT vec_id, r.i AS pos,
         CAST(round(embedding[r.i]::DOUBLE * 1000000) AS BIGINT) AS xq
  FROM embeddings, range(1, {_JL_IN + 1}) r(i)
),
signs AS (
  SELECT i.i, j.j, {{sign}} AS r
  FROM range(1, {_JL_IN + 1}) i(i), range(1, {_JL_OUT + 1}) j(j)
),
proj AS (
  SELECT e.vec_id, s.j AS pos,
         CAST(round(sum(e.xq * s.r)::DOUBLE / 4.0) AS BIGINT) AS pq
  FROM exq e JOIN signs s ON s.i = e.pos
  GROUP BY e.vec_id, s.j
)"""


def _jl_proj_frames(emb: DataFrame):
    """(vec_id, pos 1..16, pq) — the e6-quantized sign-matrix projection.

    The ±1 matrix is pseudo-random from the portable 48-bit hash of the
    (source dim, target dim) pair — 1024 broadcast rows, identical in both
    engines. Each projected coordinate is an exact BIGINT sum of signed
    e6 coordinates, re-normalized by the exact sqrt(16)=4 through one
    deterministic round(int/4.0)."""
    spark = emb.sparkSession
    exq = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"
            )
        ).alias("pos0", "xq"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "xq")
    signs = (
        spark.range(1, _JL_IN + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _JL_OUT + 1).select(F.col("id").alias("j")))
        .select("i", "j", F.expr(_jl_signs_spark()).alias("r"))
    )
    return (
        exq.join(F.broadcast(signs), exq.pos == signs.i)
        .groupBy("vec_id", "j")
        .agg(
            F.round(F.sum(F.col("xq") * F.col("r")).cast("double") / F.lit(4.0))
            .cast("long")
            .alias("pq")
        )
        .select("vec_id", F.col("j").alias("pos"), "pq")
    )


@query(
    "jl_project_embeddings",
    oracle="WITH "
    + _JL_PROJ_DUCK.format(sign=_jl_signs_duck()).lstrip()
    + "\nSELECT vec_id, pos, pq FROM proj",
)
def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    deterministic ±1 sign matrix (Achlioptas 2003) — the dimensionality
    reduction that makes downstream ANN 4x cheaper per distance while
    approximately preserving pairwise geometry.

    Fully hash-checked: the sign matrix derives from the portable 48-bit
    hash (no engine RNG), inputs quantize to e6 integers, and each output
    coordinate is an exact signed BIGINT sum normalized by the exact
    sqrt(16)=4 — one deterministic round per value. Scale shape: the sign
    matrix is a 1024-row broadcast; the projection is one map-side-combined
    hash aggregate whose exchange carries exactly the OUTPUT rows (n x 16
    fixed-width) — the minimum data motion that materializes a projection."""
    return _jl_proj_frames(load_table(spark, sf_dir, "embeddings"))


@query(
    "ann_jl_recall_audit",
    oracle="WITH "
    + _JL_PROJ_DUCK.format(sign=_jl_signs_duck()).lstrip()
    + f""",
c AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
q AS (SELECT * FROM c WHERE vec_id % 100 = 0),
exact_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c CROSS JOIN q WHERE c.vec_id <> q.vec_id
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM exact_scored
  ) WHERE rn <= 5
),
ssq AS (SELECT vec_id, sum(pq * pq) AS s2 FROM proj GROUP BY vec_id),
pq_q AS (SELECT * FROM proj WHERE vec_id % 100 = 0),
jl_scored AS (
  SELECT p.vec_id AS query_id, cvec.vec_id AS neighbor_id,
         round(sum(cvec.pq * p.pq)::DOUBLE
               / (sqrt(sq.s2::DOUBLE) * sqrt(sc.s2::DOUBLE)), 6) AS jcos
  FROM pq_q p
  JOIN proj cvec ON cvec.pos = p.pos AND cvec.vec_id <> p.vec_id
  JOIN ssq sq ON sq.vec_id = p.vec_id
  JOIN ssq sc ON sc.vec_id = cvec.vec_id
  GROUP BY p.vec_id, cvec.vec_id, sq.s2, sc.s2
),
jl_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY jcos DESC, neighbor_id ASC) AS rn
    FROM jl_scored
  ) WHERE rn <= 5
)
SELECT (SELECT count(DISTINCT query_id) FROM exact_top)::BIGINT AS n_queries,
       (SELECT count(*) FROM exact_top)::BIGINT AS n_expected,
       (SELECT count(*) FROM exact_top e JOIN jl_top j
          ON e.query_id = j.query_id AND e.neighbor_id = j.neighbor_id)::BIGINT AS n_hit,
       round((SELECT count(*) FROM exact_top e JOIN jl_top j
          ON e.query_id = j.query_id AND e.neighbor_id = j.neighbor_id)::DOUBLE
         / (SELECT count(*) FROM exact_top), 6) + 0.0 AS recall
""",
)
def ann_jl_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force ANN in the 16-dim JL-projected space against
    exact 64-dim cosine top-5 — the audit that justifies (or rejects) the
    4x-cheaper projected index before it replaces the exact one, same
    methodology as ``minhash_recall_audit`` for the LSH tier.

    Both sides are deterministic: the exact side is the verified
    ``ann_cosine_topk`` pattern; the JL side scores integer dot products
    of the hash-checked projection (exact BIGINT sums; norms are sqrts of
    exact integers) rounded at 6dp before ranking. Scale shape: queries
    broadcast in both spaces; the JL scoring joins the n x 16 projection
    against 16-row-per-query broadcasts with map-side partial aggregation;
    the audit output is one row.

    Expected readout on THIS testdata: low (~0.05 at sf0.1). The synthetic
    embeddings are near-isotropic — a query's top-5 sits at cosine
    ~0.40..0.33 with dozens of near-ties within 0.01 below, while a 16-dim
    JL perturbs cosines by O(1/sqrt(16)) ~ 0.25 — so the projection
    legitimately cannot keep a top-5 that barely exists (same degeneracy
    documented for ``doc_sparse_cosine_pairs``). On real clustered
    embeddings the same audit reads out the true recall/cost trade; THAT
    measurement, not a hardcoded assumption, is what this query ships."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact_top, jl_top = _jl_vs_exact_rankings(emb)
    exact_top = exact_top.select("query_id", "neighbor_id")
    jl_top = jl_top.select("query_id", "neighbor_id")
    hits = exact_top.join(jl_top, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    expected = exact_top.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_expected"),
    )
    return (
        expected.crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            "n_expected",
            F.col("n_hit").cast("long").alias("n_hit"),
            (
                F.round(F.col("n_hit").cast("double") / F.col("n_expected"), 6)
                + F.lit(0.0)
            ).alias("recall"),
        )
    )


def _jl_vs_exact_rankings(emb: DataFrame, k: int = 5):
    """(exact top-k with ``rnk``, JL top-k with ``rn``) for the %100 query
    set — shared by the recall audit and the nDCG audit."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk,
    )

    exact_top = cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), k=k).select(
        "query_id", "neighbor_id", F.col("rank").alias("rnk")
    )
    proj = _jl_proj_frames(emb)
    ssq = proj.groupBy("vec_id").agg(F.sum(F.col("pq") * F.col("pq")).alias("s2"))
    pq_q = proj.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("pq").alias("qq")
    )
    dots = (
        proj.join(F.broadcast(pq_q), "pos")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("pq") * F.col("qq")).alias("dot"))
    )
    jl_scored = (
        dots.join(
            F.broadcast(ssq.select(F.col("vec_id").alias("query_id"), F.col("s2").alias("sq"))),
            "query_id",
        )
        .join(ssq.select(F.col("vec_id").alias("neighbor_id"), F.col("s2").alias("sc")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("sq").cast("double")) * F.sqrt(F.col("sc").cast("double"))),
                6,
            ).alias("jcos"),
        )
    )
    wj = Window.partitionBy("query_id").orderBy(F.col("jcos").desc(), F.col("neighbor_id").asc())
    jl_top = (
        jl_scored.withColumn("rn", F.row_number().over(wj))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "rn")
    )
    return exact_top, jl_top


# Quantized DCG discount terms: rel in 0..5, rank in 1..5 — round(rel*1e6 /
# log2(rank+1)) as integers so per-query DCG is an exact integer sum (float
# sum order can differ across engines; 25 possible terms, none near a .5
# rounding boundary).
_NDCG_K = 5


@query(
    "ndcg_jl_ranking",
    oracle="WITH "
    + _JL_PROJ_DUCK.format(sign=_jl_signs_duck()).lstrip()
    + f""",
c AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
q AS (SELECT * FROM c WHERE vec_id % 100 = 0),
exact_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c CROSS JOIN q WHERE c.vec_id <> q.vec_id
),
exact_top AS (
  SELECT query_id, neighbor_id, rn AS rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM exact_scored
  ) WHERE rn <= {_NDCG_K}
),
ssq AS (SELECT vec_id, sum(pq * pq) AS s2 FROM proj GROUP BY vec_id),
pq_q AS (SELECT * FROM proj WHERE vec_id % 100 = 0),
jl_scored AS (
  SELECT p.vec_id AS query_id, cvec.vec_id AS neighbor_id,
         round(sum(cvec.pq * p.pq)::DOUBLE
               / (sqrt(sq.s2::DOUBLE) * sqrt(sc.s2::DOUBLE)), 6) AS jcos
  FROM pq_q p
  JOIN proj cvec ON cvec.pos = p.pos AND cvec.vec_id <> p.vec_id
  JOIN ssq sq ON sq.vec_id = p.vec_id
  JOIN ssq sc ON sc.vec_id = cvec.vec_id
  GROUP BY p.vec_id, cvec.vec_id, sq.s2, sc.s2
),
jl_top AS (
  SELECT query_id, neighbor_id, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY jcos DESC, neighbor_id ASC) AS rn
    FROM jl_scored
  ) WHERE rn <= {_NDCG_K}
),
dcg AS (
  SELECT j.query_id,
         sum(CAST(round(({_NDCG_K + 1} - e.rnk) * 1000000.0 / log2(j.rn + 1))
                  AS BIGINT))::BIGINT AS dcg_micro
  FROM jl_top j JOIN exact_top e
    ON e.query_id = j.query_id AND e.neighbor_id = j.neighbor_id
  GROUP BY j.query_id
),
idcg AS (
  SELECT sum(CAST(round(({_NDCG_K + 1} - r.i) * 1000000.0 / log2(r.i + 1))
                  AS BIGINT))::BIGINT AS idcg_micro
  FROM range(1, {_NDCG_K + 1}) r(i)
)
SELECT q.query_id,
       coalesce(d.dcg_micro, 0)::BIGINT AS dcg_micro,
       CAST(round(coalesce(d.dcg_micro, 0) * 1000000.0 / i.idcg_micro) AS BIGINT)
         AS ndcg_micro
FROM (SELECT DISTINCT query_id FROM exact_top) q
LEFT JOIN dcg d ON d.query_id = q.query_id
CROSS JOIN idcg i
""",
)
def ndcg_jl_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the JL-projected ranking against exact cosine as
    ground truth (graded relevance = 6 - exact rank) — the
    position-sensitive IR metric that complements ``ann_jl_recall_audit``'s
    set-overlap recall: a projection that finds the right neighbors in the
    wrong ORDER scores lower here.

    Determinism: each DCG term rel/log2(rank+1) is one deterministic
    double over small integers, quantized to micro-units BEFORE the
    per-query sum — so DCG is an exact integer sum and nDCG one rounded
    ratio against the constant quantized ideal. Scale: both rankings are
    the already-audited top-k frames; the metric joins two k-row-per-query
    frames and aggregates per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact_top, jl_top = _jl_vs_exact_rankings(emb, k=_NDCG_K)
    dcg = (
        jl_top.join(exact_top, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(
                    (F.lit(_NDCG_K + 1) - F.col("rnk"))
                    * F.lit(1000000.0)
                    / F.log2(F.col("rn") + 1)
                ).cast("long")
            )
            .cast("long")
            .alias("dcg_micro")
        )
    )
    idcg = spark.range(1, _NDCG_K + 1).agg(
        F.sum(
            F.round(
                (F.lit(_NDCG_K + 1) - F.col("id"))
                * F.lit(1000000.0)
                / F.log2(F.col("id") + 1)
            ).cast("long")
        )
        .cast("long")
        .alias("idcg_micro")
    )
    return (
        exact_top.select("query_id")
        .distinct()
        .join(dcg, "query_id", "left")
        .crossJoin(F.broadcast(idcg))
        .select(
            "query_id",
            F.coalesce("dcg_micro", F.lit(0)).cast("long").alias("dcg_micro"),
            F.round(
                F.coalesce("dcg_micro", F.lit(0)) * F.lit(1000000.0)
                / F.col("idcg_micro")
            )
            .cast("long")
            .alias("ndcg_micro"),
        )
    )


# --- MinHash S-curve: analytic design vs empirical recall (round 6) --------


def _s_curve_oracle() -> str:
    """Analytic band-collision probability joined against the empirical
    recall audit (its full oracle embedded as a subquery)."""
    from flink_realtime_sessionize_sample_spark.operators.dedup import (
        DEFAULT_BANDS,
        DEFAULT_NUM_HASHES,
    )

    r = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    if not (r == 3 and DEFAULT_BANDS == 4):
        # Not an assert (stripped under `python -O`): the unrolled powers
        # below are only correct for r=3, b=4.
        raise ValueError("unrolled powers below assume r=3, b=4")
    return f"""
WITH a AS (
  SELECT g.band AS jaccard_band,
         round((2 * g.band + 1) / 20.0, 6) AS j_mid,
         -- p = 1 - (1 - j^3)^4, unrolled to pure multiplications so both
         -- engines evaluate the identical IEEE expression (no pow()):
         round(1 - ((1 - j.j * j.j * j.j) * (1 - j.j * j.j * j.j))
                   * ((1 - j.j * j.j * j.j) * (1 - j.j * j.j * j.j)), 6)
           AS p_analytic
  FROM range(5, 10) g(band),
       LATERAL (SELECT (2 * g.band + 1) / 20.0 AS j) j
)
SELECT a.jaccard_band::INT AS jaccard_band, a.j_mid, a.p_analytic,
       coalesce(e.n_true, 0)::BIGINT AS n_true,
       coalesce(e.n_found, 0)::BIGINT AS n_found,
       e.recall
FROM a LEFT JOIN ({_minhash_recall_oracle()}) e
  ON e.jaccard_band = a.jaccard_band
"""


@query("minhash_s_curve", oracle=_s_curve_oracle())
def minhash_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH DESIGN readout: the analytic S-curve P(candidate | J) =
    1 - (1 - J^r)^b for the configured 12-hash / 4-band scheme, side by
    side with the measured per-band recall from ``minhash_recall_audit``
    — one table answering "is the corpus behaving like the theory says
    the parameters should?", which is how (r, b) get re-tuned when it
    isn't.

    Determinism: the analytic probability is unrolled to pure
    multiplications of the exact band-midpoint double (no pow(), whose
    libm rounding may differ per engine); the empirical side is the
    already-verified audit frame. Bands 5-9 (the J >= 0.5 true-pair
    region); bands with no true pairs keep NULL recall and zero counts."""
    from flink_realtime_sessionize_sample_spark.operators.dedup import (
        DEFAULT_BANDS,
        DEFAULT_NUM_HASHES,
    )

    r = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    if not (r == 3 and DEFAULT_BANDS == 4):
        # Mirrors the oracle builder's guard (not an assert: `python -O`).
        raise ValueError("unrolled powers below assume r=3, b=4")
    j = (2 * F.col("band") + 1) / F.lit(20.0)
    j3 = F.lit(1.0) - j * j * j
    analytic = (
        spark.range(5, 10)
        .select(F.col("id").alias("band"))
        .select(
            F.col("band").cast("int").alias("jaccard_band"),
            F.round(j, 6).alias("j_mid"),
            F.round(F.lit(1) - (j3 * j3) * (j3 * j3), 6).alias("p_analytic"),
        )
    )
    emp = minhash_recall_audit(spark, sf_dir)
    return (
        analytic.join(F.broadcast(emp), "jaccard_band", "left")
        .select(
            "jaccard_band",
            "j_mid",
            "p_analytic",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            "recall",
        )
    )


# --- token concentration: exact Gini coefficient (round 6) -----------------


@query(
    "token_gini_concentration",
    oracle=f"""
WITH d AS (
  SELECT doc_id, len({T.tokens_duck('text')})::BIGINT AS dl FROM documents
),
rk AS (
  SELECT dl, row_number() OVER (ORDER BY dl ASC, doc_id ASC) AS r FROM d
),
s AS (
  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s0, sum(r * dl)::BIGINT AS s1
  FROM rk
)
SELECT n AS n_docs, s0 AS total_tokens,
       CAST(round((2 * s1 - (n + 1) * s0) * 1000000.0 / (n::DOUBLE * s0)) AS BIGINT)
         AS gini_micro
FROM s
""",
)
def token_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of token mass across documents — the
    corpus-balance readout (0 = every doc the same length, →1 = all
    tokens in a few documents) that decides whether length-stratified
    sampling or packing-bucket rebalancing is needed before training.

    Exact under ties: with ranks from ANY deterministic total order
    (length, doc_id), the rank-weighted sum Σ r·x is tie-invariant in
    aggregate, so G = (2Σr·x - (n+1)Σx) / (nΣx) needs no tie averaging.
    Every term is an exact BIGINT sum; the single division is one
    deterministic double, emitted in micro-units. The rank rides the
    distributed ``with_global_rank`` pass (deterministic banding + broadcast
    offsets) — no single-partition sort at any corpus size."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.expr(T.tokens_spark("text"))).cast("long").alias("dl")
    )
    rk = with_global_rank(d, ["dl", "doc_id"], rank_col="r")
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").cast("long").alias("s0"),
        F.sum(F.col("r") * F.col("dl")).cast("long").alias("s1"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("s0").alias("total_tokens"),
        F.round(
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0"))
            * F.lit(1000000.0)
            / (F.col("n").cast("double") * F.col("s0"))
        )
        .cast("long")
        .alias("gini_micro"),
    )


# --- round 7: ZCA whitening via Newton-Schulz inverse square root ----------

_ZCA_ITERS = 12
_ZCA_RIDGE_DIV = 100 * _PCA_DIM  # ridge = trace/(100 d), >= 1 e6-unit


def _zca_iter_duck(k: int) -> str:
    """One quantized Newton-Schulz step: P = Z·Y (e6), T = (3I - P)/2,
    Y ← Y·T, Z ← T·Z — each an equi-join matmul + round-renormalize."""
    return f"""
p{k} AS MATERIALIZED (
  SELECT z.i AS i, y.j AS j,
         CAST(round(sum(z.v * y.v)::DOUBLE / 1000000) AS BIGINT) AS v
  FROM z{k - 1} z JOIN y{k - 1} y ON z.j = y.i GROUP BY z.i, y.j
),
t{k} AS MATERIALIZED (
  SELECT i, j,
         CAST(round((CASE WHEN i = j THEN 3000000 ELSE 0 END - v)::DOUBLE / 2)
              AS BIGINT) AS v
  FROM p{k}
),
y{k} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j,
         CAST(round(sum(a.v * b.v)::DOUBLE / 1000000) AS BIGINT) AS v
  FROM y{k - 1} a JOIN t{k} b ON a.j = b.i GROUP BY a.i, b.j
),
z{k} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j,
         CAST(round(sum(a.v * b.v)::DOUBLE / 1000000) AS BIGINT) AS v
  FROM t{k} a JOIN z{k - 1} b ON a.j = b.i GROUP BY a.i, b.j
)"""


def _zca_oracle() -> str:
    iters = ",".join(_zca_iter_duck(k) for k in range(1, _ZCA_ITERS + 1))
    return f"""
WITH ex AS (
  SELECT vec_id, r.i AS i, embedding[r.i]::DOUBLE AS v
  FROM embeddings, range(1, {_PCA_DIM + 1}) r(i)
), cov AS (
  SELECT a.i - 1 AS i, b.i - 1 AS j, round(covar_samp(a.v, b.v), 6) AS c
  FROM ex a JOIN ex b USING (vec_id)
  WHERE a.i <= b.i
  GROUP BY a.i, b.i
), cfull AS MATERIALIZED (
  SELECT i, j, CAST(round(c * 1000000) AS BIGINT) AS c_int FROM cov
  UNION ALL
  SELECT j, i, CAST(round(c * 1000000) AS BIGINT) FROM cov WHERE i < j
),
tr AS (SELECT sum(CASE WHEN i = j THEN c_int ELSE 0 END)::BIGINT AS t FROM cfull),
rdg AS (SELECT greatest(1, t // {_ZCA_RIDGE_DIV})::BIGINT AS r, t FROM tr),
trr AS (SELECT (t + {_PCA_DIM} * r)::BIGINT AS tr2 FROM rdg),
y0 AS MATERIALIZED (
  SELECT i, j,
         CAST(round((c_int + CASE WHEN i = j THEN r ELSE 0 END)::DOUBLE
                    / tr2::DOUBLE * 1000000) AS BIGINT) AS v
  FROM cfull, rdg, trr
),
z0 AS MATERIALIZED (
  SELECT a.i::INT AS i, b.i::INT AS j,
         (CASE WHEN a.i = b.i THEN 1000000 ELSE 0 END)::BIGINT AS v
  FROM range(0, {_PCA_DIM}) a(i), range(0, {_PCA_DIM}) b(i)
),
{iters.lstrip()}
SELECT z.i, z.j,
       CAST(round(z.v::DOUBLE / sqrt(tr2::DOUBLE / 1000000.0)) AS BIGINT)
         AS w_e6
FROM z{_ZCA_ITERS} z, trr
"""


@query("zca_whitening_newton_schulz", oracle=_zca_oracle())
def zca_whitening_newton_schulz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening matrix W = (C + εI)^{-1/2} of the embedding corpus —
    the decorrelation transform (Bell & Sejnowski 1997; Kessy+ 2018
    "Optimal Whitening and Decorrelation") feature pipelines apply before
    contrastive training or covariance-sensitive indexing — computed
    DISTRIBUTED by {_ZCA_ITERS} Newton-Schulz iterations (Higham,
    *Functions of Matrices* §6.3) on the trace-normalized covariance:
    Y₀ = C'/tr(C'), Z₀ = I, then Yₖ₊₁ = Yₖ(3I − ZₖYₖ)/2,
    Zₖ₊₁ = (3I − ZₖYₖ)/2·Zₖ → Z∞ = (C'/tr)^{-1/2}; W = Z/√tr. The ridge
    ε = tr/(100·d) is the standard ZCA epsilon, and trace normalization
    puts every eigenvalue in (0,1) so the iteration is globally
    convergent; at d = {_PCA_DIM} the quantized fixed point lands by
    iteration ~10 (max |WCW − I| ≈ 0.013, the ridge+quantization floor —
    asserted in tests).

    Scale shape: the corpus appears ONLY in the covariance
    (operators/vector_stats.py, per-Arrow-batch BLAS partials); every
    iteration is two d×d equi-join matmuls + one elementwise map on
    d² = {_PCA_DIM * _PCA_DIM}-row frames — O(d³) work per step regardless
    of corpus size, the same contract as ``embedding_pca_power_iteration``.
    Each step's frames are pinned (``materialize_loop``) to keep the
    unrolled plan flat.

    Cross-engine exactness: the covariance is 6dp-rounded and e6-quantized
    (the verified ``embedding_covariance`` numbers); every matmul
    renormalizes through round(Σ/1e6) — a deterministic double op on exact
    int64 sums (|Σ| < 2⁵³) — and the halving round(x/2) hits exact .5
    ties, which BOTH engines round half-away-from-zero; so the two engines
    iterate bit-identical integer matrices and the full d² result
    value-hashes with no tolerance."""
    from flink_realtime_sessionize_sample_spark.operators.vector_stats import (
        embedding_covariance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cov = embedding_covariance(emb, "embedding", dim=_PCA_DIM)
    upper = cov.select(
        "i", "j", F.round(F.col("cov") * 1000000).cast("long").alias("c_int")
    )
    cfull = upper.unionByName(
        upper.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c_int"
        )
    )
    tr = cfull.filter(F.col("i") == F.col("j")).agg(
        F.sum("c_int").cast("long").alias("t")
    )
    rdg = tr.select(
        F.greatest(F.lit(1).cast("long"), F.expr(f"t div {_ZCA_RIDGE_DIV}")).alias("r"),
        "t",
    )
    trr = rdg.select((F.col("t") + _PCA_DIM * F.col("r")).cast("long").alias("tr2"))
    y = materialize(
        cfull.crossJoin(F.broadcast(rdg))
        .crossJoin(F.broadcast(trr))
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("c_int")
                    + F.when(F.col("i") == F.col("j"), F.col("r")).otherwise(0)
                ).cast("double")
                / F.col("tr2").cast("double")
                * 1000000
            )
            .cast("long")
            .alias("v"),
        )
    )
    z = (
        spark.range(_PCA_DIM)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(spark.range(_PCA_DIM).select(F.col("id").cast("int").alias("j")))
        .select(
            "i",
            "j",
            F.when(F.col("i") == F.col("j"), 1000000)
            .otherwise(0)
            .cast("long")
            .alias("v"),
        )
    )

    def _matmul(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.alias("a")
            .join(b.alias("b"), F.col("a.j") == F.col("b.i"))
            .groupBy(F.col("a.i").alias("i"), F.col("b.j").alias("j"))
            .agg(
                F.round(F.sum(F.col("a.v") * F.col("b.v")).cast("double") / 1000000)
                .cast("long")
                .alias("v")
            )
        )

    for _ in range(_ZCA_ITERS):
        p = _matmul(z, y)
        t_half = p.select(
            "i",
            "j",
            F.round(
                (
                    F.when(F.col("i") == F.col("j"), 3000000).otherwise(0)
                    - F.col("v")
                ).cast("double")
                / 2
            )
            .cast("long")
            .alias("v"),
        )
        t_half = materialize_loop(t_half)
        y = materialize_loop(_matmul(y, t_half))
        z = materialize_loop(_matmul(t_half, z))

    return z.crossJoin(F.broadcast(trr)).select(
        "i",
        "j",
        F.round(
            F.col("v").cast("double")
            / F.sqrt(F.col("tr2").cast("double") / 1000000.0)
        )
        .cast("long")
        .alias("w_e6"),
    )
