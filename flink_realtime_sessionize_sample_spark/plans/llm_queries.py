"""LLM-training-data operator queries: text analysis, dedup, similarity,
multimodal — SURVEY.md §7 phase 3 over the `documents` / `embeddings` tables.

None of this exists in the reference (SURVEY.md §2.9); it is the rebuild's
beyond-parity scope for the 100 TB training-data-pipeline design point.

Every oracle below is generated from the SAME dialect-paired primitives as
the Spark side (``functions/text.py``) — salted-md5 48-bit hashing, identical
tokenization, double-precision vector math — so the driver's value-hash gate
checks the full pipeline, not a lookalike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.functions import text as T
from flink_realtime_sessionize_sample_spark.operators import dedup as D
from flink_realtime_sessionize_sample_spark.operators.mat import materialize
from flink_realtime_sessionize_sample_spark.operators.multimodal import (
    attach_binary_payload,
    attach_real_media,
    decode_media,
    extract_byte_features,
    real_decode,
    resize_media,
    sample_frames,
)
from flink_realtime_sessionize_sample_spark.operators.similarity import cosine_topk
from flink_realtime_sessionize_sample_spark.plans.registry import query
from flink_realtime_sessionize_sample_spark.sources.registry import load_table

_TOKS_D = T.tokens_duck("text")
_TOKS_S = T.tokens_spark("text")

# Shared DuckDB prelude: documents with tokens + distinct 3-shingles.
_DOC_SHINGLES_CTE = f"""
WITH tok AS (SELECT doc_id, text, {_TOKS_D} AS t FROM documents),
base AS (
  SELECT doc_id, text, t, {T.shingles_duck('t')} AS sh FROM tok
),
nonempty AS (SELECT doc_id, sh FROM base WHERE len(sh) > 0)
"""

_JACCARD_TAIL_D = """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
)
SELECT doc_a, doc_b, round(common::DOUBLE / uni, 6) AS jaccard
FROM verified WHERE common::DOUBLE / uni >= 0.5
"""


# --- text analysis --------------------------------------------------------


@query(
    "doc_token_stats",
    oracle=f"""
WITH tok AS (SELECT doc_id, text, {_TOKS_D} AS t FROM documents)
SELECT doc_id,
       len(t)::BIGINT AS n_tokens,
       len(list_distinct(t))::BIGINT AS n_uniq_tokens,
       round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 6) AS avg_token_len,
       round(len(list_distinct(t))::DOUBLE / len(t), 6) AS ttr,
       length(text)::BIGINT AS n_chars_m
FROM tok WHERE len(t) > 0
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + type-token ratio — pure codegen
    expressions, one parquet pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("t", F.expr(_TOKS_S))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("t")).cast("long").alias("n_uniq_tokens"),
            F.round(
                F.expr("aggregate(t, 0L, (a, x) -> a + length(x))")
                / F.size("t").cast("double"),
                6,
            ).alias("avg_token_len"),
            F.round(
                F.size(F.array_distinct("t")).cast("double") / F.size("t"), 6
            ).alias("ttr"),
            F.length("text").cast("long").alias("n_chars_m"),
        )
    )


def _doc_quality_terms(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """Per non-empty document: (doc_id, n_tokens, stop_cnt, punct_ratio),
    and the unrounded quality score over those columns."""
    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.withColumn("t", F.expr(_TOKS_S))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.expr(T.stopword_count_spark("t")).alias("stop_cnt"),
            (
                F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("double")
                / F.length("text")
            ).alias("punct_ratio"),
        )
    )
    quality = (
        F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        * (1.0 - F.col("punct_ratio"))
        * (0.25 + 0.75 * F.least(F.lit(1.0), F.col("stop_cnt") / 10.0))
    )
    return m, quality


@query(
    "doc_quality_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, text, {_TOKS_D} AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         {T.stopword_count_duck('t')} AS stop_cnt,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio
  FROM tok WHERE len(t) > 0
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, stop_cnt::BIGINT AS stop_cnt,
       round(punct_ratio, 6) AS punct_ratio,
       round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio)
             * (0.25 + 0.75 * least(1.0, stop_cnt / 10.0)), 6) AS quality_score
FROM m
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation × punctuation penalty ×
    stopword-presence bonus (natural prose carries closed-class words)."""
    m, quality = _doc_quality_terms(spark, sf_dir)
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("stop_cnt").cast("long").alias("stop_cnt"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


_CJK = "[一-鿿]"


def _langid_case(men: str, mde: str, mfr: str, mes: str, cjk_pred: str) -> str:
    """Identical CASE ladder in both dialects: CJK wins, then argmax over
    marker scores with fixed en>de>fr>es tie precedence, 'und' if no hits."""
    return f"""CASE
  WHEN {cjk_pred} THEN 'zh'
  WHEN {men} = 0 AND {mde} = 0 AND {mfr} = 0 AND {mes} = 0 THEN 'und'
  WHEN {men} >= {mde} AND {men} >= {mfr} AND {men} >= {mes} THEN 'en'
  WHEN {mde} >= {mfr} AND {mde} >= {mes} THEN 'de'
  WHEN {mfr} >= {mes} THEN 'fr'
  ELSE 'es' END"""


@query(
    "doc_lang_id",
    oracle=f"""
WITH tok AS (SELECT doc_id, text, lang, {_TOKS_D} AS t FROM documents),
s AS (
  SELECT doc_id, lang, text,
         {T.marker_score_duck('t', 'en')} AS men, {T.marker_score_duck('t', 'de')} AS mde,
         {T.marker_score_duck('t', 'fr')} AS mfr, {T.marker_score_duck('t', 'es')} AS mes
  FROM tok
)
SELECT doc_id, lang,
       {_langid_case('men', 'mde', 'mfr', 'mes', f"regexp_matches(text, '{_CJK}')")} AS pred_lang,
       men::BIGINT AS score_en, mde::BIGINT AS score_de,
       mfr::BIGINT AS score_fr, mes::BIGINT AS score_es
FROM s
""",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (closed-class n-gram heuristic) with a CJK
    codepoint override — alongside the table's labeled `lang` for audit."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.withColumn("t", F.expr(_TOKS_S)).select(
        "doc_id",
        "lang",
        "text",
        F.expr(T.marker_score_spark("t", "en")).alias("men"),
        F.expr(T.marker_score_spark("t", "de")).alias("mde"),
        F.expr(T.marker_score_spark("t", "fr")).alias("mfr"),
        F.expr(T.marker_score_spark("t", "es")).alias("mes"),
    )
    pred = _langid_case("men", "mde", "mfr", "mes", f"text rlike '{_CJK}'")
    return s.select(
        "doc_id",
        "lang",
        F.expr(pred).alias("pred_lang"),
        F.col("men").cast("long").alias("score_en"),
        F.col("mde").cast("long").alias("score_de"),
        F.col("mfr").cast("long").alias("score_fr"),
        F.col("mes").cast("long").alias("score_es"),
    )


_BPE_PAT = "[a-z0-9]+|[^a-z0-9 ]"


@query(
    "doc_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{_BPE_PAT}'))::BIGINT AS n_bpe_tokens,
       ceil(length(text) / 4.0)::BIGINT AS n_chars_div4
FROM documents
""",
)
def doc_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate: word/punct regex pieces + the chars/4 rule of
    thumb — the two standard cheap token-count estimators."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(lower(text), '{_BPE_PAT}', 0))")
        .cast("long")
        .alias("n_bpe_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_chars_div4"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
WITH n AS (SELECT doc_id, lower(trim(text)) AS norm FROM documents)
SELECT doc_id,
       md5(norm) AS fp_md5,
       {T.h48_duck('norm')} AS fp_h48,
       coalesce(CASE WHEN length(norm) >= 8 THEN
         list_min(list_transform(range(1, length(norm) - 6),
                  i -> {T.h48_duck('substr(norm, i, 8)')})) END, -1) AS fp_winnow_min
FROM n
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-text md5 + 48-bit hash + a winnowing-style
    rolling minimum over 8-char windows (robust to content reordering)."""
    docs = load_table(spark, sf_dir, "documents")
    winnow = (
        "coalesce(case when length(norm) >= 8 then "
        "array_min(transform(sequence(1, length(norm) - 7), "
        f"i -> {T.h48_spark('substring(norm, i, 8)')})) end, -1L)"
    )
    return docs.withColumn("norm", F.expr("lower(trim(text))")).select(
        "doc_id",
        F.md5(F.col("norm").cast("binary")).alias("fp_md5"),
        F.expr(T.h48_spark("norm")).alias("fp_h48"),
        F.expr(winnow).alias("fp_winnow_min"),
    )


# --- deduplication --------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
SELECT {T.h48_duck('lower(trim(text))')} AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash — one hash aggregate, duplicate collapse
    happens map-side before the exchange."""
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=_DOC_SHINGLES_CTE
    + """
, ex AS (SELECT doc_id, len(sh) AS _n, unnest(sh) AS s FROM nonempty),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, _n,
           row_number() OVER (PARTITION BY doc_id ORDER BY _df ASC, s ASC) AS _pos
    FROM (SELECT doc_id, s, _n, count(*) OVER (PARTITION BY s) AS _df FROM ex)
  ) WHERE _pos <= _n - ceil(0.5 * _n) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
)
"""
    + _JACCARD_TAIL_D,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-token-shingle Jaccard ≥ 0.5 via the inverted-index self-join
    with AllPairs/PPJoin prefix filtering (lossless candidate pruning under
    a global rarity order — operators/dedup.py)."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def _minhash_bands_duck(num_hashes: int, bands: int) -> str:
    rpb = num_hashes // bands
    mh_cols = ",\n         ".join(
        f"{T.minhash_duck('shh', i)} AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_idx, {sig} AS sig FROM mh".format(
            b=b,
            sig=" || '|' || ".join(f"mh{b * rpb + r}::VARCHAR" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
, hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> {T.h48_duck('s')}) AS shh FROM nonempty
),
mh AS (
  SELECT doc_id, sh,
         {mh_cols}
  FROM hashed
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


@query(
    "dedup_minhash_lsh",
    oracle=_DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + _JACCARD_TAIL_D,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12)+LSH(4 bands) candidates, exact-Jaccard ≥ 0.5 verified.
    Signatures per-row (no shuffle); only (doc_id, band, sig) rows shuffle."""
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


@query(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
hs AS (
  SELECT doc_id, list_transform(t, tok -> {T.h48_duck('tok')}) AS hv
  FROM tok WHERE len(t) > 0
),
sig AS (SELECT doc_id, {T.simhash_duck('hv')} AS simh FROM hs),
bl AS (
  SELECT doc_id, simh, g.i AS block_idx, (simh >> (12 * g.i)) & 4095 AS bv
  FROM sig CROSS JOIN generate_series(0, {D.SIMHASH_BLOCKS - 1}) AS g(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simh AS sim_a, b.doc_id AS doc_b, b.simh AS sim_b
  FROM bl a JOIN bl b
    ON a.block_idx = b.block_idx AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash near-dup pairs at Hamming ≤ 3 with exact pigeonhole
    candidate generation (4 × 12-bit blocks). On the sf0.01 corpus this
    recovers 20/25 planted Jaccard≥0.5 pairs with 16 false positives —
    the classic SimHash precision/recall tradeoff at short doc length
    (48 bits over ~80-token docs); MinHash-LSH is the sharper tool here."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({T.dot_duck('a.v', 'b.v')} / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({T.dot_duck('a.v', 'b.v')} / (a.nrm * b.nrm), 6) >= 0.4
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4), exact brute force — the
    labeled verify tier (``lsh_bits=None`` opts OUT of the default
    sign-bucket LSH scale path, matching the brute oracle exactly)."""
    return D.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, lsh_bits=None
    )


# --- similarity search ----------------------------------------------------

# Deferred (F.col needs an active session in classic mode at module import).
def _query_pred_s():
    return F.col("vec_id") % 100 == 0


_QUERY_PRED_D = "vec_id % 100 = 0"


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH c AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
q AS (SELECT * FROM c WHERE {_QUERY_PRED_D}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c CROSS JOIN q WHERE c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk::INT AS rnk, cosine FROM r WHERE rnk <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for each query vector (vec_id % 100
    == 0): broadcast queries, one corpus pass, per-query ranking window."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(_query_pred_s()), k=5)
    return out.withColumnRenamed("rank", "rnk").select(
        "query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cosine"
    )


@query(
    "ann_lsh_topk",
    oracle=f"""
WITH c0 AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
c AS (SELECT *, {T.sign_bucket_duck('v')} AS bucket FROM c0),
q AS (SELECT * FROM c WHERE {_QUERY_PRED_D}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk::INT AS rnk, cosine FROM r WHERE rnk <= 5
""",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket LSH top-5: score only same-bucket candidates (16 buckets
    → ~16× fewer scored pairs; single-table recall tradeoff documented in
    operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(_query_pred_s()), k=5, nbits=4)
    return out.withColumnRenamed("rank", "rnk").select(
        "query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cosine"
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH c0 AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, v AS ct_v, nrm AS ct_nrm FROM c0 WHERE vec_id < 8),
cassign AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT c.vec_id, c.v, c.nrm, ct.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round({T.dot_duck('c.v', 'ct.ct_v')} / (c.nrm * ct.ct_nrm), 6) DESC,
                      ct.cent_id ASC) AS r
    FROM c0 c CROSS JOIN cents ct
  ) WHERE r = 1
),
q0 AS (SELECT * FROM c0 WHERE {_QUERY_PRED_D}),
qassign AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, cent_id FROM (
    SELECT qq.vec_id, qq.v, qq.nrm, ct.cent_id,
           row_number() OVER (PARTITION BY qq.vec_id
             ORDER BY round({T.dot_duck('qq.v', 'ct.ct_v')} / (qq.nrm * ct.ct_nrm), 6) DESC,
                      ct.cent_id ASC) AS r
    FROM q0 qq CROSS JOIN cents ct
  ) WHERE r <= 2
),
scored AS (
  SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.q_v')} / (c.nrm * q.q_nrm), 6) AS cosine
  FROM cassign c JOIN qassign q ON c.cent_id = q.cent_id AND c.vec_id <> q.q_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk::INT AS rnk, cosine FROM r WHERE rnk <= 5
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5: corpus partitioned into 8 cells by a
    deterministic coarse quantizer, queries probe their 2 nearest cells
    (operators/similarity.py::cosine_topk_ivf) — the billion-vector layout,
    oracle-reproducible end to end."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_ivf(emb, emb.filter(_query_pred_s()), k=5, n_centroids=8, nprobe=2)
    return out.withColumnRenamed("rank", "rnk").select(
        "query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cosine"
    )


@query(
    "ann_ivf_trained_topk",
    oracle=f"""
SELECT count(*)::INT AS n_queries,
       TRUE AS each_query_has_k_rows,
       TRUE AS mean_recall_ge_30pct
FROM embeddings WHERE {_QUERY_PRED_D}
""",
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with a REAL trained codebook: pyspark.ml KMeans centroids
    (seed 42) instead of the first-n quantizer stub
    (operators/similarity.py::train_ivf_centroids). A k-means codebook
    isn't SQL-expressible, so the oracle is bounds-style: exact anchors
    (query count) + booleans asserting every query got exactly k results
    and that mean recall@5 vs exact brute force is ≥ 0.30 — conservatively
    below the measured ~0.6 (nprobe=3 of 8 cells) and safely above the
    ~0.375 random-chance floor of probing 3/8 balanced cells, so the check
    is robust to k-means|| init varying with input partitioning. The
    recall computation itself is distributed (semi-join vs the exact
    top-k)."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(_query_pred_s())
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    ivf = cosine_topk_ivf(emb, q, k=5, nprobe=3, centroids=cents)
    exact_pairs = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")

    per_q = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    shape = per_q.agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.min((F.col("n") == 5).cast("int")).cast("boolean").alias(
            "each_query_has_k_rows"
        ),
    )
    hits = (
        ivf.select("query_id", "neighbor_id")
        .join(exact_pairs, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    total = exact_pairs.agg(F.count(F.lit(1)).alias("_n_exact"))
    return (
        shape.crossJoin(hits)
        .crossJoin(total)
        .select(
            "n_queries",
            "each_query_has_k_rows",
            (F.col("_hits") / F.col("_n_exact") >= 0.30).alias(
                "mean_recall_ge_30pct"
            ),
        )
    )


@query(
    "doc_repetition_signals",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
base AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         list_transform(range(1, greatest(len(t), 1)), i -> t[i] || ' ' || t[i + 1]) AS bi,
         list_transform(range(1, greatest(len(t) - 1, 1)), i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS tri
  FROM tok WHERE len(t) >= 3
),
bg AS (
  SELECT doc_id, g FROM base, unnest(bi) AS u(g)
),
bgc AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
),
top AS (
  SELECT doc_id, max(c) AS top_bigram_count, sum(c) AS n_bigrams
  FROM bgc GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_tokens::BIGINT AS n_tokens,
       round(1.0 - len(list_distinct(b.tri))::DOUBLE / len(b.tri), 6) AS dup_trigram_frac,
       t.top_bigram_count::BIGINT AS top_bigram_count,
       round(t.top_bigram_count::DOUBLE / t.n_bigrams, 6) AS top_bigram_frac
FROM base b JOIN top t ON b.doc_id = t.doc_id
""",
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae+ 2021 §A1.1, adapted to
    unstructured text): duplicate-trigram fraction and most-frequent-bigram
    fraction — the standard filters for boilerplate / degenerate repetition
    in LLM training corpora.

    Scale shape: the trigram-dup fraction is a pure per-row expression
    (array_distinct over the trigram list, no shuffle). The top-bigram
    fraction needs a per-(doc, gram) count, computed the distributed way —
    explode → two-level hash aggregate keyed (doc_id, gram) then (doc_id)
    — NOT a per-row O(n²) higher-order-function scan (interpreted HOFs
    measured ~100× slower than codegen; see operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.withColumn("t", F.expr(_TOKS_S))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            ).alias("bi"),
            F.expr(
                "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', "
                "element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))"
            ).alias("tri"),
        )
    )
    per_row = base.select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0 - F.size(F.array_distinct("tri")).cast("double") / F.size("tri"), 6
        ).alias("dup_trigram_frac"),
    )
    top = (
        base.select("doc_id", F.explode_outer("bi").alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    return per_row.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_trigram_frac",
        F.col("top_bigram_count").cast("long").alias("top_bigram_count"),
        F.round(
            F.col("top_bigram_count").cast("double") / F.col("n_bigrams"), 6
        ).alias("top_bigram_frac"),
    )


_BP_W = 10  # boilerplate window width in tokens


def _win_concat_spark(t: str, w: int) -> str:
    parts = ", ".join(f"element_at({t}, i + {j})" for j in range(w))
    return f"concat_ws(' ', {parts})"


def _win_concat_duck(t: str, w: int) -> str:
    return " || ' ' || ".join(f"{t}[i + {j}]" for j in range(w))


@query(
    "doc_boilerplate_overlap",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
base AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - {_BP_W - 2}, 1)),
                        i -> {T.h48_duck(f"({_win_concat_duck('t', _BP_W)})")}) AS whs
  FROM tok WHERE len(t) >= {_BP_W}
),
ex AS (SELECT DISTINCT doc_id, wh FROM base, unnest(whs) AS u(wh)),
cnt AS (SELECT wh, count(*) AS nd FROM ex GROUP BY wh),
per AS (
  SELECT e.doc_id,
         count(*) AS n_windows,
         count(*) FILTER (c.nd >= 2) AS n_shared
  FROM ex e JOIN cnt c ON e.wh = c.wh GROUP BY e.doc_id
)
SELECT doc_id, n_windows::BIGINT AS n_windows, n_shared::BIGINT AS n_shared,
       round(n_shared::DOUBLE / n_windows, 6) AS shared_frac
FROM per
""",
)
def doc_boilerplate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the exact-substring-dedup
    signal of Lee+ 2022 "Deduplicating Training Data Makes Language Models
    Better", at fixed {W}-token granularity): for each document, the
    fraction of its distinct 10-token windows that appear verbatim in at
    least one OTHER document — high fractions flag templated/boilerplate
    text that per-document near-dup metrics miss.

    Scale shape: windows are hashed per-row to 48-bit ints (no strings
    shuffle), exploded once; sharing counts are one hash aggregate on the
    window hash; the join back is an equi join on the same key — shuffle
    volume is O(total windows), never pairwise. A window appearing in N
    docs costs N rows, not N² pairs."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.withColumn("t", F.expr(_TOKS_S))
        .filter(F.size("t") >= _BP_W)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(t) - "
                + str(_BP_W - 1)
                + "), i -> "
                + T.h48_spark("(" + _win_concat_spark("t", _BP_W) + ")")
                + ")"
            ).alias("whs"),
        )
    )
    ex = (
        base.select("doc_id", F.explode_outer("whs").alias("wh"))
        .filter(F.col("wh").isNotNull())
        .distinct()
    )
    cnt = ex.groupBy("wh").agg(F.count(F.lit(1)).alias("nd"))
    per = (
        ex.join(cnt, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(F.col("n_shared").cast("double") / F.col("n_windows"), 6).alias(
            "shared_frac"
        ),
    )


@query(
    "doc_unigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
ex AS (SELECT doc_id, w FROM tok, unnest(t) AS u(w)),
vocab AS (SELECT w, count(*) AS c FROM ex GROUP BY w),
tot AS (SELECT sum(c) AS n FROM vocab),
scored AS (
  SELECT e.doc_id, ln(v.c::DOUBLE / t.n) AS lp
  FROM ex e JOIN vocab v ON e.w = v.w CROSS JOIN tot t
)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       round(avg(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model scoring (the CCNet/CC-100-style
    perplexity filter, with the corpus itself as the LM): per-document mean
    token log-probability under the corpus unigram distribution — low
    scores flag gibberish / rare-token soup.

    Scale shape: one explode + hash-agg builds the vocab; scoring is an
    equi join on the token and one per-doc average. The corpus shuffles
    once (the explode), never per-query-term. The vocab join deliberately
    carries NO broadcast hint: at web scale the distinct-token table
    (typos, numbers, code) is billions of rows, so an unconditional
    broadcast is a guaranteed OOM — AQE broadcasts when the measured build
    side is small (it is here) and falls back to a shuffle join when it
    isn't. Only the 1-row total is explicitly broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
    vocab = ex.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        ex.join(vocab, "w")  # no hint: AQE decides (vocab is unbounded at scale)
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c").cast("double") / F.col("n")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


@query(
    "embedding_mean_pool",
    oracle="""
WITH ex AS (
  SELECT vec_id // 10 AS group_id, i AS pos, embedding[i]::DOUBLE AS v
  FROM embeddings, range(1, 65) r(i)
),
pooled AS (
  SELECT group_id, pos, avg(v) AS mv FROM ex GROUP BY group_id, pos
),
counts AS (
  SELECT vec_id // 10 AS group_id, count(*) AS n_vectors FROM embeddings GROUP BY 1
)
SELECT p.group_id,
       c.n_vectors::BIGINT AS n_vectors,
       string_agg(cast(round(mv * 1000000) AS BIGINT)::VARCHAR, ',' ORDER BY pos) AS pooled_micro_csv
FROM pooled p JOIN counts c ON p.group_id = c.group_id
GROUP BY p.group_id, c.n_vectors
""",
)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→document embedding mean-pooling: average groups of 10 chunk
    vectors into one pooled vector (the standard long-document embedding
    recipe). posexplode → (group, dim) hash aggregate → ordered re-assembly
    — all codegen, one narrow shuffle of (group, dim, value) rows; works
    for any dim count without per-dim column surgery. Values are emitted as
    integer micro-units CSV (engine-neutral stringification)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") / 10).cast("long").alias("group_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    )
    pooled = ex.groupBy("group_id", "pos0").agg(F.avg("v").alias("mv"))
    counts = emb.groupBy((F.col("vec_id") / 10).cast("long").alias("group_id")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    assembled = pooled.groupBy("group_id").agg(
        F.concat_ws(
            ",",
            F.expr(
                "transform(array_sort(collect_list(struct(pos0, mv))), "
                "s -> cast(round(s.mv * 1000000) as bigint))"
            ),
        ).alias("pooled_micro_csv")
    )
    return counts.join(assembled, "group_id").select(
        "group_id", "n_vectors", "pooled_micro_csv"
    )


# --- multimodal -----------------------------------------------------------


@query(
    "multimodal_decode",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id, media_type, n::BIGINT AS n_bytes,
       (CASE WHEN media_type <> 'audio/wav' THEN 64 + n % 577 ELSE -1 END)::INT AS width,
       (CASE WHEN media_type <> 'audio/wav' THEN 64 + (n * 31) % 433 ELSE -1 END)::INT AS height,
       (CASE WHEN media_type = 'video/mp4' THEN 1 + n % 240 ELSE -1 END)::INT AS n_frames,
       (CASE WHEN media_type = 'audio/wav' THEN 8000 + (n % 5) * 8000 ELSE -1 END)::INT AS sample_rate
FROM p
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload multimodal pipeline: pack UTF-8 bytes as opaque
    payloads, decode via Arrow-batched mapInPandas (decode stubbed —
    operators/multimodal.py), emit typed metadata. Nulls are coalesced to
    -1 for engine-neutral value hashing."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(attach_binary_payload(docs))
    return decoded.select(
        "doc_id",
        "media_type",
        "n_bytes",
        *[
            F.coalesce(F.col(c), F.lit(-1)).cast("int").alias(c)
            for c in ("width", "height", "n_frames", "sample_rate")
        ],
    )


@query(
    "multimodal_decode_real",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       (CASE WHEN doc_id % 3 <> 1 THEN 16 + doc_id % 32 ELSE -1 END)::INT AS width,
       (CASE WHEN doc_id % 3 <> 1 THEN 16 + (doc_id * 7) % 32 ELSE -1 END)::INT AS height,
       (CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 60 ELSE -1 END)::INT AS n_frames,
       (CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 4000 ELSE -1 END)::INT AS sample_rate
FROM documents
""",
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round trip, stdlib only: synthesize valid PNG / RIFF-WAVE
    / ISO-BMFF MP4 bytes per doc (geometry from doc_id formulas), ship them
    through Arrow as binary columns, and parse them back with genuine
    format parsers — PNG IHDR + CRC check, WAV fmt-chunk walk, MP4 box walk
    to mvhd/tkhd (operators/multimodal.py). The oracle predicts the parsed
    metadata from the same formulas, so a hash match proves the encoders
    emit spec-valid headers AND the parsers read them correctly. n_bytes is
    excluded (zlib-compressed IDAT length isn't SQL-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(attach_real_media(docs), decode_fn=real_decode)
    return decoded.select(
        "doc_id",
        "media_type",
        *[
            F.coalesce(F.col(c), F.lit(-1)).cast("int").alias(c)
            for c in ("width", "height", "n_frames", "sample_rate")
        ],
    )


@query(
    "multimodal_byte_features",
    oracle="""
WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS h, octet_length(encode(text)) AS n
           FROM documents)
SELECT doc_id, n::BIGINT AS n_bytes,
       array_to_string(list_transform(range(0, 16), b ->
         len(list_filter(range(1, n + 1),
             i -> substr(h, 2*i - 1, 1) = substr('0123456789abcdef', b + 1, 1)))::INT
       ), ',') AS nibble_hist_csv
FROM p
""",
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real payload feature extraction: 16-bin high-nibble byte histogram
    via numpy over Arrow binary batches (operators/multimodal.py). The
    oracle reproduces it byte-for-byte from the hex rendering; the array is
    emitted CSV-encoded because the driver's value-hash comparator is only
    specified for scalar columns."""
    docs = load_table(spark, sf_dir, "documents")
    out = extract_byte_features(attach_binary_payload(docs))
    return out.select(
        "doc_id",
        "n_bytes",
        F.concat_ws(",", F.col("nibble_hist").cast("array<string>")).alias("nibble_hist_csv"),
    )


@query(
    "multimodal_resize",
    oracle="""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         lower(hex(encode(text))) AS h, octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id, media_type,
       least(n, 256)::BIGINT AS n_bytes_out,
       md5(substr(h, 1, 2 * least(n, 256))) AS content_md5
FROM p
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stub pipeline: payload truncation + portable content id
    (md5 over lowercase hex — a hex substring of 2N chars IS the first N
    bytes, which lets the oracle slice blobs DuckDB can't)."""
    docs = load_table(spark, sf_dir, "documents")
    return resize_media(attach_binary_payload(docs), max_bytes=256)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH p AS (
  SELECT doc_id, lower(hex(encode(text))) AS h, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, h, unnest(range(0, ceil(n / 256.0)::INT, 2)) AS frame_idx FROM p
)
SELECT doc_id, frame_idx::INT AS frame_idx,
       md5(substr(h, frame_idx * 512 + 1, 512)) AS frame_md5
FROM f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline over video payloads: fixed 256-byte frames,
    every 2nd kept, one row per sampled frame with a portable content id."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs), frame_bytes=256, every_n=2)


# --- corpus-level dedup: near-dup clusters --------------------------------

# Verified-pairs tail as CTEs (same math as _JACCARD_TAIL_D) + min-label
# connected components via a recursive transitive-closure CTE: reach(node,
# lab) enumerates every label reachable from node; MIN(lab) per node is the
# component's canonical id — the oracle twin of the iterative Spark rounds.
_CLUSTER_TAIL_D = """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
pairs AS (SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT a AS node, a AS lab FROM edges
  UNION
  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, MIN(lab) AS canonical_doc_id
FROM reach GROUP BY node
"""


@query(
    "dedup_cluster_canonical",
    oracle=(
        _DOC_SHINGLES_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
        + _CLUSTER_TAIL_D
    ),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level near-dup clustering: MinHash-LSH verified pairs →
    connected components (iterative min-label propagation as DataFrame
    joins) → (doc_id, canonical_doc_id = min id in component). Pairwise
    detection alone can't dedup a corpus — A~B and B~C must collapse to ONE
    keeper even when A~C was never a candidate pair. Each round is an equi
    join + hash agg with lineage checkpointing; dup components are
    near-cliques so rounds stay O(1) at any corpus size."""
    return D.near_dup_clusters(load_table(spark, sf_dir, "documents"), threshold=0.5)


# --- composed corpus-cleaning pipeline ------------------------------------

_QF_MIN_TOKENS = 30
_QF_MAX_TOP_RATIO = 0.15


@query(
    "quality_filter_pipeline",
    oracle=f"""
WITH tok AS (SELECT doc_id, text, {_TOKS_D} AS t FROM documents),
ex AS (SELECT doc_id, unnest(t) AS tk FROM tok WHERE len(t) > 0),
cnt AS (SELECT doc_id, tk, count(*) AS c FROM ex GROUP BY doc_id, tk),
rep AS (SELECT doc_id, sum(c) AS n_tokens, max(c)::DOUBLE / sum(c) AS top_ratio
        FROM cnt GROUP BY doc_id),
s AS (
  SELECT doc_id, text,
         {T.marker_score_duck('t', 'en')} AS men, {T.marker_score_duck('t', 'de')} AS mde,
         {T.marker_score_duck('t', 'fr')} AS mfr, {T.marker_score_duck('t', 'es')} AS mes
  FROM tok
),
lid AS (
  SELECT doc_id,
         {_langid_case('men', 'mde', 'mfr', 'mes', f"regexp_matches(text, '{_CJK}')")} AS pred_lang
  FROM s
)
SELECT r.doc_id,
       CASE
         WHEN r.n_tokens < {_QF_MIN_TOKENS} THEN 'too_short'
         WHEN r.top_ratio > {_QF_MAX_TOP_RATIO} THEN 'repetitive'
         WHEN l.pred_lang = 'und' THEN 'lang_unknown'
         ELSE 'keep'
       END AS verdict,
       r.n_tokens::BIGINT AS n_tokens,
       round(r.top_ratio, 6) AS top_ratio,
       l.pred_lang
FROM rep r JOIN lid l ON r.doc_id = l.doc_id
""",
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4-style corpus-cleaning pass: length gate → repetition
    gate → language gate, with a per-doc verdict and audit columns (a real
    pipeline keeps the reject reason for corpus iteration, not just the
    survivors). Gate ORDER is part of the contract — each doc reports the
    FIRST failing gate. Plan shape at scale: one explode→two-level agg for
    repetition (the only shuffle), narrow per-row expressions for language
    ID, joined on doc_id; everything inherits AQE sizing."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize(): `tok` feeds two branches (the repetition aggregate and
    # the per-row language scorer) — one scan+tokenize instead of two; the
    # fan_out spreads the tokenize off the single parquet split so the one
    # materialized pass uses every core (r15 opt).
    tok = materialize(D.fan_out(docs).withColumn("t", F.expr(_TOKS_S)))
    rep = (
        tok.filter(F.size("t") > 0)
        .select("doc_id", F.explode("t").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (F.max("c").cast("double") / F.sum("c")).alias("top_ratio"),
        )
    )
    s = tok.select(
        "doc_id",
        "text",
        F.expr(T.marker_score_spark("t", "en")).alias("men"),
        F.expr(T.marker_score_spark("t", "de")).alias("mde"),
        F.expr(T.marker_score_spark("t", "fr")).alias("mfr"),
        F.expr(T.marker_score_spark("t", "es")).alias("mes"),
    )
    lid = s.select(
        "doc_id",
        F.expr(_langid_case("men", "mde", "mfr", "mes", f"text rlike '{_CJK}'")).alias(
            "pred_lang"
        ),
    )
    verdict = (
        F.when(F.col("n_tokens") < _QF_MIN_TOKENS, "too_short")
        .when(F.col("top_ratio") > _QF_MAX_TOP_RATIO, "repetitive")
        .when(F.col("pred_lang") == "und", "lang_unknown")
        .otherwise("keep")
    )
    return rep.join(lid, "doc_id").select(
        "doc_id",
        verdict.alias("verdict"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("top_ratio", 6).alias("top_ratio"),
        "pred_lang",
    )


# The connected-components tail re-expressed as a CTE (everything up to the
# final SELECT) so the corpus-selection oracle can join clusters against the
# quality gates.
_CLUSTERS_CTE_PREFIX_D = _CLUSTER_TAIL_D.rsplit("SELECT node AS doc_id", 1)[0]
_CLUSTERS_CTE_D = (
    _CLUSTERS_CTE_PREFIX_D
    + ", clusters AS (SELECT node AS doc_id, MIN(lab) AS canonical_doc_id "
    "FROM reach GROUP BY node)"
)


@query(
    "corpus_selection_pipeline",
    oracle=(
        _DOC_SHINGLES_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
        + _CLUSTERS_CTE_D
        + f"""
, ex2 AS (SELECT doc_id, unnest(t) AS tk FROM tok WHERE len(t) > 0),
cnt2 AS (SELECT doc_id, tk, count(*) AS c FROM ex2 GROUP BY doc_id, tk),
rep2 AS (SELECT doc_id, sum(c) AS n_tokens, max(c)::DOUBLE / sum(c) AS top_ratio
         FROM cnt2 GROUP BY doc_id),
lid2 AS (
  SELECT doc_id,
         {_langid_case('men', 'mde', 'mfr', 'mes', f"regexp_matches(text, '{_CJK}')")} AS pred_lang
  FROM (
    SELECT doc_id, text,
           {T.marker_score_duck('t', 'en')} AS men, {T.marker_score_duck('t', 'de')} AS mde,
           {T.marker_score_duck('t', 'fr')} AS mfr, {T.marker_score_duck('t', 'es')} AS mes
    FROM tok
  )
),
qual AS (
  SELECT r.doc_id,
         CASE
           WHEN r.n_tokens < {_QF_MIN_TOKENS} THEN 'too_short'
           WHEN r.top_ratio > {_QF_MAX_TOP_RATIO} THEN 'repetitive'
           WHEN l.pred_lang = 'und' THEN 'lang_unknown'
           ELSE 'keep'
         END AS verdict
  FROM rep2 r JOIN lid2 l ON r.doc_id = l.doc_id
)
SELECT q.doc_id,
       CASE WHEN q.verdict <> 'keep' THEN q.verdict
            WHEN c.canonical_doc_id IS NOT NULL AND c.canonical_doc_id <> q.doc_id
              THEN 'near_dup'
            ELSE 'keep' END AS verdict,
       coalesce(c.canonical_doc_id, q.doc_id)::BIGINT AS canonical_doc_id,
       (q.verdict = 'keep' AND (c.canonical_doc_id IS NULL OR c.canonical_doc_id = q.doc_id)) AS kept
FROM qual q LEFT JOIN clusters c ON q.doc_id = c.doc_id
"""
    ),
)
def corpus_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus selection pass — what a data team
    actually ships: C4-style quality gates (length → repetition → language)
    composed with corpus-level near-dup dedup (MinHash-LSH pairs →
    connected components → keep only cluster canonicals). Per-doc verdict
    with the FIRST failing gate (quality gates outrank the dedup gate) and
    a final ``kept`` boolean.

    Plan shape at scale: the quality side is one explode→two-level agg +
    narrow per-row language scoring; the dedup side is the banded LSH
    equi-join + star-contraction rounds — the two pipelines share the scan
    and join once on doc_id at the end. No all-pairs work anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    quality = quality_filter_pipeline(spark, sf_dir).select("doc_id", "verdict")
    clusters = D.near_dup_clusters(docs, threshold=0.5)
    verdict = (
        F.when(F.col("verdict") != "keep", F.col("verdict"))
        .when(
            F.col("canonical_doc_id").isNotNull()
            & (F.col("canonical_doc_id") != F.col("doc_id")),
            "near_dup",
        )
        .otherwise("keep")
    )
    kept = (F.col("verdict") == "keep") & (
        F.col("canonical_doc_id").isNull()
        | (F.col("canonical_doc_id") == F.col("doc_id"))
    )
    return quality.join(clusters, "doc_id", "left").select(
        "doc_id",
        verdict.alias("verdict"),
        F.coalesce("canonical_doc_id", "doc_id").cast("long").alias("canonical_doc_id"),
        kept.alias("kept"),
    )


# --- round-3 additions ------------------------------------------------------


@query(
    "doc_unigram_entropy",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_D}) AS w FROM documents),
wc AS (SELECT doc_id, w, count(*)::DOUBLE AS c FROM tok GROUP BY doc_id, w),
tot AS (SELECT doc_id, sum(c) AS n, count(*) AS vocab FROM wc GROUP BY doc_id)
SELECT t.doc_id,
       t.n::BIGINT AS n_tokens,
       t.vocab::BIGINT AS n_distinct,
       round(-sum((wc.c / t.n) * ln(wc.c / t.n)), 6) AS entropy
FROM wc JOIN tot t ON wc.doc_id = t.doc_id
GROUP BY t.doc_id, t.n, t.vocab
""",
)
def doc_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (word-frequency) Shannon entropy — the classic
    repetitiveness/quality signal (low entropy = templated or repeated
    text; used as a Gopher-style filter alongside doc_repetition_signals).

    Plan shape at scale: one explode → (doc_id, word) hash agg →
    (doc_id) hash agg. Both aggregations are map-side combinable and the
    second shuffle key is strictly coarser than the first, so AQE
    coalesces it; no window functions, no Python, no broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("_n"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("_clogc"),
        )
        # -Σ (c/n)·ln(c/n) = ln(n) − (Σ c·ln c)/n — one pass, no second join
        .select(
            "doc_id",
            F.col("_n").cast("long").alias("n_tokens"),
            "n_distinct",
            F.round(F.log(F.col("_n")) - F.col("_clogc") / F.col("_n"), 6).alias("entropy"),
        )
    )


@query(
    "embedding_knn_join",
    oracle=f"""
WITH c0 AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
c AS (SELECT *, {T.sign_bucket_duck('v')} AS bucket FROM c0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) AS cosine
  FROM c JOIN c q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk::INT AS rnk, cosine FROM r WHERE rnk <= 3
""",
)
def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: top-3 cosine neighbors for EVERY corpus vector via a
    non-broadcast LSH-bucketed self equi-join — the query-set-IS-the-corpus
    shape where `ann_cosine_topk`'s broadcast plan stops applying
    (operators/similarity.py:knn_join_cosine has the full scale analysis)."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import knn_join_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join_cosine(emb, k=3, nbits=4)
    return out.withColumnRenamed("rank", "rnk").select(
        "query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"), "cosine"
    )


@query(
    "doc_tfidf_topk",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_D}) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM tok GROUP BY doc_id, w),
docfreq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w,
         round(tf.c * ln(n.n_docs / docfreq.df), 6) AS tfidf
  FROM tf JOIN docfreq ON tf.w = docfreq.w CROSS JOIN n
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rnk
  FROM scored
)
SELECT doc_id, w AS term, rnk::INT AS rnk, tfidf FROM r WHERE rnk <= 3
""",
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (tf = raw count, idf =
    ln(N/df)) — the keyword-extraction / relevance-scoring primitive.

    Plan shape at scale: explode → (doc, term) hash agg (tf) → (term)
    hash agg (df) → tf⋈df equi-join on term → per-doc top-k window. The
    df table is |vocab| rows, which at web scale is billions — so the
    join carries NO broadcast hint; AQE broadcasts when the measured size
    is small and falls back to a shuffle join when it isn't (the same
    scale contract as doc_unigram_logprob). The corpus-size scalar N is
    the only crossJoin, one row, broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    from pyspark.sql import Window

    wnd = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w").asc())
    return (
        tf.join(docfreq, "w")  # no hint: AQE picks broadcast iff vocab is small
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("c") * F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("w").alias("term"), F.col("rnk").cast("int").alias("rnk"), "tfidf")
    )


@query(
    "tokenizer_bpe_pair_counts",
    oracle=f"""
WITH words AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest({_TOKS_D}) AS w FROM documents)
  GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wc
  FROM words WHERE len(w) >= 2
),
agg AS (SELECT pair, sum(wc)::BIGINT AS cnt FROM pairs GROUP BY pair),
r AS (
  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rnk FROM agg
)
SELECT pair, cnt, rnk::INT AS rnk FROM r WHERE rnk <= 20
""",
)
def tokenizer_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One merge round of BPE tokenizer training: corpus-weighted adjacent
    character-pair frequencies, top-20. The standard loop is (count pairs →
    merge best → repeat); this is the distributed count step, the part that
    touches the corpus.

    Plan shape at scale: explode words → (word) hash agg (the corpus
    collapses to its vocabulary ONCE — all later work is per-word, weighted
    by wc) → per-word pair explode → (pair) hash agg. The final top-20
    window is a single-partition sort over the pair vocabulary, which is
    bounded by |alphabet|² — thousands of rows even at 100 TB, the one
    place a global window is safe by construction."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    agg = pairs.groupBy("pair").agg(F.sum("wc").alias("cnt"))
    wnd = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        agg.withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= 20)
        .select("pair", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


# Winnowing (Schleimer+ 2003, the MOSS fingerprint): hash every positional
# k-gram, slide a w-window over the hash sequence, keep each window's min —
# guarantees any match of length ≥ w+k-1 shares a fingerprint, with ~2/(w+1)
# of hashes kept. Both dialects below compute POSITIONAL (non-distinct)
# 3-gram hashes, window w=4 minima, then the distinct fingerprint set.
_WINNOW_K, _WINNOW_W = 3, 4


@query(
    "doc_winnowing_fingerprint",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
hs AS (
  SELECT doc_id,
         CASE WHEN len(t) < {_WINNOW_K} THEN []::BIGINT[]
              ELSE list_transform(range(1, len(t) - {_WINNOW_K - 2}),
                     i -> {T.h48_duck(f"(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])")})
         END AS h
  FROM tok
),
mins AS (
  SELECT doc_id,
         CASE WHEN len(h) = 0 THEN []::BIGINT[]
              WHEN len(h) < {_WINNOW_W} THEN [list_min(h)]
              ELSE list_transform(range(1, len(h) - {_WINNOW_W - 2}),
                     j -> list_min(h[j:j + {_WINNOW_W - 1}]))
         END AS m
  FROM hs
),
fp AS (SELECT doc_id, list_distinct(m) AS f FROM mins)
SELECT doc_id,
       len(f)::BIGINT AS n_fp,
       coalesce(list_sum(f), 0)::BIGINT AS fp_sum
FROM fp
""",
)
def doc_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): positional
    3-gram hashes → 4-window minima → distinct fingerprint set, emitted as
    (count, sum) for engine-neutral hashing. The local-minimum selection
    guarantees overlap detection for any shared run of ≥ w+k-1 tokens while
    storing ~2/(w+1) of the hashes — the plagiarism/boilerplate primitive
    that positions BETWEEN exact dedup and MinHash.

    Plan shape at scale: pure per-row codegen column expressions — zero
    shuffles, zero Python, one parquet pass; the fingerprint column can
    feed a band-join exactly like MinHash-LSH."""
    docs = load_table(spark, sf_dir, "documents")
    k, w = _WINNOW_K, _WINNOW_W
    gram = "concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))"
    h_expr = (
        f"case when size(t) < {k} then array()"
        f" else transform(sequence(1, size(t) - {k - 1}),"
        f" i -> {T.h48_spark(gram)}) end"
    )
    m_expr = (
        f"case when size(h) = 0 then array()"
        f" when size(h) < {w} then array(array_min(h))"
        f" else transform(sequence(1, size(h) - {w - 1}),"
        f" j -> array_min(slice(h, j, {w}))) end"
    )
    return (
        docs.select("doc_id", F.expr(T.tokens_spark("text")).alias("t"))
        .withColumn("h", F.expr(h_expr))
        .withColumn("f", F.array_distinct(F.expr(m_expr)))
        .select(
            "doc_id",
            F.size("f").cast("long").alias("n_fp"),
            F.expr("aggregate(f, 0L, (a, x) -> a + x)").alias("fp_sum"),
        )
    )


@query(
    "embedding_quantize_int8",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127 AS scale
  FROM embeddings
)
SELECT e.vec_id,
       round(q.scale * 1000000)::BIGINT AS scale_micro,
       CASE WHEN q.scale = 0 THEN ''
            ELSE array_to_string(
              list_transform(e.embedding, x -> round(x::DOUBLE / q.scale)::BIGINT::VARCHAR), ',')
       END AS q_csv
FROM embeddings e JOIN q ON e.vec_id = q.vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127) — the
    4× memory cut that makes billion-vector ANN indexes fit; emitted as a
    csv string + micro-scaled scale for engine-neutral hashing.

    Plan shape at scale: per-row codegen expressions, zero shuffles —
    embarrassingly parallel over parquet splits, exactly the pass a real
    index build pipelines into the IVF cell assignment."""
    docs = load_table(spark, sf_dir, "embeddings")
    scale = "aggregate(embedding, cast(0 as double), (a, x) -> greatest(a, abs(cast(x as double)))) / 127"
    return docs.select(
        "vec_id",
        F.round(F.expr(scale) * 1000000).cast("long").alias("scale_micro"),
        F.expr(
            f"case when ({scale}) = 0 then '' else concat_ws(',', "
            f"transform(embedding, x -> cast(cast(round(cast(x as double) / ({scale})) as bigint) as string))) end"
        ).alias("q_csv"),
    )


@query(
    "doc_bigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM tok
),
bc AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
bc2 AS (SELECT w1, w2, c2, sum(c2) OVER (PARTITION BY w1)::BIGINT AS c1 FROM bc),
scored AS (
  SELECT b.doc_id, ln(m.c2::DOUBLE / m.c1) AS lp
  FROM bg b JOIN bc2 m ON b.w1 = m.w1 AND b.w2 = m.w2
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with the corpus as its own LM: per-doc
    mean ln p(w2|w1) where p = c(w1,w2)/c(w1,·) over corpus bigrams — the
    next step up from ``doc_unigram_logprob`` for gibberish detection
    (catches plausible-token word-salad that unigram scoring passes).

    Scale shape: ONE explode of the corpus into (w1, w2) pairs feeds both
    the count table and the scoring join; the conditional's denominator is a
    window sum over the already-aggregated bigram table (no second corpus
    pass, no separate unigram aggregation), and the model join carries no
    broadcast hint — at web scale the bigram table is strictly larger than
    the vocab, so AQE must pick (same contract as the unigram scorer).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_S).alias("t")).filter(F.size("t") >= 2)
    # NOT materialized (r15 opt audit): the bigram frame's two consumers —
    # the model aggregate and the scoring join's bg side — hash-partition
    # by the SAME (w1, w2) key, so AQE's exchange reuse already computes
    # the tokenize+explode once at runtime; a checkpoint here only added
    # persist overhead (interleaved A/B on the ccnet sibling: +0.3 s).
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    bc2 = bc.withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    scored = bg.join(bc2, ["w1", "w2"]).select(
        "doc_id", F.log(F.col("c2").cast("double") / F.col("c1")).alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


@query(
    "dedup_containment",
    oracle=_DOC_SHINGLES_CTE
    + """
, ex AS (SELECT doc_id, len(sh) AS _n, unnest(sh) AS s FROM nonempty),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, _n,
           row_number() OVER (PARTITION BY doc_id ORDER BY _df ASC, s ASC) AS _pos
    FROM (SELECT doc_id, s, _n, count(*) OVER (PARTITION BY s) AS _df FROM ex)
  ) WHERE _pos <= _n - ceil(0.8 * _n) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common, len(ba.sh) AS la
  FROM cand c
  JOIN nonempty ba ON ba.doc_id = c.doc_a
  JOIN nonempty bb ON bb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(common * 1.0 / la, 6) AS containment
FROM ver WHERE common * 1.0 / la >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment ≥ 0.8 (quote/subset detection) via
    one-sided prefix filtering against a full inverted index — the
    asymmetric complement to ``dedup_ngram_jaccard`` (operators/dedup.py
    ``containment_pairs``)."""
    return D.containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "embedding_covariance",
    oracle="""
WITH ex AS (
  SELECT vec_id, r.i AS i, embedding[r.i]::DOUBLE AS v
  FROM embeddings, range(1, 65) r(i)
)
SELECT a.i - 1 AS i, b.i - 1 AS j, round(covar_samp(a.v, b.v), 6) + 0.0 AS cov
FROM ex a JOIN ex b USING (vec_id)
WHERE a.i <= b.i
GROUP BY a.i, b.i
""",
)
def embedding_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance matrix (upper triangle) of the embedding column —
    the one-pass sufficient-statistics reduction behind whitening/PCA.
    Spark side reduces each Arrow batch with BLAS (X^T X) and merges only
    ~#partitions partial rows (operators/vector_stats.py); the oracle's
    relational d^2-explode formulation is the semantics, not the plan."""
    from flink_realtime_sessionize_sample_spark.operators.vector_stats import (
        embedding_covariance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", dim=64)


@query(
    "ann_pq_adc_topk",
    oracle=f"""
SELECT count(*)::INT AS n_queries,
       TRUE AS each_query_has_k_rows,
       TRUE AS mean_recall_ge_15pct
FROM embeddings WHERE {_QUERY_PRED_D}
""",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Jégou et al.
    2011): corpus compressed to 8 codes + a norm per vector (16 bytes vs
    256 fp32), queries scored full-precision against per-query lookup
    tables — operators/similarity.py::pq_adc_topk. Codebooks aren't
    SQL-expressible, so the oracle is bounds-style like the trained IVF:
    exact anchors + booleans asserting k rows per query and recall@5 vs
    brute force ≥ 0.15 — conservatively half the measured 0.32 on these
    RANDOM vectors (PQ's worst case: no subspace structure to exploit) and
    15× the 1% random-chance floor, robust to k-means|| init varying with
    input partitioning. Recall is computed distributed (semi-join vs exact
    top-k)."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(_query_pred_s())
    pq = pq_adc_topk(emb, q, k=5)
    exact_pairs = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")

    per_q = pq.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    shape = per_q.agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.min((F.col("n") == 5).cast("int")).cast("boolean").alias(
            "each_query_has_k_rows"
        ),
    )
    hits = (
        pq.select("query_id", "neighbor_id")
        .join(exact_pairs, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    total = exact_pairs.agg(F.count(F.lit(1)).alias("_n_exact"))
    return (
        shape.crossJoin(hits)
        .crossJoin(total)
        .select(
            "n_queries",
            "each_query_has_k_rows",
            (F.col("_hits") / F.col("_n_exact") >= 0.15).alias(
                "mean_recall_ge_15pct"
            ),
        )
    )


@query(
    "ann_ivf_pq_topk",
    oracle=f"""
SELECT count(*)::INT AS n_queries,
       TRUE AS each_query_has_k_rows,
       TRUE AS mean_recall_ge_8pct
FROM embeddings WHERE {_QUERY_PRED_D}
""",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (the FAISS-IVFPQ billion-vector serving layout):
    coarse cells prune to nprobe=5 of 8, PQ codes score the survivors
    through per-query LUTs — operators/similarity.py::ivf_pq_topk. Bounds
    oracle: k rows per query + recall@5 vs brute force ≥ 0.08 (2 of 25) —
    measured 0.32 with these knobs on random vectors (both quantizers'
    worst case; chance floor 1%), floor set 4× below to absorb k-means||
    init variance across input partitionings."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        ivf_pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(_query_pred_s())
    approx = ivf_pq_topk(emb, q, k=5, nprobe=5)
    exact_pairs = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")

    per_q = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    shape = per_q.agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.min((F.col("n") == 5).cast("int")).cast("boolean").alias(
            "each_query_has_k_rows"
        ),
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact_pairs, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    total = exact_pairs.agg(F.count(F.lit(1)).alias("_n_exact"))
    return (
        shape.crossJoin(hits)
        .crossJoin(total)
        .select(
            "n_queries",
            "each_query_has_k_rows",
            (F.col("_hits") / F.col("_n_exact") >= 0.08).alias("mean_recall_ge_8pct"),
        )
    )


@query(
    "near_dup_triangles",
    oracle=_DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5
)
SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
FROM edges e1
JOIN edges e2 ON e1.doc_b = e2.doc_a
JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
""",
)
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the near-dup graph (MinHash-LSH edges ≥ 0.5)
    — the graph-analytics primitive behind clustering-coefficient /
    community-density diagnostics of a dedup graph (a triangle-rich cluster
    is a true duplicate family; a star is one template touching many).

    Edges are canonical (doc_a < doc_b), so the 3-way self-join counts each
    triangle once as a < b < c. With id-ordered edges the join fan-out is
    bounded by per-node out-degree; the production refinement (degree
    ordering, so every edge points low→high degree and fan-out is bounded
    by sqrt(|E|)) drops in by replacing the ordering key — same plan shape.
    """
    edges = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    ).select("doc_a", "doc_b")
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


# --- C4-style corpus-level duplicate-span removal -------------------------

@query(
    "line_dedup_c4",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_duck('text')} AS t FROM documents
), seg AS (
  -- range() cannot take a lateral column bound in DuckDB, so the segment
  -- index is capped by a generous constant: 4096 segments x 10 tokens =
  -- docs up to 40,960 tokens (testdata max is ~100 tokens; the Spark side
  -- is uncapped). The WHERE clause trims the unused indices per doc.
  SELECT doc_id, s.i AS seg_i,
         array_to_string(t[(s.i*10+1):(s.i*10+10)], ' ') AS line
  FROM toks, range(0, 4096) s(i)
  WHERE s.i * 10 < len(t)
), keyed AS (
  SELECT doc_id, seg_i, line,
         {T.h48_duck('line')} AS lh
  FROM seg
), firsts AS (
  -- first occurrence = lexicographic MIN over the (doc_id, seg_i) struct:
  -- no packed-slot arithmetic, so no bound on tokens-per-doc.
  SELECT lh, min(struct_pack(d := doc_id, s := seg_i)) AS fs
  FROM keyed GROUP BY lh
)
SELECT k.doc_id,
       count(*)::BIGINT AS n_segments,
       sum(CASE WHEN k.doc_id = f.fs.d AND k.seg_i = f.fs.s
                THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(array_to_string(
         list(CASE WHEN k.doc_id = f.fs.d AND k.seg_i = f.fs.s
                   THEN k.line END ORDER BY k.seg_i),
         ' '), '') AS clean_text
FROM keyed k JOIN firsts f USING (lh)
GROUP BY k.doc_id
""",
)
def line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level duplicate-span removal (Raffel et al. 2020
    §2.2: "we removed all but one of any three-sentence span occurring more
    than once in the data set").

    The testdata documents are flat token streams (no sentence boundaries),
    so the span unit is a fixed 10-token segment; semantics are otherwise
    C4's: every repeated span keeps exactly ONE occurrence corpus-wide —
    the first in deterministic (doc_id, position) order — and all other
    occurrences are dropped, then each document is reassembled from its
    surviving segments in order.

    Scale shape (the real C4 step at 100 TB runs exactly like this):
    segment → hash-aggregate the 48-bit span fingerprint to its arg-min
    (doc, slot) (map-side combinable MIN, O(distinct spans) state) → join
    the fingerprint table back on the span hash → regroup by doc. Only
    fixed-width (hash, slot) rows cross the first shuffle — span TEXT never
    shuffles twice: the rejoin is on the already-co-partitioned hash. No
    broadcast of anything corpus-proportional; both exchanges are on keys
    with corpus-bounded cardinality. The 48-bit fingerprint is the same
    md5-derived portable hash the whole dedup family uses (functions/
    text.py), so DuckDB reproduces it bit-for-bit — the oracle checks the
    real pipeline, not a lookalike.
    """
    return line_dedup_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def line_dedup_frame(docs: DataFrame) -> DataFrame:
    """The ``line_dedup_c4`` pipeline over an arbitrary (doc_id, text)
    frame — shared by the registered query and bench.py's scale smoke."""
    toks = docs.select("doc_id", F.expr(T.tokens_spark("text")).alias("t"))
    seg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, cast((size(t) - 1) / 10 as int)),"
                " i -> struct(i as seg_i,"
                " concat_ws(' ', slice(t, i * 10 + 1, 10)) as line))"
            )
        ).alias("s"),
    ).select("doc_id", "s.seg_i", "s.line")
    keyed = seg.withColumn("lh", F.expr(T.h48_spark("line")))
    # First occurrence per span = lexicographic MIN of the (doc_id, seg_i)
    # struct — no packed-slot arithmetic, so no tokens-per-doc bound; the
    # aggregate is still a map-side-combinable MIN of a fixed-width value.
    firsts = keyed.groupBy("lh").agg(
        F.min(F.struct("doc_id", "seg_i")).alias("_first")
    )
    kept = keyed.join(firsts, "lh").withColumn(
        "keep",
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("seg_i") == F.col("_first.seg_i")),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(filter(sort_array(collect_list(struct(seg_i, "
                "case when keep then line end as line))), x -> x.line is not null),"
                " x -> x.line)"
            ),
        ).alias("clean_text"),
    )


# --- PageRank over the near-dup graph (3 unrolled iterations) -------------

def _pagerank_iter_duck(k: int) -> str:
    return f"""
pr{k} AS (
  SELECT s.dst AS doc_id,
         0.15 / (SELECT nn FROM n) + 0.85 * sum(p.pr / d.d) AS pr
  FROM sym s
  JOIN pr{k - 1} p ON s.src = p.doc_id
  JOIN deg d ON s.src = d.src
  GROUP BY s.dst
)"""


@query(
    "pagerank_neardup_3iter",
    oracle=_DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM edges
),
deg AS (SELECT src, count(*)::BIGINT AS d FROM sym GROUP BY src),
n AS (SELECT count(*)::BIGINT AS nn FROM deg),
pr0 AS (SELECT src AS doc_id, 1.0 / (SELECT nn FROM n) AS pr FROM deg),
"""
    + ",".join(_pagerank_iter_duck(k) for k in (1, 2, 3))
    + """
SELECT doc_id, round(pr, 6) + 0.0 AS pagerank FROM pr3
""",
)
def pagerank_neardup_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the symmetrized MinHash
    near-dup graph — centrality on the duplicate graph separates template
    hubs (one boilerplate page touching hundreds) from mutual-duplicate
    families, the standard triage signal after LSH candidate generation.

    Iterative-algorithm shape on Spark: the iteration count is FIXED and
    small, so the loop unrolls into one declarative plan (a Python loop
    appends 3 join+aggregate layers — no driver collect, no RDD, and
    Catalyst sees the whole DAG; contrast ``dedup.py``'s connected
    components, which needs data-dependent rounds and therefore a
    convergence fingerprint). Each iteration is one shuffle on the edge
    key; the rank vector is O(|V|) rows, never driver-side. The graph is
    restricted to nodes with ≥1 edge (symmetric ⇒ no dangling mass, so
    ranks sum to 1 and the oracle can unroll the same 3 layers as chained
    CTEs). The 48-bit md5 MinHash pipeline is shared with the dedup family,
    so DuckDB rebuilds the identical edge set.
    """
    edges = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    ).select("doc_a", "doc_b")
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = deg.agg(F.count(F.lit(1)).alias("nn"))
    pr = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("doc_id"), (F.lit(1.0) / F.col("nn")).alias("pr")
    )
    contrib_base = sym.join(deg, "src")
    for _ in range(3):
        pr = (
            contrib_base.join(pr, contrib_base.src == pr.doc_id)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("_mass"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("doc_id"),
                (F.lit(0.15) / F.col("nn") + F.lit(0.85) * F.col("_mass")).alias("pr"),
            )
        )
    return pr.select(
        "doc_id", (F.round("pr", 6) + F.lit(0.0)).alias("pagerank")
    )


# --- per-source unigram KL divergence -------------------------------------

@query(
    "source_unigram_kl",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({T.tokens_duck('text')}) AS w FROM documents
), sc AS (
  SELECT source, w, count(*)::BIGINT AS c FROM tok GROUP BY source, w
), stot AS (
  SELECT source, sum(c)::BIGINT AS ns FROM sc GROUP BY source
), ctot AS (
  SELECT w, sum(c)::BIGINT AS cw FROM sc GROUP BY w
), nt AS (SELECT sum(c)::BIGINT AS nn FROM sc)
SELECT sc.source, stot.ns AS n_tokens,
       round(sum((sc.c / stot.ns) * ln((sc.c / stot.ns) / (ctot.cw / nt.nn))), 6)
         + 0.0 AS kl_divergence
FROM sc
JOIN stot USING (source)
JOIN ctot USING (w)
CROSS JOIN nt
GROUP BY sc.source, stot.ns
""",
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the whole-corpus distribution —
    the corpus-mixing diagnostic that ranks sources by how far their token
    distribution drifts from the blend (the quantitative input behind
    temperature-weighted mixing à la ``domain_mixture_sample``).

    One explode → one (source, token) hash aggregate; the token-marginal
    side is a second aggregate of THAT table (counts only — the corpus
    text is scanned once), joined back on the token key with no broadcast
    hint (vocabulary-sized at web scale: AQE decides, same contract as
    ``doc_tfidf_topk``). Per-source totals are a ~|sources|-row aggregate.
    KL terms are exact integer ratios fed through double log; every
    source's partial sums ride the final map-side-combinable aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    sc = (
        docs.select("source", F.explode(F.expr(T.tokens_spark("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = sc.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    ctot = sc.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    nt = sc.agg(F.sum("c").cast("long").alias("nn"))
    term = (
        sc.join(F.broadcast(stot), "source")
        .join(ctot, "w")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            "ns",
            (
                (F.col("c") / F.col("ns"))
                * F.log((F.col("c") / F.col("ns")) / (F.col("cw") / F.col("nn")))
            ).alias("t"),
        )
    )
    return term.groupBy("source", F.col("ns").alias("n_tokens")).agg(
        (F.round(F.sum("t"), 6) + F.lit(0.0)).alias("kl_divergence")
    )


# --- per-label embedding centroids + pairwise cosine ----------------------

@query(
    "label_centroid_similarity",
    oracle="""
WITH ex AS (
  SELECT label, r.i AS i, embedding[r.i]::DOUBLE AS v
  FROM embeddings, range(1, 65) r(i)
), comp AS (
  SELECT label, i, sum(v) / count(*) AS m FROM ex GROUP BY label, i
), nrm AS (
  SELECT label, sum(m * m) AS n2 FROM comp GROUP BY label
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.m * b.m) AS dot
  FROM comp a JOIN comp b ON a.i = b.i AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT d.label_a, d.label_b,
       round(d.dot / sqrt(na.n2 * nb.n2), 6) + 0.0 AS cos_sim
FROM dots d
JOIN nrm na ON d.label_a = na.label
JOIN nrm nb ON d.label_b = nb.label
""",
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids and their pairwise cosine — the
    cluster-geometry diagnostic (are classes separable? which collapse
    together?) that pairs with ``embedding_covariance``'s spread and the
    ANN family's retrieval.

    Vector AGGREGATION without UDFs: component means come from one
    (label, dim) hash aggregate over the posexploded corpus — map-side
    combinable, O(|labels|·d) result rows — so the corpus vectors
    themselves cross no shuffle twice. The pairwise stage then runs
    entirely on centroid tables of |labels|·d rows (dot products via a
    dim-keyed join, norms a second tiny aggregate): at a billion vectors
    the only data-proportional pass is the first scan+aggregate, exactly
    the shape of the covariance operator. Doubles forced on both engines
    before any product; cosine rounded to 6dp.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("i0", "v0")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("v0").cast("double").alias("v"),
    )
    comp = ex.groupBy("label", "i").agg(
        (F.sum("v") / F.count(F.lit(1))).alias("m")
    )
    nrm = comp.groupBy("label").agg(F.sum(F.col("m") * F.col("m")).alias("n2"))
    b = comp.select(
        F.col("label").alias("label_b"), F.col("i").alias("ib"), F.col("m").alias("mb")
    )
    dots = (
        comp.join(b, (F.col("i") == F.col("ib")) & (F.col("label") < F.col("label_b")))
        .groupBy(F.col("label").alias("label_a"), "label_b")
        .agg(F.sum(F.col("m") * F.col("mb")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("n2").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("n2").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            (F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6) + F.lit(0.0)).alias(
                "cos_sim"
            ),
        )
    )


# --- contrastive negative sampling ----------------------------------------

@query(
    "negative_sampling_contrastive",
    oracle=_DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + f"""
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5
),
anchors AS (SELECT doc_id AS anchor FROM documents WHERE doc_id % 100 = 0),
cands AS (
  SELECT a.anchor, d.doc_id AS negative,
         {T.h48_duck("concat(a.anchor::VARCHAR, ':', d.doc_id::VARCHAR)")} AS draw
  FROM anchors a JOIN documents d ON d.doc_id <> a.anchor
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE (e.doc_a = a.anchor AND e.doc_b = d.doc_id)
                       OR (e.doc_b = a.anchor AND e.doc_a = d.doc_id))
), ranked AS (
  SELECT anchor, negative, draw,
         row_number() OVER (PARTITION BY anchor ORDER BY draw, negative) AS rk
  FROM cands
)
SELECT anchor, negative, rk FROM ranked WHERE rk <= 5
""",
)
def negative_sampling_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 5
    negatives per anchor document, drawn uniformly via the portable
    48-bit hash with the corpus's NEAR-DUP NEIGHBORS EXCLUDED — the false
    negatives that poison contrastive objectives (a near-duplicate pushed
    apart as a "negative" is a mislabeled positive). The standard
    embedding-training data step downstream of the dedup family.

    Shape at scale: anchors are a bounded training batch, so the
    candidate stage is |anchors| × corpus — the contamination-scan shape,
    anchor side broadcast, corpus scanned once. Near-dup exclusion is a
    broadcast anti-join against the (symmetric) MinHash edge set; the
    per-anchor top-k rides a window partitioned by anchor (balanced, one
    exchange). The hash draw makes the sample reproducible and the
    oracle able to replay it exactly — no rand(), no seed drift across
    partitionings.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    ).select("doc_a", "doc_b")
    sym = edges.unionAll(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    anchors = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("anchor")
    )
    cands = (
        anchors.join(docs, docs.doc_id != anchors.anchor)
        .select("anchor", F.col("doc_id").alias("negative"))
        .join(
            F.broadcast(
                sym.select(
                    F.col("doc_a").alias("anchor"), F.col("doc_b").alias("negative")
                )
            ),
            ["anchor", "negative"],
            "left_anti",
        )
        .withColumn(
            "draw",
            F.expr(
                T.h48_spark(
                    "concat(cast(anchor as string), ':', cast(negative as string))"
                )
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("anchor").orderBy("draw", "negative")
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("anchor", "negative", "rk")
    )


# --- round 6: substring-level exact dedup ---------------------------------


@query(
    "substring_dedup_spans",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
w AS (
  SELECT doc_id, pos,
         {T.h48_duck("array_to_string(t[pos:pos+7], ' ')")} AS h
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS pos
        FROM tok WHERE len(t) >= 8)
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM w
  ) WHERE rn > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (count(*) + 7)::BIGINT AS span_len_tokens
FROM isl GROUP BY doc_id, grp
""",
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup à la Lee et al. 2022: maximal token
    spans ≥ 8 tokens that already occurred earlier in the corpus
    ((doc_id, pos) keep-first order), computed as runs of consecutive
    duplicated 8-gram windows — the Spark-native equivalent of the
    suffix-array scan for spans ≥ min_span
    (operators/dedup.py::duplicate_substring_spans). The DuckDB twin runs
    the identical window-hash → first-occurrence → gaps-and-islands
    pipeline, so the hash gate checks every stage, including the maximal-
    run stitching."""
    return D.duplicate_substring_spans(
        load_table(spark, sf_dir, "documents"), min_span=8
    )


# --- round 6: incremental corpus-vs-index dedup ---------------------------


# Shared by the batch probe and its streaming (stream-static join) twin:
# both must equal full-corpus dedup restricted to the increment.
_INCREMENTAL_ORACLE = (
    _DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + f"""
, cex AS (
  SELECT {T.h48_duck("lower(trim(text))")} AS content_hash, min(doc_id) AS c_doc
  FROM documents WHERE doc_id % 10 < 8 GROUP BY 1
),
iex AS (
  SELECT doc_id, {T.h48_duck("lower(trim(text))")} AS content_hash
  FROM documents WHERE doc_id % 10 >= 8
),
cb AS (
  SELECT band_idx::VARCHAR || '|' || sig AS bsig, min(doc_id) AS c_doc
  FROM bands WHERE doc_id % 10 < 8 GROUP BY 1
),
ib AS (
  SELECT doc_id, band_idx::VARCHAR || '|' || sig AS bsig
  FROM bands WHERE doc_id % 10 >= 8
),
nearm AS (
  SELECT ib.doc_id, min(cb.c_doc) AS n_doc
  FROM ib JOIN cb USING (bsig) GROUP BY ib.doc_id
)
SELECT i.doc_id,
       CASE WHEN e.c_doc IS NOT NULL THEN 'exact'
            WHEN n.n_doc IS NOT NULL THEN 'near'
            ELSE 'unique' END AS verdict,
       coalesce(e.c_doc, n.n_doc)::DOUBLE AS matched_corpus_doc
FROM iex i
LEFT JOIN cex e USING (content_hash)
LEFT JOIN nearm n ON n.doc_id = i.doc_id
"""
)


@query("dedup_incremental_index", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against a PERSISTED
    fingerprint index — the production shape for a growing corpus
    (operators/incremental.py). Corpus = doc_id % 10 < 8, increment = the
    rest; the query builds the bucketed exact-hash + MinHash-band index
    tables from the corpus, then grades the increment against the index
    alone (no corpus text rescan). The oracle computes the same verdicts
    directly from the full documents table — the hash gate is the proof
    that probe-vs-index ≡ full-corpus dedup restricted to the increment."""
    from flink_realtime_sessionize_sample_spark.operators.incremental import (
        build_dedup_index,
        incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    increment = docs.filter(F.col("doc_id") % 10 >= 8)
    build_dedup_index(corpus)
    return incremental_dedup(spark, increment)


# --- round 6: SemDeDup-style semantic dedup -------------------------------


@query(
    "semantic_dedup_semdedup",
    oracle="""
SELECT count(*)::INT AS n_vectors,
       TRUE AS clusters_cover_all,
       TRUE AS pairs_subset_of_brute,
       TRUE AS recall_vs_brute_ge_20pct
FROM embeddings
""",
)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: KMeans-cluster the
    embedding corpus (trained-IVF machinery, seed 42), score near-dup
    pairs within clusters only, prune keep-first
    (operators/similarity.py::semdedup_pairs). A k-means codebook is not
    SQL-expressible, so the oracle is bounds-style like
    ``ann_ivf_trained_topk``: the exact vector count anchors the input,
    and three audited booleans assert (a) every vector lands in exactly
    one cluster, (b) PRECISION is exact — every emitted pair is in the
    brute-force cosine ≥ 0.4 set (the within-cluster scorer is the same
    arithmetic), (c) recall vs brute force ≥ 0.20 — conservatively below
    the measured 0.36–0.51 across scales and safely above the ~0.125
    balanced-8-cluster chance floor, robust to k-means|| init varying
    with partitioning. Recall/precision are computed distributed
    (semi/anti joins against the labeled exact tier)."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        semdedup_assign,
        semdedup_pairs,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Train the codebook once; both the pair scorer and the coverage audit
    # consume the same broadcastable centroid table.
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    sem = semdedup_pairs(emb, threshold=0.4, centroids=cents)
    brute = D.embedding_near_dup_pairs(emb, threshold=0.4, lsh_bits=None).select(
        "vec_a", "vec_b"
    )
    n_vec = emb.agg(F.count(F.lit(1)).cast("int").alias("n_vectors"))
    sem_pairs = sem.select("vec_a", "vec_b")
    hits = sem_pairs.join(brute, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).alias("_hits")
    )
    extras = sem_pairs.join(brute, ["vec_a", "vec_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("_extras")
    )
    total = brute.agg(F.count(F.lit(1)).alias("_brute"))
    assigned_n = semdedup_assign(emb, cents).agg(
        F.count(F.lit(1)).alias("_assigned")
    )
    return (
        n_vec.crossJoin(assigned_n)
        .crossJoin(hits)
        .crossJoin(extras)
        .crossJoin(total)
        .select(
            "n_vectors",
            (F.col("_assigned") == F.col("n_vectors")).alias("clusters_cover_all"),
            (F.col("_extras") == 0).alias("pairs_subset_of_brute"),
            (F.col("_hits") / F.col("_brute") >= 0.20).alias(
                "recall_vs_brute_ge_20pct"
            ),
        )
    )


@query(
    "substring_dedup_coverage",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
w AS (
  SELECT doc_id, n, pos,
         {T.h48_duck("array_to_string(t[pos:pos+7], ' ')")} AS h
  FROM (SELECT doc_id, t, len(t)::BIGINT AS n, unnest(range(1, len(t) - 8 + 2)) AS pos
        FROM tok WHERE len(t) >= 8)
),
dup AS (
  SELECT doc_id, n, pos, pos + 7 AS endp FROM (
    SELECT doc_id, n, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM w
  ) WHERE rn > 1
),
g AS (
  SELECT doc_id, n, pos, endp,
         CASE WHEN pos > coalesce(max(endp) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, n, pos, endp,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM g
),
agg AS (
  SELECT doc_id, grp, any_value(n) AS n, min(pos) AS mn, max(endp) AS mx
  FROM isl GROUP BY doc_id, grp
)
SELECT doc_id, any_value(n) AS n_tokens,
       sum(mx - mn + 1)::BIGINT AS dup_tokens,
       round(sum(mx - mn + 1) / any_value(n), 6) AS dup_fraction
FROM agg GROUP BY doc_id
""",
)
def substring_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token coverage — the interval-UNION rollup of
    ``substring_dedup_spans`` (operators/dedup.py::substring_dedup_coverage):
    for each doc, how many tokens sit inside some ≥ 8-token span that
    occurred earlier in the corpus, and what fraction of the doc that is.
    The oracle runs the identical window-hash → first-occurrence →
    prefix-max interval sweep, so the hash gate checks the overlap-aware
    union arithmetic too."""
    return D.substring_dedup_coverage(
        load_table(spark, sf_dir, "documents"), min_span=8
    )


@query(
    "cdc_chunk_dedup",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
b AS (
  SELECT doc_id, t, len(t)::BIGINT AS n,
         list_filter(range(4, len(t) + 1), i ->
           {T.h48_duck("array_to_string(t[i-3:i], ' ')")} % 8 = 0) AS bpos
  FROM tok WHERE len(t) >= 4
),
bounds AS (
  SELECT doc_id, t,
         list_sort(list_distinct(list_concat(list_concat([0::BIGINT], bpos), [n]))) AS bs
  FROM b
),
chunks AS (
  SELECT doc_id,
         array_to_string(t[bs[u.j] + 1 : bs[u.j + 1]], ' ') AS chunk
  FROM bounds, unnest(range(1, len(bs))) AS u(j)
),
hashed AS (
  SELECT doc_id, {T.h48_duck('chunk')} AS chunk_hash
  FROM chunks WHERE chunk <> ''
)
SELECT chunk_hash, count(*) AS n_copies, min(doc_id) AS canonical_doc_id
FROM hashed GROUP BY chunk_hash HAVING count(*) > 1
""",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (operators/dedup.py::cdc_chunk_dedup):
    rolling 4-gram hash boundaries (avg chunk ≈ 8 tokens), chunks hashed
    and collapsed corpus-wide; duplicated chunks reported with their
    canonical (min) document. Boundaries follow content, so shared tails
    of shifted copies still dedup — the storage-dedup primitive applied
    to corpus text. One shuffle total (the chunk-hash aggregate)."""
    return D.cdc_chunk_dedup(load_table(spark, sf_dir, "documents"), k=4, mod=8)


@query("stream_incremental_index_dedup", oracle=_INCREMENTAL_ORACLE)
def stream_incremental_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-ingest shape of incremental dedup: the increment arrives
    as a STREAM (2 micro-batches via maxFilesPerTrigger=1) and every doc is
    graded against the persisted bucketed fingerprint index through
    STATELESS stream-static joins — append mode, no watermark, no state
    store; verdicts ship to the sink as each micro-batch lands
    (operators/incremental.py::incremental_probe_streams). The final
    rollup (per-doc min over band matches + verdict CASE) runs batch-side
    over the sink tables, exactly as a downstream consumer would. Oracle:
    the SAME full-corpus SQL as ``dedup_incremental_index`` — streaming
    probe ≡ batch probe ≡ full-corpus dedup restricted to the increment,
    all value-hash checked."""
    from flink_realtime_sessionize_sample_spark.operators.incremental import (
        build_dedup_index,
        incremental_probe_streams,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        drain_to_memory,
        scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    increment = docs.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    build_dedup_index(corpus, "s_idx_exact", "s_idx_bands")

    with scratch_dir("inc_stream_src_") as src:
        # Two parquet files → two micro-batches (deterministic split).
        increment.filter(F.col("doc_id") % 20 < 18).write.parquet(f"{src}/a")
        increment.filter(F.col("doc_id") % 20 >= 18).write.parquet(f"{src}/b")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        exact_s, near_s = incremental_probe_streams(
            spark, stream, "s_idx_exact", "s_idx_bands"
        )
        exact_m = drain_to_memory(exact_s, "stream_incremental_index_dedup_exact")
        near_rows = drain_to_memory(near_s, "stream_incremental_index_dedup_near")

    near_m = near_rows.groupBy("doc_id").agg(
        F.min("_near_doc").alias("_near_doc")
    )
    verdict = (
        F.when(F.col("_exact_doc").isNotNull(), F.lit("exact"))
        .when(F.col("_near_doc").isNotNull(), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    return exact_m.join(near_m, "doc_id", "left").select(
        "doc_id",
        verdict.alias("verdict"),
        F.coalesce("_exact_doc", "_near_doc").cast("double").alias("matched_corpus_doc"),
    )


@query(
    "dedup_survivor_corpus",
    oracle=_DOC_SHINGLES_CTE
    + f"""
, ex AS (SELECT doc_id, len(sh) AS _n, unnest(sh) AS s FROM nonempty),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, _n,
           row_number() OVER (PARTITION BY doc_id ORDER BY _df ASC, s ASC) AS _pos
    FROM (SELECT doc_id, s, _n, count(*) OVER (PARTITION BY s) AS _df FROM ex)
  ) WHERE _pos <= _n - ceil(0.5 * _n) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
near_pruned AS (
  SELECT DISTINCT doc_b AS doc_id FROM verified WHERE common::DOUBLE / uni >= 0.5
),
exact_pruned AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY {T.h48_duck('lower(trim(text))')}) AS c_doc
    FROM documents
  ) WHERE doc_id <> c_doc
),
w AS (
  SELECT doc_id, n, pos,
         {T.h48_duck("array_to_string(tt[pos:pos+7], ' ')")} AS h
  FROM (SELECT doc_id, t AS tt, len(t)::BIGINT AS n,
               unnest(range(1, len(t) - 8 + 2)) AS pos
        FROM tok WHERE len(t) >= 8)
),
dupw AS (
  SELECT doc_id, n, pos, pos + 7 AS endp FROM (
    SELECT doc_id, n, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM w
  ) WHERE rn > 1
),
gg AS (
  SELECT doc_id, n, pos, endp,
         CASE WHEN pos > coalesce(max(endp) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS brk
  FROM dupw
),
isl AS (
  SELECT doc_id, n, pos, endp,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM gg
),
cov_pruned AS (
  SELECT doc_id FROM (
    SELECT doc_id, any_value(n) AS n, sum(mx - mn + 1) AS dup_tokens FROM (
      SELECT doc_id, grp, any_value(n) AS n, min(pos) AS mn, max(endp) AS mx
      FROM isl GROUP BY doc_id, grp
    ) GROUP BY doc_id
  ) WHERE dup_tokens > 0.5 * n
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN nr.doc_id IS NOT NULL THEN 'near'
            WHEN cv.doc_id IS NOT NULL THEN 'substring'
            ELSE NULL END AS reason,
       (e.doc_id IS NULL AND nr.doc_id IS NULL AND cv.doc_id IS NULL) AS keep
FROM documents d
LEFT JOIN exact_pruned e ON e.doc_id = d.doc_id
LEFT JOIN near_pruned nr ON nr.doc_id = d.doc_id
LEFT JOIN cov_pruned cv ON cv.doc_id = d.doc_id
""",
)
def dedup_survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup DECISION: one row per document with keep/prune
    and the first firing rule — the query a pipeline operator actually
    ships. Tiers compose keep-first, strongest evidence wins:
      1. ``exact``    — a smaller-id doc has identical normalized text;
      2. ``near``     — a smaller-id doc with shingle Jaccard ≥ 0.5
                        (exact PPJoin tier, not the probabilistic LSH);
      3. ``substring``— > 50 % of the doc's tokens sit inside ≥ 8-token
                        spans that occurred earlier in the corpus.
    Each tier is the already-verified operator
    (operators/dedup.py::{{exact_dedup_groups, ngram_jaccard_pairs,
    substring_dedup_coverage}}); this query is their broadcast-join
    composition, and the oracle recomputes all three tiers + the CASE in
    one SQL statement — a full value-hash check of the composed decision,
    not a bounds audit."""
    docs = load_table(spark, sf_dir, "documents")
    exact_pruned = (
        D.exact_dedup_groups(docs)
        .filter(F.col("n_copies") > 1)
        .join(
            docs.select(
                "doc_id",
                F.expr(T.h48_spark("lower(trim(text))")).alias("content_hash"),
            ),
            "content_hash",
        )
        .filter(F.col("doc_id") != F.col("canonical_doc_id"))
        .select("doc_id")
    )
    near_pruned = (
        D.ngram_jaccard_pairs(docs, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    cov_pruned = (
        D.substring_dedup_coverage(docs, min_span=8)
        .filter(F.col("dup_tokens") > 0.5 * F.col("n_tokens"))
        .select("doc_id")
    )
    reason = (
        F.when(F.col("_ex").isNotNull(), F.lit("exact"))
        .when(F.col("_nr").isNotNull(), F.lit("near"))
        .when(F.col("_cv").isNotNull(), F.lit("substring"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        docs.select("doc_id")
        .join(exact_pruned.withColumn("_ex", F.lit(1)), "doc_id", "left")
        .join(near_pruned.withColumn("_nr", F.lit(1)), "doc_id", "left")
        .join(cov_pruned.withColumn("_cv", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            reason.alias("reason"),
            (
                F.col("_ex").isNull() & F.col("_nr").isNull() & F.col("_cv").isNull()
            ).alias("keep"),
        )
    )


# --- round 6: iterative BPE tokenizer training ----------------------------


def _bpe_oracle_ctes(n_merges: int, top_words: int) -> str:
    """Unrolled n-merge BPE training loop in DuckDB SQL (CTE chain only —
    shared by the trainer and encoder oracles). Each stage picks the
    globally most frequent adjacent symbol pair (count desc, pair asc
    tie-break) and applies the merge to every word via leftmost
    non-overlapping string replace — the exact BPE merge rule, identical
    in both engines."""
    parts = [
        f"""
WITH vocab AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest({_TOKS_D}) AS w FROM documents
  ) WHERE length(w) > 0 GROUP BY w
  ORDER BY cnt DESC, word ASC LIMIT {top_words}
),
w0 AS (
  SELECT word, cnt,
         ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
  FROM vocab
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
, pairs{i} AS (
  SELECT sym[i] AS a, sym[i + 1] AS b, sum(cnt)::BIGINT AS c
  FROM (
    SELECT cnt, string_split(trim(s), ' ') AS sym FROM w{i - 1}
  ), unnest(range(1, greatest(len(sym), 1))) AS u(i)
  GROUP BY a, b
),
top{i} AS (SELECT a, b, c FROM pairs{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
w{i} AS (
  -- TWO replace passes: one leftmost-nonoverlapping scan consumes the
  -- separator space shared by back-to-back occurrences ([a,b,a,b] would
  -- under-merge to [ab,a,b]); survivors after pass 1 are isolated, so
  -- pass 2 completes the canonical BPE merge (unit-tested vs an
  -- array-walk reference).
  SELECT word, cnt,
         replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
                 ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
  FROM w{i - 1} CROSS JOIN top{i}
)"""
        )
    return "".join(parts)


def _bpe_oracle(n_merges: int, top_words: int) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS iteration, a AS left_sym, b AS right_sym, c AS pair_count FROM top{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_oracle_ctes(n_merges, top_words) + "\n" + selects


def bpe_vocab_frame(
    docs: DataFrame, top_words: int = 200, word_counts: DataFrame | None = None
) -> DataFrame:
    """The trainer's only Spark input: the top-``top_words`` corpus words
    (count desc, word asc) as ``(cnt, sym)``, ``sym`` being the word's
    character symbols from Spark's ``split(word, '')`` — code points, the
    same split as the oracle's ``string_split(word, '')``.

    ``word_counts``: a precomputed (word, cnt) corpus frequency frame.
    When the caller already pays a corpus tokenize pass (the encoder's
    (doc, word) table), its per-word rollup replaces the corpus
    explode + aggregate here, so the composed query reads the corpus
    once. The counts are the same integer sums."""
    if word_counts is None:
        word_counts = (
            docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy(F.col("w").alias("word"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return (
        word_counts.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(top_words)
        .select("cnt", F.expr("split(word, '')").alias("sym"))
    )


def _bpe_replace(a: str, b: str) -> tuple[str, str]:
    """The oracle's merge of pair (a, b) on a space-joined symbol string:
    replace the first string by the second, in TWO leftmost
    non-overlapping passes (see the comment in ``_bpe_oracle_ctes``)."""
    return f" {a} {b} ", f" {a}{b} "


def bpe_merge_plan(
    docs: DataFrame,
    n_merges: int = 5,
    top_words: int = 200,
    word_counts: DataFrame | None = None,
) -> list[tuple[str, str, int]]:
    """Train the tokenizer: the learned merges ``(a, b, pair_count)`` in
    round order. Shared by ``bpe_train_frame``, ``bpe_encode_frame`` and
    the reference-trainer unit tests.

    One Spark action collects ``bpe_vocab_frame`` — at most ``top_words``
    rows at any corpus size; the corpus explode, aggregate and top-k stay
    distributed — and the rounds then run in local Python over that table,
    one job in total instead of one per round. Each round is the oracle's
    (``_bpe_oracle_ctes``): frequency-weighted adjacent-pair counts, the
    top pair by (count desc, a asc, b asc) — Python's code-point order is
    the UTF-8 byte order both engines sort strings by — then the two-pass
    merge. A round with no adjacent pair (an empty corpus, or every word a
    single symbol) ends training early, like the oracle's empty ``top``."""
    states = [
        (r["cnt"], " " + " ".join(r["sym"]) + " ")
        for r in bpe_vocab_frame(docs, top_words, word_counts).collect()
    ]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for cnt, s in states:
            sym = s.strip(" ").split(" ")
            for pair in zip(sym, sym[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        old, new = _bpe_replace(a, b)
        states = [(cnt, s.replace(old, new).replace(old, new)) for cnt, s in states]
    return merges


_BPE_MERGE_TYPE = (
    "array<struct<iteration:int,left_sym:string,right_sym:string,pair_count:bigint>>"
)


def bpe_train_frame(
    docs: DataFrame, n_merges: int = 5, top_words: int = 200
) -> DataFrame:
    """The learned merge table (iteration, left_sym, right_sym,
    pair_count) — the trained-tokenizer artifact as one frame, built from
    literals (no input file; executing it runs no Python worker)."""
    rows = [
        F.struct(
            F.lit(i).alias("iteration"),
            F.lit(a).alias("left_sym"),
            F.lit(b).alias("right_sym"),
            F.lit(c).cast("long").alias("pair_count"),
        )
        for i, (a, b, c) in enumerate(bpe_merge_plan(docs, n_merges, top_words), 1)
    ]
    return docs.sparkSession.range(1).select(
        F.inline(F.array(*rows).cast(_BPE_MERGE_TYPE))
    )


def bpe_encode_frame(
    docs: DataFrame, n_merges: int = 5, top_words: int = 200
) -> DataFrame:
    """ENCODE the corpus with the tokenizer trained on it: apply the
    learned merges, in round order, to every distinct word, then roll
    per-document token counts up from the (doc, word) occurrence table.

    Scale shape: training collects only the bounded top-``top_words``
    vocabulary (see ``bpe_merge_plan``); encoding applies the merges as a
    chain of literal two-pass ``replace`` calls to the DISTINCT-word table
    (vocabulary-sized, not corpus-sized — the standard word-level BPE
    encoding trick), and the only corpus-sized operations are the
    (doc_id, word) count aggregate and the final per-doc sum — two hash
    aggregates, no window, no Python. Output per doc: occurrence count,
    pre-merge character-symbol count, and post-merge BPE token count — all
    exact integer sums."""
    # materialize(): the (doc, word) occurrence table feeds the trainer's
    # word counts, the distinct-word encode branch AND the final per-doc
    # rollup join — all three share one corpus explode+aggregate.
    dw = materialize(
        docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    # The trainer's corpus word-frequency table rolls up from the (doc,
    # word) frame (sum of per-doc counts = the direct corpus count, exact
    # integers) instead of a second corpus-sized explode+aggregate.
    wc = dw.groupBy("word").agg(F.sum("n_occ").cast("long").alias("cnt"))
    merges = bpe_merge_plan(docs, n_merges, top_words, word_counts=wc)
    s = F.concat(F.lit(" "), F.array_join(F.expr("split(word, '')"), " "), F.lit(" "))
    for a, b, _ in merges:
        old, new = (F.lit(x) for x in _bpe_replace(a, b))
        s = F.replace(F.replace(s, old, new), old, new)
    words = dw.select("word").distinct()
    if len(merges) < n_merges:
        # A round with no pair to merge empties the oracle's word state
        # (its CROSS JOIN against an empty top-pair row), so a tokenizer
        # that stopped short of n_merges encodes no document.
        words = words.limit(0)
    wtok = words.select(
        "word", F.size(F.split(F.trim(s), " ")).cast("long").alias("n_sym")
    )
    return (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_word_occurrences"),
            F.sum(F.col("n_occ") * F.size(F.expr("split(word, '')")))
            .cast("long")
            .alias("n_char_syms"),
            F.sum(F.col("n_occ") * F.col("n_sym")).cast("long").alias("n_bpe_tokens"),
        )
    )


def _bpe_encode_oracle(n_merges: int, top_words: int) -> str:
    """The trainer's unrolled CTE chain (``_bpe_oracle_ctes``) extended
    with the encode pass: the same two-pass merge applied to every
    distinct corpus word, then per-doc integer rollups."""
    enc = [
        f"""
, dw AS (
  SELECT doc_id, w AS word, count(*) AS n_occ FROM (
    SELECT doc_id, unnest({_TOKS_D}) AS w FROM documents
  ) WHERE length(w) > 0 GROUP BY doc_id, w
),
aw0 AS (
  SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
  FROM (SELECT DISTINCT word FROM dw)
)"""
    ]
    for i in range(1, n_merges + 1):
        enc.append(
            f"""
, aw{i} AS (
  SELECT word,
         replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
                 ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
  FROM aw{i - 1} CROSS JOIN top{i}
)"""
        )
    tail = f"""
, wt AS (
  SELECT word, len(string_split(trim(s), ' '))::BIGINT AS n_sym FROM aw{n_merges}
)
SELECT dw.doc_id,
       sum(dw.n_occ)::BIGINT AS n_word_occurrences,
       sum(dw.n_occ * len(string_split(dw.word, '')))::BIGINT AS n_char_syms,
       sum(dw.n_occ * wt.n_sym)::BIGINT AS n_bpe_tokens
FROM dw JOIN wt USING (word)
GROUP BY dw.doc_id
"""
    return _bpe_oracle_ctes(n_merges, top_words) + "".join(enc) + tail


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle(5, 200))
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the other half of the BPE story: encode every
    document with the 5-round tokenizer trained by ``bpe_train_merges``
    (train on one collected top-200 vocabulary, then apply the merges as
    literals to the distinct words). Per document:
    word occurrences, pre-merge character-symbol count, post-merge BPE
    token count — i.e. the compression the learned merges actually buy,
    the number a token-budgeted 100 TB pipeline bills by. See
    ``bpe_encode_frame`` for the vocabulary-sized encode trick."""
    return bpe_encode_frame(load_table(spark, sf_dir, "documents"), 5, 200)


@query("bpe_train_merges", oracle=_bpe_oracle(5, 200))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iterative BPE tokenizer training (Sennrich et al. 2016), not
    just pair counting: 5 merge rounds over the 200 most frequent corpus
    words (frequency-weighted, character-initialized). Each round picks
    the globally top adjacent symbol pair (count desc, pair asc) and
    merges it everywhere — leftmost non-overlapping in symbol space, via
    the oracle's two-pass string replace. That equals the canonical
    array-walk merge except inside runs of five or more equal symbols
    (unit-tested against a Python reference trainer on adversarial runs,
    and against the oracle on those runs).

    One Spark action: the corpus explode + word aggregate + top-200 run
    distributed and the ≤200-row vocabulary is collected; the rounds then
    run in local Python over that bounded table (see ``bpe_merge_plan``).
    At 100 TB the vocabulary aggregate is the only corpus-sized shuffle
    and it runs once. Output: the learned merge table (iteration,
    left_sym, right_sym, pair_count) — the trained tokenizer artifact, as
    a literal frame."""
    return bpe_train_frame(load_table(spark, sf_dir, "documents"), 5, 200)


def _index_update_oracle() -> str:
    """Three-round index-growth simulation: corpus epoch, then batch a
    (doc_id%20 ∈ {8,9}) probed+appended, then batch b ({18,19}) probed
    against the GROWN index — replicating foreachBatch's sequential
    probe-then-append semantics in pure SQL."""
    hashes = f"SELECT doc_id, {T.h48_duck('lower(trim(text))')} AS ch FROM documents"
    prelude = (
        _DOC_SHINGLES_CTE
        + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
        + f"""
, hashes AS ({hashes}),
bandkeys AS (
  SELECT doc_id, band_idx::VARCHAR || '|' || sig AS bsig FROM bands
),
i0_ex AS (SELECT ch, min(doc_id) AS cd FROM hashes WHERE doc_id % 10 < 8 GROUP BY ch),
i0_bd AS (SELECT bsig, min(doc_id) AS cd FROM bandkeys WHERE doc_id % 10 < 8 GROUP BY bsig)
"""
    )
    rounds = []
    prev = "i0"
    for rnd, pred in (("a", "doc_id % 20 IN (8, 9)"), ("b", "doc_id % 20 IN (18, 19)")):
        rounds.append(
            f"""
, {rnd}_dup AS (
  SELECT DISTINCT doc_id FROM (
    SELECT h.doc_id FROM hashes h JOIN {prev}_ex i ON h.ch = i.ch WHERE h.{pred}
    UNION
    SELECT b.doc_id FROM bandkeys b JOIN {prev}_bd i ON b.bsig = i.bsig WHERE b.{pred}
  )
),
{rnd}_uniq AS (
  SELECT doc_id FROM documents WHERE {pred}
  AND doc_id NOT IN (SELECT doc_id FROM {rnd}_dup)
),
{rnd}_ex AS (
  SELECT ch, cd FROM {prev}_ex
  UNION ALL
  SELECT ch, min(doc_id) AS cd FROM hashes
  WHERE doc_id IN (SELECT doc_id FROM {rnd}_uniq) GROUP BY ch
),
{rnd}_bd AS (
  SELECT bsig, cd FROM {prev}_bd
  UNION ALL
  SELECT bsig, min(doc_id) AS cd FROM bandkeys
  WHERE doc_id IN (SELECT doc_id FROM {rnd}_uniq) GROUP BY bsig
)"""
        )
        prev = rnd
    tail = """
SELECT 'exact' AS kind, ch::VARCHAR AS key, cd AS canonical_doc_id FROM b_ex
UNION ALL
SELECT 'band' AS kind, bsig AS key, cd AS canonical_doc_id FROM b_bd
"""
    return prelude + "".join(rounds) + tail


@query("stream_index_update_roundtrip", oracle=_index_update_oracle())
def stream_index_update_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE under streaming ingest — the write half of
    incremental dedup: the fingerprint index must GROW as increments are
    accepted. The increment arrives as two ordered micro-batches; each
    batch is probed against the index AS OF the previous batch inside
    ``foreachBatch``, accepted (fully novel) docs append their
    fingerprints, rejected duplicates append nothing — so batch 2
    correctly dedups against batch 1's accepted docs
    (operators/incremental.py::stream_index_update_writer). The result is
    the FINAL index contents (exact + band tiers), and the oracle
    replays the same three-round simulation in pure SQL — the value-hash
    row proves grow-as-you-ingest ≡ the sequential batch semantics."""
    import os as _os
    import time as _time

    from flink_realtime_sessionize_sample_spark.operators.incremental import (
        build_plain_index,
        stream_index_update_writer,
    )
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        run_available_now,
        scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    build_plain_index(corpus, "ui_idx_exact", "ui_idx_bands")

    with scratch_dir("idx_update_") as base:
        src = f"{base}/src"
        # One part-file per batch; explicit mtimes pin the processing
        # order (FileStreamSource drains oldest-first).
        inc = docs.select("doc_id", "text").filter(F.col("doc_id") % 10 >= 8)
        # batch a = doc_id%20 in {8,9}; batch b = {18,19}
        inc.filter(F.col("doc_id") % 20 < 10).coalesce(1).write.parquet(f"{src}/a")
        inc.filter(F.col("doc_id") % 20 >= 10).coalesce(1).write.parquet(f"{src}/b")
        now = _time.time()
        for sub, age in (("a", 20.0), ("b", 10.0)):
            for f in _os.listdir(f"{src}/{sub}"):
                _os.utime(f"{src}/{sub}/{f}", (now - age, now - age))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_available_now(
            stream_index_update_writer(spark, stream, "ui_idx_exact", "ui_idx_bands")
            .option("checkpointLocation", f"{base}/ckpt"),
            "stream_index_update_roundtrip",
        )

    ex = spark.table("ui_idx_exact").select(
        F.lit("exact").alias("kind"),
        F.col("content_hash").cast("string").alias("key"),
        F.col("canonical_doc_id"),
    )
    bd = spark.table("ui_idx_bands").select(
        F.lit("band").alias("kind"),
        F.col("bsig").alias("key"),
        F.col("canonical_doc_id"),
    )
    return ex.unionAll(bd)


@query(
    "doc_trigram_backoff_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 0),
sc AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 1),
tri AS (
  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, count(*) AS c3
  FROM tr, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
  GROUP BY w1, w2, w3
),
bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c2
  FROM tr, unnest(range(1, greatest(len(t), 1))) AS u(i)
  GROUP BY w1, w2
),
uni AS (
  SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
),
tot AS (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni),
pos AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
  FROM sc, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
scored AS (
  SELECT p.doc_id,
         CASE WHEN tri.c3 IS NOT NULL THEN tri.c3::DOUBLE / b12.c2
              WHEN b23.c2 IS NOT NULL THEN 0.4 * b23.c2::DOUBLE / u2.c1
              ELSE 0.16 * (coalesce(u3.c1, 0) + 1) / (tot.n + tot.v) END AS s,
         CASE WHEN tri.c3 IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM pos p
  LEFT JOIN tri ON p.w1 = tri.w1 AND p.w2 = tri.w2 AND p.w3 = tri.w3
  LEFT JOIN bi b12 ON p.w1 = b12.w1 AND p.w2 = b12.w2
  LEFT JOIN bi b23 ON p.w2 = b23.w1 AND p.w3 = b23.w2
  LEFT JOIN uni u2 ON p.w2 = u2.w
  LEFT JOIN uni u3 ON p.w3 = u3.w
  CROSS JOIN tot
)
SELECT doc_id, count(*)::BIGINT AS n_scored,
       round(avg(ln(s)), 6) AS avg_logprob,
       round(sum(backed_off) * 1.0 / count(*), 6) AS backoff_rate
FROM scored GROUP BY doc_id
""",
)
def doc_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM with stupid backoff (Brants et al. 2007) on a held-out
    split: the LM trains on even doc_ids, odd docs are scored — so the
    backoff chain (trigram MLE → 0.4·bigram → 0.16·add-one unigram)
    genuinely fires, unlike corpus-as-its-own-LM scoring where every
    observed trigram trivially has count ≥ 1. The per-doc mean
    log-probability is the CCNet-style quality filter one tier above
    ``doc_bigram_logprob``; ``backoff_rate`` (an exact integer ratio) is
    the novelty diagnostic.

    Scale shape: three hash-agg count tables from one tokenize pass over
    the training half; scoring is five equi joins on token keys — all
    deliberately hint-free (a web-scale vocabulary is unbounded; AQE
    broadcasts when the measured build side is small, shuffles when not,
    exactly as ``doc_unigram_logprob`` documents). Only the 1-row
    (N, V) total is explicitly broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.expr(_TOKS_S).alias("t"))
    tr = tok.filter(F.col("doc_id") % 2 == 0)
    sc = tok.filter(F.col("doc_id") % 2 == 1)
    tri_expr = (
        "case when size(t) >= 3 then transform(sequence(1, size(t) - 2), "
        "i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2, "
        "element_at(t, i + 2) as w3)) "
        "else cast(null as array<struct<w1:string,w2:string,w3:string>>) end"
    )
    bi_expr = (
        "case when size(t) >= 2 then transform(sequence(1, size(t) - 1), "
        "i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2)) "
        "else cast(null as array<struct<w1:string,w2:string>>) end"
    )

    def _explode(df, expr):
        return (
            df.select("doc_id", F.explode_outer(F.expr(expr)).alias("g"))
            .filter(F.col("g").isNotNull())
            .select("doc_id", "g.*")
        )

    tri = _explode(tr, tri_expr).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    bi = _explode(tr, bi_expr).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        tr.select(F.explode_outer("t").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(
        F.sum("c1").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    pos = _explode(sc, tri_expr)
    b12 = bi.select(
        F.col("w1").alias("b12_w1"), F.col("w2").alias("b12_w2"), F.col("c2").alias("c12")
    )
    b23 = bi.select(
        F.col("w1").alias("b23_w1"), F.col("w2").alias("b23_w2"), F.col("c2").alias("c23")
    )
    u2 = uni.select(F.col("w").alias("u2_w"), F.col("c1").alias("c1_w2"))
    u3 = uni.select(F.col("w").alias("u3_w"), F.col("c1").alias("c1_w3"))
    s = (
        F.when(
            F.col("c3").isNotNull(), F.col("c3").cast("double") / F.col("c12")
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(0.4) * F.col("c23").cast("double") / F.col("c1_w2"),
        )
        .otherwise(
            F.lit(0.16)
            * (F.coalesce(F.col("c1_w3"), F.lit(0)) + 1)
            / (F.col("n") + F.col("v"))
        )
    )
    scored = (
        pos.join(tri, ["w1", "w2", "w3"], "left")
        .join(b12, (F.col("w1") == F.col("b12_w1")) & (F.col("w2") == F.col("b12_w2")), "left")
        .join(b23, (F.col("w2") == F.col("b23_w1")) & (F.col("w3") == F.col("b23_w2")), "left")
        .join(u2, F.col("w2") == F.col("u2_w"), "left")
        .join(u3, F.col("w3") == F.col("u3_w"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(s).alias("lp"),
            F.when(F.col("c3").isNull(), 1).otherwise(0).alias("backed_off"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.sum("backed_off") * 1.0 / F.count(F.lit(1)), 6).alias(
            "backoff_rate"
        ),
    )


# --- cross-source contamination matrix (round 6) ---------------------------


@query(
    "source_contamination_matrix",
    oracle=_DOC_SHINGLES_CTE
    + """
, ex AS (SELECT doc_id, len(sh) AS _n, unnest(sh) AS s FROM nonempty),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, _n,
           row_number() OVER (PARTITION BY doc_id ORDER BY _df ASC, s ASC) AS _pos
    FROM (SELECT doc_id, s, _n, count(*) OVER (PARTITION BY s) AS _df FROM ex)
  ) WHERE _pos <= _n - ceil(0.5 * _n) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5
),
tagged AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_x, source_y, count(*)::BIGINT AS n_pairs,
       (source_x <> source_y) AS cross_source
FROM tagged GROUP BY source_x, source_y
""",
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance readout: how many verified near-duplicate pairs
    (the exact PPJoin Jaccard >= 0.5 tier) fall WITHIN each source vs
    ACROSS each source pair — the matrix that tells you whether "two
    datasets" are secretly one (cross-source contamination, the
    train/benchmark leakage shape) before mixing weights are chosen.

    Composition of the verified pair frame with two broadcast-able
    dimension joins; the unordered source pair canonicalizes via
    least/greatest so both orientations land in one cell. Output is at
    most |sources|^2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
    )
    return tagged.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).withColumn("cross_source", F.col("source_x") != F.col("source_y"))


# --- train/test split leakage via near-dup pairs --------------------------


@query(
    "split_leakage_neardup",
    oracle=_DOC_SHINGLES_CTE
    + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
    + """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
)
SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS train_doc,
       CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS test_doc,
       round(common::DOUBLE / uni, 6) AS jaccard
FROM verified
WHERE common::DOUBLE / uni >= 0.5 AND (doc_a % 2) <> (doc_b % 2)
""",
)
def split_leakage_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (MinHash-LSH
    candidates, exact Jaccard >= 0.5 verified) that CROSS the train/test
    split (even/odd doc_id — the same split every evaluation query in
    ml_eval_queries.py trains on). Each surviving row is a test document
    whose near-twin sits in training data — the contamination that
    silently inflates held-out metrics; the fix is dedup-aware splitting
    (assign whole dup-clusters to one side, cf. ``dedup_cluster_canonical``).

    Reuses the externally-verified ``minhash_lsh_pairs`` pipeline
    unchanged (per-row signatures, banded equi-join candidates, exact
    verification) and adds only a parity filter + train/test orientation —
    so the scale story is identical: bucketed candidate generation, never
    all-pairs, one extra codegen Filter. At 100 TB the split gate would be
    a hash of the doc key rather than parity; the parity split keeps the
    audit aligned with this repo's evaluation family."""
    pairs = D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    cross = pairs.filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2))
    train_first = F.col("doc_a") % 2 == 0
    return cross.select(
        F.when(train_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "train_doc"
        ),
        F.when(train_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "test_doc"
        ),
        "jaccard",
    )


# --- CCNet-style perplexity quality buckets -------------------------------


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS_D} AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
  FROM tok
),
bc AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
bc2 AS (
  SELECT w1, w2,
         CAST(round((ln(c2) - ln(sum(c2) OVER (PARTITION BY w1))) * 1000000)
              AS BIGINT) AS lpq
  FROM bc
),
pd AS (
  SELECT b.doc_id, sum(m.lpq)::BIGINT AS lp_sum, count(*)::BIGINT AS n_bigrams
  FROM bg b JOIN bc2 m ON b.w1 = m.w1 AND b.w2 = m.w2
  GROUP BY b.doc_id
),
pd2 AS (
  SELECT doc_id, n_bigrams,
         CAST(round(lp_sum::DOUBLE / n_bigrams) AS BIGINT) AS avg_micro
  FROM pd
),
nt AS (
  SELECT *, ntile(10) OVER (ORDER BY avg_micro DESC, doc_id ASC) AS bucket
  FROM pd2
)
SELECT bucket::INT AS bucket, count(*)::BIGINT AS n_docs,
       sum(n_bigrams)::BIGINT AS n_bigrams,
       max(avg_micro)::BIGINT AS best_avg_micro,
       min(avg_micro)::BIGINT AS worst_avg_micro,
       round(sum(avg_micro)::DOUBLE / count(*) / 1000000, 6) + 0.0
         AS mean_avg_logprob,
       (bucket <= 7) AS kept
FROM nt GROUP BY bucket
""",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document under a language model (here the corpus's own bigram LM, the
    ``doc_bigram_logprob`` scorer made integer-exact), rank by mean token
    log-probability, and cut the corpus into 10 equal buckets — keep the
    head/middle (buckets 1-7), drop the worst 30% — the standard
    LM-perplexity quality filter between raw scrape and tokenizer.

    Exactness: per-bigram conditionals quantize to integer micro-units
    BEFORE the per-doc sum (ln of exact integer counts only — the proven
    cross-engine recipe); the per-doc mean re-quantizes via one
    deterministic double expression; ranking ties break on doc_id, and the
    bucket cut uses the exact SQL-standard ntile replicated from the
    global (rank, total) pair. Scale shape: ONE corpus explode feeds both
    the bigram-count model (hash agg + window over the aggregated counts,
    AQE-decided model join, no broadcast hint — at web scale the bigram
    table outgrows the vocab) and the scoring join; the per-doc frame then
    rides the distributed ``with_global_rank`` pass (deterministic
    banding + broadcast offsets — never a single-partition sort) into a
    10-row aggregate."""
    return ccnet_buckets_frame(load_table(spark, sf_dir, "documents"))


def ccnet_buckets_frame(docs: DataFrame) -> DataFrame:
    """The CCNet bucketing pipeline over an arbitrary (doc_id, text) frame
    — shared by the registered query and the bench 10× scale smoke."""
    from pyspark.sql import Window

    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        ntile_from_rank,
        with_global_rank,
    )

    t = docs.select("doc_id", F.expr(_TOKS_S).alias("t")).filter(F.size("t") >= 2)
    # NOT materialized (r15 opt audit): both bg consumers hash-partition by
    # the same (w1, w2) key, so AQE exchange reuse already computes the
    # tokenize+explode once; a checkpoint only added persist overhead
    # (interleaved A/B: 2.6 s vs 2.8 s — kept the original shape).
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    bc2 = bc.select(
        "w1",
        "w2",
        F.round(
            (F.log("c2") - F.log(F.sum("c2").over(Window.partitionBy("w1"))))
            * 1000000
        )
        .cast("long")
        .alias("lpq"),
    )
    pd = bg.join(bc2, ["w1", "w2"]).groupBy("doc_id").agg(
        F.sum("lpq").cast("long").alias("lp_sum"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )
    pd2 = pd.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(F.col("lp_sum").cast("double") / F.col("n_bigrams"))
        .cast("long")
        .alias("avg_micro"),
    )
    # The per-doc frame's lineage (corpus explode + bigram-model join) is
    # the dominant cost; the rank pass reads its input along three plan
    # branches (cut-point sample, local window, band totals), so pin it.
    ranked = with_global_rank(
        materialize(pd2),
        [F.col("avg_micro").desc(), F.col("doc_id").asc()],
        rank_col="rnk",
        total_col="ntot",
    )
    bucketed = ranked.withColumn(
        "bucket", ntile_from_rank(F.col("rnk"), F.col("ntot"), 10)
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.max("avg_micro").alias("best_avg_micro"),
        F.min("avg_micro").alias("worst_avg_micro"),
        (
            F.round(
                F.sum("avg_micro").cast("double") / F.count(F.lit(1)) / 1000000, 6
            )
            + F.lit(0.0)
        ).alias("mean_avg_logprob"),
    ).select(
        "bucket",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_bigrams",
        "best_avg_micro",
        "worst_avg_micro",
        "mean_avg_logprob",
        (F.col("bucket") <= 7).alias("kept"),
    )


# --- round 7: Gopher/RedPajama quality-rule battery ------------------------

# The ten per-document rule predicates, as (name, Spark SQL boolean) pairs.
# Every threshold comparison is cross-multiplied INTEGER arithmetic — no
# float ratio ever crosses an engine boundary, so both engines agree bit
# for bit. Thresholds follow Rae+ 2021 (Gopher, Table A1) and the
# RedPajama/C4 rule set; `m`-prefixed columns are computed once in the
# single projection below.
_GOPHER_RULES: list[tuple[str, str]] = [
    # 50 <= word count <= 100000
    ("01_word_count", "n_tok >= 50 and n_tok <= 100000"),
    # 3 <= mean word length <= 10  (sum_len/n_tok, cross-multiplied)
    ("02_mean_word_length", "sum_len >= 3 * n_tok and sum_len <= 10 * n_tok"),
    # symbol-to-word ratio ('#' chars + '...' runs) <= 0.1
    ("03_symbol_word_ratio", "(n_hash + n_ellsym) * 10 <= n_tok"),
    # <= 90% of lines start with a bullet
    ("04_bullet_lines", "n_bullet * 10 <= 9 * n_lines"),
    # <= 30% of lines end with an ellipsis
    ("05_ellipsis_lines", "n_ellline * 10 <= 3 * n_lines"),
    # >= 80% of words contain an alphabetic character
    ("06_alpha_words", "n_alpha * 10 >= 8 * n_tok"),
    # >= 2 stop-word tokens (natural prose carries closed-class words)
    ("07_stop_words", "stop_cnt >= 2"),
    # duplicate-trigram fraction <= 0.3 (doc_repetition_signals' signal)
    ("08_dup_trigrams", "(n_tri - n_dist_tri) * 10 <= 3 * n_tri"),
    # most-frequent-bigram fraction <= 0.18
    ("09_top_bigram", "top_cnt * 100 <= 18 * n_bi"),
    # C4 code filter: no '{' anywhere
    ("10_curly_brace", "text not like '%{%'"),
]


def _gopher_doc_ctes(where: str = "", carry: str = "") -> str:
    """DuckDB CTE chain ending in ``p``: per-document rule booleans
    (doc_id, b01..b10). The rule predicate text is identical in both
    dialects (integer ops + LIKE only); ``where`` restricts the scanned
    documents (the streaming twin filters to its replayed half); ``carry``
    names one extra documents column threaded through to ``p`` (the
    per-source matrix carries ``source``). With both defaults the emitted
    SQL is byte-identical to the pre-carry version."""
    cc = f"{carry}, " if carry else ""
    mcc = f"m0.{carry}, " if carry else ""
    b_cols = ",\n    ".join(
        f"CASE WHEN {pred} THEN 1 ELSE 0 END AS b{i:02d}"
        for i, (_, pred) in enumerate(_GOPHER_RULES, start=1)
    )
    return f"""
WITH tok AS (SELECT {cc}doc_id, text, {_TOKS_D} AS t FROM documents {where}),
m0 AS (
  SELECT {cc}doc_id, text, t,
         len(t)::BIGINT AS n_tok,
         list_sum(list_transform(t, x -> length(x)))::BIGINT AS sum_len,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha,
         {T.stopword_count_duck('t')}::BIGINT AS stop_cnt,
         (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
         ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_ellsym,
         string_split(text, chr(10)) AS lines,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
              ELSE [] END AS bi,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
              ELSE [] END AS tri
  FROM tok
),
bg AS (SELECT doc_id, g FROM m0, unnest(bi) AS u(g)),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
tp AS (SELECT doc_id, max(c)::BIGINT AS top_cnt FROM bgc GROUP BY doc_id),
r AS (
  SELECT {mcc}m0.doc_id, m0.text, m0.n_tok, m0.sum_len, m0.n_alpha, m0.stop_cnt,
         m0.n_hash, m0.n_ellsym,
         len(m0.lines)::BIGINT AS n_lines,
         len(list_filter(m0.lines, l -> regexp_matches(ltrim(l), '^[-*•]')))::BIGINT AS n_bullet,
         len(list_filter(m0.lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))::BIGINT AS n_ellline,
         len(m0.bi)::BIGINT AS n_bi,
         len(m0.tri)::BIGINT AS n_tri,
         len(list_distinct(m0.tri))::BIGINT AS n_dist_tri,
         coalesce(tp.top_cnt, 0)::BIGINT AS top_cnt
  FROM m0 LEFT JOIN tp USING (doc_id)
),
p AS (
  SELECT {cc}doc_id,
    {b_cols}
  FROM r
)"""


def _gopher_oracle() -> str:
    f_sums = ",\n    ".join(
        f"sum(1 - b{i:02d})::BIGINT AS f{i:02d},\n"
        f"    sum((1 - b{i:02d}) * doc_id)::BIGINT AS fd{i:02d}"
        for i in range(1, len(_GOPHER_RULES) + 1)
    )
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, len(_GOPHER_RULES) + 1))
    unions = "\nUNION ALL ".join(
        f"SELECT '{name}' AS rule, n_docs, f{i:02d} AS n_fail, "
        f"fd{i:02d} AS fail_docid_sum FROM a"
        for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    return _gopher_doc_ctes() + f""",
a AS (
  SELECT count(*)::BIGINT AS n_docs,
    {f_sums},
    sum({keep_prod})::BIGINT AS keep_cnt,
    sum((1 - {keep_prod}) * doc_id)::BIGINT AS keep_fd
  FROM p
),
stacked AS (
  {unions}
UNION ALL SELECT '11_composed_keep' AS rule, n_docs,
                 (n_docs - keep_cnt) AS n_fail, keep_fd AS fail_docid_sum FROM a
)
SELECT rule, n_docs, n_fail::BIGINT AS n_fail,
       (n_docs - n_fail)::BIGINT AS n_pass,
       round((n_docs - n_fail)::DOUBLE / n_docs, 6) + 0.0 AS pass_rate,
       fail_docid_sum::BIGINT AS fail_docid_sum
FROM stacked
"""


def _gopher_flag_frame(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, [*carry,] b01..b10): per-document rule booleans as 0/1
    longs — the Spark twin of ``_gopher_doc_ctes``. Pure per-row
    projections (the top-bigram count is a fold over the sorted per-row
    bigram array), so it runs unchanged on a batch frame or a streaming
    micro-batch; ``carry`` threads extra document columns through."""
    m = docs.selectExpr(
        *carry,
        "doc_id",
        "text",
        f"{_TOKS_S} as t",
        "split(text, '\\n') as lines",
    ).selectExpr(
        *carry,
        "doc_id",
        "text",
        "cast(size(t) as bigint) as n_tok",
        "aggregate(t, 0L, (a, x) -> a + length(x)) as sum_len",
        "cast(size(filter(t, x -> x rlike '[a-z]')) as bigint) as n_alpha",
        f"cast({T.stopword_count_spark('t')} as bigint) as stop_cnt",
        "cast(length(text) - length(replace(text, '#', '')) as bigint) as n_hash",
        "cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint)"
        " as n_ellsym",
        "cast(size(lines) as bigint) as n_lines",
        "cast(size(filter(lines, l -> ltrim(l) rlike '^[-*•]')) as bigint)"
        " as n_bullet",
        "cast(size(filter(lines, l -> rtrim(l) like '%...' or rtrim(l) like '%…'))"
        " as bigint) as n_ellline",
        "case when size(t) >= 2 then transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))) "
        "else slice(t, 1, 0) end as bi",
        "case when size(t) >= 3 then transform(sequence(1, size(t) - 2), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
        "element_at(t, i + 2))) else slice(t, 1, 0) end as tri",
    ).selectExpr(
        *carry,
        "doc_id",
        "text",
        "n_tok",
        "sum_len",
        "n_alpha",
        "stop_cnt",
        "n_hash",
        "n_ellsym",
        "n_lines",
        "n_bullet",
        "n_ellline",
        "cast(size(bi) as bigint) as n_bi",
        "cast(size(tri) as bigint) as n_tri",
        "cast(size(array_distinct(tri)) as bigint) as n_dist_tri",
        # longest equal run of the sorted bigram array = max bigram count
        "aggregate(array_sort(bi), "
        "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', if(acc.prev <=> x, acc.run + 1L, 1L), "
        "  'best', greatest(acc.best, if(acc.prev <=> x, acc.run + 1L, 1L))), "
        "acc -> acc.best) as top_cnt",
    )
    b_cols = [
        F.expr(f"case when {pred} then 1L else 0L end").alias(f"b{i:02d}")
        for i, (_, pred) in enumerate(_GOPHER_RULES, start=1)
    ]
    return m.select(*[F.col(c) for c in carry], F.col("doc_id"), *b_cols)


@query("gopher_quality_rules", oracle=_gopher_oracle())
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RedPajama-style quality-rule battery (Rae+ 2021 Table A1;
    RedPajama-Data/C4 heuristics) over the document corpus: ten composable
    per-document booleans (word count, mean word length, symbol-to-word
    ratio, bullet/ellipsis line shares, alphabetic-word share, stop-word
    presence, duplicate-trigram and top-bigram repetition, C4 curly-brace
    code filter) plus the composed keep decision, reported as per-rule
    fail counts and pass rates — the standard pre-training corpus filter
    readout.

    Scale shape: ONE corpus scan. Every rule metric — including the
    most-frequent-bigram count, computed as the longest equal run of the
    per-row SORTED bigram array (O(n log n) array_sort + one O(n) fold,
    never the O(n²) pairwise HOF scan doc_repetition_signals rejects, and
    never that query's corpus-sized explode+shuffle) — is a per-row
    projection, so the whole battery collapses into one map-side-combined
    scalar aggregate followed by an 11-row stack. Zero data-proportional
    shuffles; plan-asserted single scan (tests/test_plans.py).

    Exactness: every threshold is cross-multiplied integer arithmetic
    (e.g. mean word length in [3,10] ⟺ 3·n ≤ Σlen ≤ 10·n), so no float
    ratio crosses the engine boundary; the only doubles are the final
    round(n_pass/n_docs, 6) rates. Thresholds that Gopher states as
    ratios are encoded at the same values; short documents pass the
    repetition rules trivially (0 ≤ 0) and fail the word-count rule, as
    in the published filter order. ``fail_docid_sum`` (Σ doc_id over the
    rule's failing documents) pins per-document rule MEMBERSHIP across
    engines — a rule with zero failures would otherwise verify trivially
    even if the two engines disagreed doc-by-doc. The composed keep is the AND of all
    ten — what quality_filter_pipeline applies, here fully decomposed."""
    p = _gopher_flag_frame(load_table(spark, sf_dir, "documents"))
    n_rules = len(_GOPHER_RULES)
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, n_rules + 1))
    a = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.expr(f"1L - b{i:02d}")).cast("long").alias(f"f{i:02d}")
            for i in range(1, n_rules + 1)
        ],
        *[
            F.sum(F.expr(f"(1L - b{i:02d}) * doc_id")).cast("long").alias(f"fd{i:02d}")
            for i in range(1, n_rules + 1)
        ],
        F.sum(F.expr(keep_prod)).cast("long").alias("keep_cnt"),
        F.sum(F.expr(f"(1L - {keep_prod}) * doc_id")).cast("long").alias("keep_fd"),
    )
    stack_args = ", ".join(
        f"'{name}', f{i:02d}, fd{i:02d}"
        for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    stacked = a.selectExpr(
        "n_docs",
        f"stack({n_rules + 1}, {stack_args}, '11_composed_keep', "
        f"n_docs - keep_cnt, keep_fd) as (rule, n_fail, fail_docid_sum)",
    )
    return stacked.select(
        "rule",
        "n_docs",
        F.col("n_fail").cast("long").alias("n_fail"),
        (F.col("n_docs") - F.col("n_fail")).cast("long").alias("n_pass"),
        (
            F.round(
                (F.col("n_docs") - F.col("n_fail")).cast("double") / F.col("n_docs"),
                6,
            )
            + F.lit(0.0)
        ).alias("pass_rate"),
        F.col("fail_docid_sum").cast("long").alias("fail_docid_sum"),
    )


# --- round 7: dedup-aware train/test split assignment ----------------------


@query(
    "dedup_aware_split",
    oracle=(
        _DOC_SHINGLES_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
        + _minhash_bands_duck(D.DEFAULT_NUM_HASHES, D.DEFAULT_BANDS)
        + """
, verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(ba.sh, bb.sh)) AS common,
         len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS uni
  FROM cand c
  JOIN nonempty ba ON c.doc_a = ba.doc_id
  JOIN nonempty bb ON c.doc_b = bb.doc_id
),
pairs AS (SELECT doc_a, doc_b FROM verified WHERE common::DOUBLE / uni >= 0.5),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT DISTINCT a AS node, a AS lab FROM edges
  UNION
  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b
),
canon AS (SELECT node AS doc_id, MIN(lab) AS canonical_doc_id
          FROM reach GROUP BY node),
assign AS (
  SELECT d.doc_id,
         (coalesce(c.canonical_doc_id, d.doc_id) % 2 = 0) AS is_train
  FROM documents d LEFT JOIN canon c USING (doc_id)
)
SELECT
  (SELECT count(*) FROM pairs)::BIGINT AS n_neardup_pairs,
  (SELECT count(*) FROM pairs WHERE (doc_a % 2) <> (doc_b % 2))::BIGINT
    AS n_cross_naive,
  (SELECT count(*) FROM pairs p
     JOIN assign x ON p.doc_a = x.doc_id
     JOIN assign y ON p.doc_b = y.doc_id
   WHERE x.is_train <> y.is_train)::BIGINT AS n_cross_cluster_aware,
  (SELECT count(*) FROM assign WHERE is_train)::BIGINT AS n_train,
  (SELECT count(*) FROM assign WHERE NOT is_train)::BIGINT AS n_test,
  round((SELECT count(*) FROM assign WHERE is_train)::DOUBLE
        / (SELECT count(*) FROM assign), 6) + 0.0 AS train_frac
"""
    ),
)
def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/test split assignment — the FIX that
    ``split_leakage_neardup`` exists to motivate: instead of splitting on
    each document's own id parity (which strands near-duplicate twins on
    opposite sides and silently inflates held-out metrics), split on the
    near-dup CLUSTER CANONICAL id (``dedup_cluster_canonical``'s
    connected-component min label; singleton docs are their own
    canonical), so every verified near-dup cluster lands wholly in train
    or wholly in test. The readout PROVES the property rather than
    assuming it: cross-split verified pair count under the naive even/odd
    split (nonzero — the measured leakage) next to the count under the
    cluster-aware split (zero — any verified pair's endpoints are
    connected, hence share a canonical, hence a side), plus the resulting
    split sizes (cluster-parity splitting keeps ~50/50 because canonical
    ids inherit the id distribution).

    Scale shape: the verified-pair frame is computed ONCE
    (``minhash_lsh_pairs``, bucketed LSH candidates, never all-pairs) and
    pinned (``materialize``) — the component rounds, the leakage counts and
    the split audit all reuse the materialized pairs instead of re-running
    the LSH; components contract in O(log²) alternating-star rounds
    (operators/dedup.py::connected_components); the assignment join is a
    left join on doc_id. At 100 TB the parity gate becomes a hash of the
    canonical id — same one-sided property, same plan."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = materialize(
        D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    )
    comp = D.connected_components(pairs)  # (node, label)
    assign = (
        docs.select("doc_id")
        .join(comp.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("label", F.col("doc_id")) % 2 == 0).alias("is_train"),
        )
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"))
    cross_naive = pairs.filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2)).agg(
        F.count(F.lit(1)).cast("long").alias("n_cross_naive")
    )
    a_side = assign.select(F.col("doc_id").alias("doc_a"), F.col("is_train").alias("ta"))
    b_side = assign.select(F.col("doc_id").alias("doc_b"), F.col("is_train").alias("tb"))
    cross_aware = (
        pairs.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .filter(F.col("ta") != F.col("tb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross_cluster_aware"))
    )
    sizes = assign.agg(
        F.sum(F.col("is_train").cast("long")).cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return (
        n_pairs.crossJoin(cross_naive)
        .crossJoin(cross_aware)
        .crossJoin(sizes)
        .select(
            "n_neardup_pairs",
            "n_cross_naive",
            "n_cross_cluster_aware",
            "n_train",
            (F.col("n_docs") - F.col("n_train")).cast("long").alias("n_test"),
            (
                F.round(F.col("n_train").cast("double") / F.col("n_docs"), 6)
                + F.lit(0.0)
            ).alias("train_frac"),
        )
    )


# --- round 7: streaming twin of the quality-rule keep decision --------------

_GF_SUM = " + ".join(f"b{i:02d}" for i in range(1, len(_GOPHER_RULES) + 1))
_GF_PROD = " * ".join(f"b{i:02d}" for i in range(1, len(_GOPHER_RULES) + 1))


@query(
    "stream_gopher_filter",
    oracle=_gopher_doc_ctes(where="WHERE doc_id % 2 = 1")
    + f"""
SELECT doc_id,
       (10 - ({_GF_SUM}))::BIGINT AS n_failed,
       ({_GF_PROD} = 1) AS keep
FROM p
""",
)
def stream_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering on the INGEST path: the odd-doc_id half of the
    corpus arrives as a file stream (2 micro-batches) and every
    micro-batch runs the full Gopher/RedPajama rule battery
    (``_gopher_flag_frame`` — per-row projections only, so batch and
    stream semantics are identical by construction) inside
    ``foreachBatch``, appending per-document (n_failed, keep) decisions to
    a managed warehouse table — the standard shape for filter-at-ingest
    so downstream consumers never see rejected documents. Oracle: the SAME
    per-document rule SQL restricted to the replayed half — streaming
    filtering ≡ batch filtering, value-hash checked per document.

    Scale: each micro-batch is one scan + per-row codegen (no aggregate
    state across batches — every rule is document-local), so the stream
    sustains source rate; the sink table is the same bucketed-warehouse
    pattern as ``stream_naive_bayes_score``."""
    from flink_realtime_sessionize_sample_spark.streaming.replay import (
        replay_split_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    held = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    def _filter_batch(batch_df: DataFrame) -> DataFrame:
        return _gopher_flag_frame(batch_df).select(
            "doc_id",
            (10 - F.expr(_GF_SUM)).cast("long").alias("n_failed"),
            (F.expr(_GF_PROD) == 1).alias("keep"),
        )

    out = replay_split_stream(
        spark,
        held,
        "doc_id long, text string",
        _filter_batch,
        "gopher_stream_keep",
    )
    return out.select("doc_id", "n_failed", "keep")


# --- round 7: IVF nprobe recall sweep ---------------------------------------

_SWEEP_NPROBES = (1, 2, 4, 8)


def _ivf_sweep_oracle() -> str:
    """Recall@5 per nprobe, one UNION ALL branch per setting — the oracle
    twin of the deterministic-quantizer IVF (same CTE shapes as
    ``ann_ivf_topk``), each branch probing its own cell count."""
    per = []
    for np_ in _SWEEP_NPROBES:
        per.append(f"""
qa{np_} AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, cent_id FROM (
    SELECT qq.vec_id, qq.v, qq.nrm, ct.cent_id,
           row_number() OVER (PARTITION BY qq.vec_id
             ORDER BY round({T.dot_duck('qq.v', 'ct.ct_v')} / (qq.nrm * ct.ct_nrm), 6) DESC,
                      ct.cent_id ASC) AS r
    FROM q0 qq CROSS JOIN cents ct
  ) WHERE r <= {np_}
),
iv{np_} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({T.dot_duck('c.v', 'q.q_v')} / (c.nrm * q.q_nrm), 6) DESC,
                      c.vec_id ASC) AS rnk
    FROM cassign c JOIN qa{np_} q ON c.cent_id = q.cent_id AND c.vec_id <> q.q_id
  ) WHERE rnk <= 5
),
h{np_} AS (
  SELECT count(*)::BIGINT AS n_hits
  FROM iv{np_} i JOIN expairs e
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
)""")
    rows = "\nUNION ALL ".join(
        f"""SELECT {np_} AS nprobe,
       (SELECT count(*) FROM q0)::BIGINT AS n_queries,
       (SELECT count(*) FROM expairs)::BIGINT AS n_exact,
       n_hits,
       round(n_hits::DOUBLE / (SELECT count(*) FROM expairs), 6) + 0.0
         AS recall_at_5
FROM h{np_}"""
        for np_ in _SWEEP_NPROBES
    )
    return f"""
WITH c0 AS (
  SELECT vec_id, embedding AS v, {T.norm_duck('embedding')} AS nrm FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, v AS ct_v, nrm AS ct_nrm FROM c0 WHERE vec_id < 8),
cassign AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT c.vec_id, c.v, c.nrm, ct.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round({T.dot_duck('c.v', 'ct.ct_v')} / (c.nrm * ct.ct_nrm), 6) DESC,
                      ct.cent_id ASC) AS r
    FROM c0 c CROSS JOIN cents ct
  ) WHERE r = 1
),
q0 AS (SELECT * FROM c0 WHERE {_QUERY_PRED_D}),
expairs AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({T.dot_duck('c.v', 'q.v')} / (c.nrm * q.nrm), 6) DESC,
                      c.vec_id ASC) AS rnk
    FROM c0 c CROSS JOIN q0 q WHERE c.vec_id <> q.vec_id
  ) WHERE rnk <= 5
),
{",".join(per).lstrip().lstrip(",")}
{rows}
"""


@query("ann_ivf_nprobe_sweep", oracle=_ivf_sweep_oracle())
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost design sweep: recall@5 versus nprobe ∈
    {1, 2, 4, 8} of 8 cells against the exact brute-force top-5 — the
    table an ANN deployment is tuned from (raising nprobe buys recall
    linearly in scored candidates; nprobe = n_centroids must reach recall
    1.0, which the sweep's last row PROVES rather than assumes, since
    probing every cell makes IVF exhaustive). Uses the deterministic
    first-n quantizer so the ENTIRE sweep — assignments, candidates,
    ranks, hits — is value-hash reproducible in SQL, unlike the
    bounds-checked trained-codebook variant (``ann_ivf_trained_topk``).

    Scale shape: the exact top-5 AND the IVF index build (corpus → cell
    assignment, nprobe-independent) are each computed ONCE and
    checkpointed; each sweep point adds only its query-side probe
    assignment + one cell-equi-join candidate generation + per-query
    window against the shared cells — the plan a production sweep runs
    against a persisted index. Per-point work is Σ|probed cells| — the
    cost axis the sweep trades against recall."""
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_corpus_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(_query_pred_s())
    exact = materialize(cosine_topk(emb, q, k=5).select("query_id", "neighbor_id"))
    # The index build (corpus → cell assignment) is nprobe-independent:
    # compute it ONCE and share it across all four sweep points (round-7
    # review — the sweep previously re-assigned the corpus per point).
    cells = materialize(ivf_corpus_cells(emb, n_centroids=8))
    n_q = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    n_ex = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    out = None
    for np_ in _SWEEP_NPROBES:
        ivf = cosine_topk_ivf(
            emb, q, k=5, n_centroids=8, nprobe=np_, corpus_cells=cells
        ).select("query_id", "neighbor_id")
        hits = ivf.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        row = (
            n_q.crossJoin(n_ex)
            .crossJoin(hits)
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "n_queries",
                "n_exact",
                "n_hits",
                (
                    F.round(F.col("n_hits").cast("double") / F.col("n_exact"), 6)
                    + F.lit(0.0)
                ).alias("recall_at_5"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- round 7: quality-rule ablation ------------------------------------------


def _ablation_oracle() -> str:
    n = len(_GOPHER_RULES)
    aggs = []
    for i in range(1, n + 1):
        others = " * ".join(f"b{j:02d}" for j in range(1, n + 1) if j != i)
        aggs.append(
            f"sum(1 - b{i:02d})::BIGINT AS f{i:02d},\n"
            f"    sum((1 - b{i:02d}) * {others})::BIGINT AS s{i:02d}"
        )
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, n + 1))
    unions = "\nUNION ALL ".join(
        f"SELECT '{name}' AS rule, n_docs, keep_cnt, f{i:02d} AS n_fail, "
        f"s{i:02d} AS n_sole_fail FROM a"
        for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    return (
        _gopher_doc_ctes()
        + f""",
a AS (
  SELECT count(*)::BIGINT AS n_docs,
    sum({keep_prod})::BIGINT AS keep_cnt,
    {",".join(aggs)}
  FROM p
),
stacked AS (
  {unions}
)
SELECT rule, n_docs, n_fail, n_sole_fail,
       keep_cnt AS keep_now,
       (keep_cnt + n_sole_fail)::BIGINT AS keep_if_dropped,
       round(n_sole_fail::DOUBLE / n_docs, 6) + 0.0 AS keep_gain_rate
FROM stacked
"""
    )


@query("gopher_rule_ablation", oracle=_ablation_oracle())
def gopher_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ablation readout for the quality-rule battery: per rule, how many
    documents fail ONLY that rule — i.e. how much corpus the composed keep
    decision would gain if the rule were dropped. A rule with a large fail
    count but near-zero SOLE-fail count is redundant (its rejections are
    all co-rejected by other rules); a rule with a large sole-fail count
    is the binding constraint — the standard analysis before tuning
    thresholds on a real corpus (every rejected token is paid-for data).

    Scale shape: identical to ``gopher_quality_rules`` — the shared
    per-document flag frame (one scan, per-row projections) feeds one
    map-side-combined scalar aggregate carrying per-rule fail and
    sole-fail sums, then a bounded 10-row stack. The sole-fail indicator
    (1 − bᵢ)·Πⱼ≠ᵢ bⱼ is exact 0/1 integer arithmetic; the only double is
    the final 6dp gain rate."""
    p = _gopher_flag_frame(load_table(spark, sf_dir, "documents"))
    n = len(_GOPHER_RULES)
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, n + 1))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr(keep_prod)).cast("long").alias("keep_cnt"),
    ]
    for i in range(1, n + 1):
        others = " * ".join(f"b{j:02d}" for j in range(1, n + 1) if j != i)
        aggs.append(F.sum(F.expr(f"1L - b{i:02d}")).cast("long").alias(f"f{i:02d}"))
        aggs.append(
            F.sum(F.expr(f"(1L - b{i:02d}) * {others}"))
            .cast("long")
            .alias(f"s{i:02d}")
        )
    a = p.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', f{i:02d}, s{i:02d}"
        for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    stacked = a.selectExpr(
        "n_docs",
        "keep_cnt",
        f"stack({n}, {stack_args}) as (rule, n_fail, n_sole_fail)",
    )
    return stacked.select(
        "rule",
        "n_docs",
        F.col("n_fail").cast("long").alias("n_fail"),
        F.col("n_sole_fail").cast("long").alias("n_sole_fail"),
        F.col("keep_cnt").alias("keep_now"),
        (F.col("keep_cnt") + F.col("n_sole_fail")).cast("long").alias(
            "keep_if_dropped"
        ),
        (
            F.round(F.col("n_sole_fail").cast("double") / F.col("n_docs"), 6)
            + F.lit(0.0)
        ).alias("keep_gain_rate"),
    )


# --- round 7: vocabulary coverage curve --------------------------------------

_VOCAB_KS = (100, 1000, 10000)


def _vocab_ranked_frame(docs: DataFrame) -> DataFrame:
    """Frequency-ranked vocabulary with running coverage — the
    pre-checkpoint plan (one explode + hash aggregate, then the
    deterministic-banded global-rank pass); plan-asserted in tests.

    The sort is materialized as ONE composite string key ``_ck`` =
    lpad(1e12 − c) ∥ w, whose ascending order equals (c DESC, w ASC) —
    the banding operator partitions on its LEADING key, and banding on
    ``c`` alone would put the entire count-1 Zipf tail (roughly half of
    any natural vocabulary, growing with the corpus) into a single tied
    band/window partition (round-7 review). The composite key spreads the
    tail across bands by word while preserving the exact rank order."""
    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        with_global_rank,
    )

    g = (
        docs.select(F.explode(F.expr(_TOKS_S)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # Fixed-width zero-padded (1e12 - c) prefix: lexicographic asc == c
    # desc; the suffix position is fixed, so the tail compares as w asc.
    ck = g.withColumn(
        "_ck",
        F.concat(F.lpad((F.lit(1000000000000) - F.col("c")).cast("string"), 13, "0"), F.col("w")),
    )
    return with_global_rank(
        ck,
        [F.col("_ck").asc()],
        rank_col="r",
        total_col="vocab_size",
        sum_col="c",
        cum_col="cum",
        sum_total_col="total_tokens",
    ).drop("_ck")


@query(
    "vocab_coverage_curve",
    oracle=f"""
WITH tok AS (SELECT {_TOKS_D} AS t FROM documents),
ex AS (SELECT unnest(t) AS w FROM tok),
g AS (SELECT w, count(*)::BIGINT AS c FROM ex WHERE w <> '' GROUP BY w),
rk AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r,
         sum(c) OVER (ORDER BY c DESC, w ASC)::BIGINT AS cum,
         count(*) OVER ()::BIGINT AS vocab_size,
         sum(c) OVER ()::BIGINT AS total_tokens
  FROM g
)
{" UNION ALL ".join(
    f'''SELECT {k} AS k, max(vocab_size)::BIGINT AS vocab_size,
       max(total_tokens)::BIGINT AS total_tokens,
       max(cum)::BIGINT AS covered_tokens,
       round(max(cum)::DOUBLE / max(total_tokens), 6) + 0.0 AS coverage
FROM rk WHERE r <= {k}''' for k in _VOCAB_KS)}
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus token
    OCCURRENCES is covered by the top-k most frequent types, for k ∈
    {_VOCAB_KS} — the readout that sizes a tokenizer vocabulary (or an
    embedding table) against a corpus: the knee of this curve is where
    added vocab stops buying coverage and BPE merges take over
    (cf. ``bpe_train_merges``).

    Scale shape: one explode + hash aggregate collapses the corpus to the
    |vocab| type table; the frequency ranking and running coverage ride
    ONE ``with_global_rank`` pass (deterministic banding — no
    single-partition sort of the vocabulary, which is the classic Zipf
    pinch: |vocab| grows with corpus size); the curve points are three
    bounded filters over the checkpointed ranked frame. Exactness: counts
    and cumulative sums are exact int64 (ties broken (count DESC, word
    ASC) — a total order, so both engines take identical prefixes);
    coverage is the final 6dp division."""
    ranked = _vocab_ranked_frame(load_table(spark, sf_dir, "documents"))
    # The ranked vocab is consumed once per curve point: materialize it.
    ranked = materialize(ranked)
    out = None
    for k in _VOCAB_KS:
        row = ranked.filter(F.col("r") <= k).agg(
            F.lit(k).cast("int").alias("k"),
            F.max("vocab_size").cast("long").alias("vocab_size"),
            F.max("total_tokens").cast("long").alias("total_tokens"),
            F.max("cum").cast("long").alias("covered_tokens"),
            (
                F.round(
                    F.max("cum").cast("double") / F.max("total_tokens").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("coverage"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- round 7: per-source language-mix entropy --------------------------------


@query(
    "source_language_mix_entropy",
    oracle=f"""
WITH sl AS (
  SELECT source, lang, count(*)::BIGINT AS c FROM documents GROUP BY source, lang
),
terms AS (
  SELECT source, lang, c,
         CAST(round(c * ln(c) * 1000000) AS BIGINT) AS clnc_micro
  FROM sl
),
per AS (
  SELECT source, sum(c)::BIGINT AS n_docs, count(*)::BIGINT AS n_langs,
         sum(clnc_micro)::BIGINT AS sum_clnc
  FROM terms GROUP BY source
)
SELECT source, n_docs, n_langs,
       round(ln(n_docs) - (sum_clnc / 1000000.0) / n_docs, 6) + 0.0
         AS lang_entropy_nats,
       round((ln(n_docs) - (sum_clnc / 1000000.0) / n_docs)
             / ln(greatest(n_langs, 2)), 6) + 0.0 AS normalized_entropy
FROM per
""",
)
def source_language_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix entropy — the monolingual-vs-mixed audit a
    multisource corpus plan reads next to ``mixture_temperature_weights``:
    H(source) = −Σ_lang p·ln p over the source's language distribution,
    plus the entropy normalized by ln(n_langs) (1.0 = perfectly mixed,
    0.0 = monolingual). Sources that claim one language but show entropy
    ≫ 0 are mislabeled-scrape suspects.

    Exactness: H = ln(n) − (Σ c·ln c)/n is computed from ln of INTEGERS
    only (the cross-engine-safe ln contract); each c·ln(c) term quantizes
    to e6 integer micro-units BEFORE the per-source sum, so no float
    summation order crosses the engine boundary; final expressions are
    6dp-rounded single operations. Scale: one (source, lang) hash
    aggregate — bounded rows — then per-source algebra."""
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    terms = sl.select(
        "source",
        "c",
        F.round(F.col("c") * F.log(F.col("c").cast("double")) * 1000000)
        .cast("long")
        .alias("clnc_micro"),
    )
    per = terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("clnc_micro").cast("long").alias("sum_clnc"),
    )
    ent = F.log(F.col("n_docs").cast("double")) - (
        F.col("sum_clnc") / 1000000.0
    ) / F.col("n_docs")
    return per.select(
        "source",
        "n_docs",
        "n_langs",
        (F.round(ent, 6) + F.lit(0.0)).alias("lang_entropy_nats"),
        (
            F.round(
                ent / F.log(F.greatest(F.col("n_langs"), F.lit(2)).cast("double")), 6
            )
            + F.lit(0.0)
        ).alias("normalized_entropy"),
    )


# --- round 7: per-source quality matrix -------------------------------------


def _quality_by_source_oracle() -> str:
    n = len(_GOPHER_RULES)
    f_sums = ",\n    ".join(
        f"sum(1 - b{i:02d})::BIGINT AS f{i:02d}" for i in range(1, n + 1)
    )
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, n + 1))
    unions = "\nUNION ALL ".join(
        f"SELECT source, n_docs, '{name}' AS rule, f{i:02d} AS n_fail FROM a"
        for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    return (
        _gopher_doc_ctes(carry="source")
        + f""",
a AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    {f_sums},
    sum({keep_prod})::BIGINT AS keep_cnt
  FROM p GROUP BY source
),
stacked AS (
  {unions}
UNION ALL SELECT source, n_docs, '11_composed_keep' AS rule,
                 (n_docs - keep_cnt) AS n_fail FROM a
)
SELECT source, rule, n_docs, n_fail::BIGINT AS n_fail,
       round((n_docs - n_fail)::DOUBLE / n_docs, 6) + 0.0 AS pass_rate
FROM stacked
"""
    )


@query("gopher_quality_by_source", oracle=_quality_by_source_oracle())
def gopher_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-rule battery BROKEN OUT BY SOURCE — the matrix
    (source × rule → fail count, pass rate, plus the composed keep row
    per source) a corpus owner reads to decide which scrape to drop,
    re-crawl, or re-threshold: a source whose composed keep rate is an
    outlier, or that fails one specific rule far above the corpus base
    rate, is a pipeline incident, not a data property. Completes the
    family: corpus-level battery (``gopher_quality_rules``), marginal
    rule value (``gopher_rule_ablation``), ingest-path decisions
    (``stream_gopher_filter``), and now per-source attribution.

    Scale shape: the shared per-document flag frame carries ``source``
    through its per-row projections (still ONE corpus scan), then one
    hash aggregate keyed by the bounded source set and an 11-row stack
    per source. Exactness: identical integer rule arithmetic; the only
    doubles are the final 6dp pass rates."""
    p = _gopher_flag_frame(
        load_table(spark, sf_dir, "documents"), carry=("source",)
    )
    n = len(_GOPHER_RULES)
    keep_prod = " * ".join(f"b{i:02d}" for i in range(1, n + 1))
    a = p.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.expr(f"1L - b{i:02d}")).cast("long").alias(f"f{i:02d}")
            for i in range(1, n + 1)
        ],
        F.sum(F.expr(keep_prod)).cast("long").alias("keep_cnt"),
    )
    stack_args = ", ".join(
        f"'{name}', f{i:02d}" for i, (name, _) in enumerate(_GOPHER_RULES, start=1)
    )
    stacked = a.selectExpr(
        "source",
        "n_docs",
        f"stack({n + 1}, {stack_args}, '11_composed_keep', n_docs - keep_cnt)"
        " as (rule, n_fail)",
    )
    return stacked.select(
        "source",
        "rule",
        "n_docs",
        F.col("n_fail").cast("long").alias("n_fail"),
        (
            F.round(
                (F.col("n_docs") - F.col("n_fail")).cast("double") / F.col("n_docs"),
                6,
            )
            + F.lit(0.0)
        ).alias("pass_rate"),
    )
