"""Unit fixtures for the LLM-data operators (dedup / similarity /
multimodal) — boundary behavior the oracle-parity sweep can't see:
short docs, exact duplicates, identical vectors, the stubbed decode
contract. SURVEY.md §5 strategy, phase-3 scope."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.operators import dedup as D
from flink_realtime_sessionize_sample_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    fake_decode,
    real_decode,
)
from flink_realtime_sessionize_sample_spark.operators.similarity import cosine_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_identical_text(spark):
    docs = _docs(
        spark,
        [(1, "a b c d"), (2, "a b c d"), (3, "  A B C D "), (4, "different text here")],
    )
    # normalization: lower + trim → 1,2,3 share a hash
    out = {r["canonical_doc_id"]: r["n_copies"] for r in D.exact_dedup_groups(docs).collect()}
    assert out == {1: 3, 4: 1}


def test_ngram_jaccard_finds_planted_near_dup(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again"
    near_b = "the quick brown fox jumps over the lazy cat again and again"
    docs = _docs(spark, [(1, near_a), (2, near_b), (3, "completely unrelated words entirely")])
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert 0.3 <= pairs[0]["jaccard"] < 1.0


def test_minhash_identical_docs_jaccard_one(spark):
    text = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [(1, text), (2, text), (3, "spam " * 10)])
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_short_docs_dropped_not_crashed(spark):
    docs = _docs(spark, [(1, "only two"), (2, ""), (3, "a b c d e f")])
    assert D.ngram_jaccard_pairs(docs).count() == 0
    assert D.minhash_lsh_pairs(docs).count() == 0


def test_simhash_identical_docs_zero_hamming(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [(1, text), (2, text)])
    rows = D.simhash_pairs(docs, max_hamming=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows] == [(1, 2, 0)]


def test_embedding_near_dup_identical_vectors(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [1.0, 0.0, 2.0]), (3, [-1.0, 5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = D.embedding_near_dup_pairs(emb, threshold=0.99).collect()
    assert [(r["vec_a"], r["vec_b"], r["cosine"]) for r in rows] == [(1, 2, 1.0)]


def test_embedding_near_dup_lsh_bucket_prunes(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [1.0, 0.9]), (3, [-1.0, -1.0])],
        "vec_id long, embedding array<float>",
    )
    # brute force sees the antipodal pair fail the threshold; LSH never scores it
    # (lsh_bits=None opts out of the default LSH tier — this comparison is
    # the brute-force-vs-LSH parity check its name claims).
    exact = D.embedding_near_dup_pairs(emb, threshold=0.9, lsh_bits=None)
    pruned = D.embedding_near_dup_pairs(emb, threshold=0.9, lsh_bits=2)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, pruned.collect()))


def test_cosine_topk_ranks_self_duplicates_first(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out] == [(0, 1, 1), (0, 3, 2)]


def test_multimodal_decode_stub_and_schema(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    docs = load_table(spark, sf_small, "documents").limit(9)
    decoded = decode_media(attach_binary_payload(docs)).collect()
    assert len(decoded) == 9
    for r in decoded:
        if r["media_type"] == "audio/wav":
            assert r["width"] is None and r["sample_rate"] >= 8000
        else:
            assert r["width"] >= 64 and r["sample_rate"] is None
        assert r["n_bytes"] > 0


def test_real_decode_rejects_unknown_media_type():
    with pytest.raises(NotImplementedError, match="no parser"):
        real_decode(1, "application/pdf", b"xx")


def test_fake_decode_deterministic():
    assert fake_decode(7, "image/png", b"abcdef") == fake_decode(7, "image/png", b"abcdef")


def test_byte_features_histogram_sums_to_length(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.operators.multimodal import (
        extract_byte_features,
    )

    docs = load_table(spark, sf_small, "documents").limit(5)
    rows = extract_byte_features(attach_binary_payload(docs)).collect()
    for r in rows:
        assert sum(r["nibble_hist"]) == r["n_bytes"]
        assert len(r["nibble_hist"]) == 16


def test_resize_truncates_and_is_stable(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.operators.multimodal import resize_media

    docs = load_table(spark, sf_small, "documents").limit(5)
    a = resize_media(attach_binary_payload(docs), max_bytes=64).collect()
    b = resize_media(attach_binary_payload(docs), max_bytes=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["n_bytes_out"] <= 64 for r in a)


def test_frame_sample_covers_every_other_frame(spark, sf_small):
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_small, "documents")
    rows = sample_frames(attach_binary_payload(docs), frame_bytes=100, every_n=2).collect()
    assert rows, "video payloads must yield frames"
    assert all(r["frame_idx"] % 2 == 0 for r in rows)


def test_ivf_trained_centroids_recall(spark):
    """Trained KMeans codebook recall@5 vs exact brute force over 25
    queries: must clear a 0.45 floor (measured ~0.55 at nprobe=2) and not
    lose more than noise to the first-n quantizer stub (measured: trained
    0.55 vs stub 0.42 — training WINS; the 0.05 tolerance absorbs
    k-means|| init variance across partitionings)."""
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)  # 25 queries
    exact = set(
        map(tuple, cosine_topk(emb, q, k=5).select("query_id", "neighbor_id").collect())
    )
    cents = train_ivf_centroids(emb, n_centroids=8, seed=42)
    trained = set(
        map(
            tuple,
            cosine_topk_ivf(emb, q, k=5, nprobe=2, centroids=cents)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    stub = set(
        map(
            tuple,
            cosine_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=2)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    recall_trained = len(exact & trained) / len(exact)
    recall_stub = len(exact & stub) / len(exact)
    assert recall_trained >= 0.45, f"trained recall {recall_trained:.3f} below floor"
    assert recall_trained >= recall_stub - 0.05, (
        f"trained {recall_trained:.3f} worse than stub {recall_stub:.3f}"
    )


def test_real_media_builders_and_parsers_round_trip():
    """Pure-Python: the stdlib encoders emit bytes the stdlib parsers read
    back exactly — PNG IHDR+CRC, WAV fmt chunk, MP4 mvhd/tkhd boxes."""
    from flink_realtime_sessionize_sample_spark.operators.multimodal import (
        build_mp4, build_png, build_wav, real_decode,
    )

    assert real_decode(1, "image/png", build_png(37, 22))[3:5] == (37, 22)
    assert real_decode(2, "audio/wav", build_wav(16000, 64))[6] == 16000
    assert real_decode(3, "video/mp4", build_mp4(20, 18, 42))[3:6] == (20, 18, 42)


def test_real_png_parser_reads_external_file():
    """The PNG parser must read files WE did not write: a canonical 1x1 PNG
    produced by an external encoder (libpng), plus IDAT decompression via
    zlib to prove the container really is a PNG."""
    import base64
    import struct
    import zlib

    from flink_realtime_sessionize_sample_spark.operators.multimodal import real_decode

    png_1x1 = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
        "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    out = real_decode(0, "image/png", png_1x1)
    assert out[3:5] == (1, 1)
    # find and inflate the IDAT chunk — a fake container would fail here
    off = 8
    while off < len(png_1x1):
        (n,) = struct.unpack(">I", png_1x1[off:off + 4])
        tag = png_1x1[off + 4:off + 8]
        if tag == b"IDAT":
            assert len(zlib.decompress(png_1x1[off + 8:off + 8 + n])) > 0
            break
        off += 12 + n
    else:
        raise AssertionError("no IDAT found")


def test_real_decode_rejects_corrupt_payloads():
    import pytest as _pytest

    from flink_realtime_sessionize_sample_spark.operators.multimodal import (
        build_png, real_decode,
    )

    with _pytest.raises(ValueError):
        real_decode(0, "image/png", b"not a png at all")
    corrupted = bytearray(build_png(8, 8))
    corrupted[20] ^= 0xFF  # flip a bit inside IHDR → CRC must catch it
    with _pytest.raises(ValueError):
        real_decode(0, "image/png", bytes(corrupted))
    with _pytest.raises(ValueError):
        real_decode(0, "audio/wav", b"RIFFxxxxNOPE")


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (worst-case diameter for min-label propagation) plus a
    separate 2-node island: every node must converge to its component min."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        (r["node"], r["label"])
        for r in D.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def test_connected_components_string_ids(spark):
    """String doc ids (the ADVICE r1 bug: sum(label) was NULL for strings
    and NULL == NULL stopped the loop after one round): components must
    still fully converge, labeled with the lexicographic min."""
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")], ["doc_a", "doc_b"]
    )
    got = {
        (r["node"], r["label"])
        for r in D.connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("x", "x"), ("y", "x"),
    }


def test_connected_components_adversarial_long_chain(spark):
    """A 64-node chain: diameter 63 ≫ max_iter, so naive min-label
    propagation (1 hop/round) could NOT converge — only the
    large-star/small-star contraction (O(log² n) rounds) can. Also checks
    a reversed-orientation chain so edge direction doesn't matter."""
    n = 64
    fwd = [(i, i + 1) for i in range(0, n - 1)]
    edges = spark.createDataFrame(fwd, ["doc_a", "doc_b"])
    got = {
        (r["node"], r["label"])
        for r in D.connected_components(edges, max_iter=12).collect()
    }
    assert got == {(i, 0) for i in range(n)}

    rev = spark.createDataFrame([(b, a) for a, b in fwd], ["doc_a", "doc_b"])
    got_rev = {
        (r["node"], r["label"])
        for r in D.connected_components(rev, max_iter=12).collect()
    }
    assert got_rev == got


def test_near_dup_clusters_transitive_closure(spark):
    """A~B and B~C near-dups collapse to one canonical even if A~C is not
    itself a candidate pair; exact copies always cluster."""
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base + " extra0 extra1"),
            (4, "completely different words " + " ".join(f"z{i}" for i in range(37))),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["canonical_doc_id"])
        for r in D.near_dup_clusters(docs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_salted_join_matches_plain_join(spark):
    """Salted join ≡ plain join on a deliberately skewed input (90% one key),
    and the join shuffle key includes the salt."""
    from flink_realtime_sessionize_sample_spark.operators.skew import salted_join

    left = spark.range(1000).selectExpr(
        "CASE WHEN id < 900 THEN 7 ELSE id END AS k", "id AS payload"
    )
    right = spark.range(20).selectExpr("id AS k", "id * 10 AS attr")
    got = salted_join(left, right, on=["k"]).groupBy("k").count()
    exp = left.join(right, "k").groupBy("k").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    plan = salted_join(left, right, on=["k"])._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_pack_next_fit_capacity_and_determinism(spark):
    """Next-fit packing: no bin exceeds capacity (except a single oversized
    doc alone in its bin), and the assignment is identical regardless of the
    input's physical partitioning (logical hash buckets, not partitions)."""
    from flink_realtime_sessionize_sample_spark.operators.packing import pack_next_fit

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        # ~1-40 tokens; doc 7 is oversized (80 tokens > capacity 50)
        "array_join(transform(sequence(1, CASE WHEN id = 7 THEN 80 ELSE 1 + cast(id % 40 AS INT) END), x -> 'w'), ' ') AS text",
    )
    a = pack_next_fit(docs, capacity=50, buckets=8).toPandas()
    b = pack_next_fit(docs.repartition(13), capacity=50, buckets=8).toPandas()
    key = ["doc_id", "n_tokens", "bucket", "bin_idx"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )
    fills = a.groupby(["bucket", "bin_idx"]).agg(
        fill=("n_tokens", "sum"), n=("doc_id", "count")
    )
    over = fills[fills["fill"] > 50]
    assert (over["n"] == 1).all(), "only a lone oversized doc may exceed capacity"


def test_pack_bucket_count_invariant_within_bucket(spark):
    """The bucket count is part of the result contract, but each bucket's
    walk is SELF-CONTAINED: the docs that land in a bucket under buckets=B
    get exactly the bin sequence a standalone single-bucket pack of those
    same docs produces. This is what makes per-bucket walks safe to
    schedule independently (and re-run idempotently) at any parallelism."""
    from flink_realtime_sessionize_sample_spark.operators.packing import pack_next_fit

    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(1, 1 + cast(id % 37 AS INT)), x -> 'w'), ' ') AS text",
    )
    packed = pack_next_fit(docs, capacity=60, buckets=5).toPandas()
    for bucket in sorted(packed["bucket"].unique()):
        ids = sorted(packed.loc[packed["bucket"] == bucket, "doc_id"].tolist())
        sub = docs.filter(F.col("doc_id").isin(ids))
        solo = pack_next_fit(sub, capacity=60, buckets=1).toPandas()
        merged = packed[packed["bucket"] == bucket].merge(
            solo, on="doc_id", suffixes=("_b", "_solo")
        )
        assert len(merged) == len(ids)
        assert (merged["bin_idx_b"] == merged["bin_idx_solo"]).all()


def test_approx_percentile_close_to_exact(spark, sf_small):
    """t-digest approx_percentile stays within 1% relative error of the
    exact sort-based percentile on real data."""
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    li = load_table(spark, sf_small, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("ap"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("ex"),
    )
    for r in both.collect():
        assert abs(r["ap"] - r["ex"]) / r["ex"] < 0.01


def test_misra_gries_invariants_under_eviction(spark):
    """MG summary on a skewed stream with capacity far below distinct count:
    eviction must fire (d_p > 0 somewhere), estimates never exceed truth,
    under-counts stay within the emitted decrement bound, and every item
    whose true count exceeds the global decrement bound survives."""
    from pyspark.sql import functions as F

    from flink_realtime_sessionize_sample_spark.operators.sketch import (
        misra_gries_summary,
    )

    # 5 heavy items (1000 each) + 500 singletons-ish tail (ids 100..599, 4 each)
    heavy = spark.range(5).selectExpr(
        "explode(array_repeat(concat('h', id), 1000)) AS item"
    )
    tail = spark.range(100, 600).selectExpr(
        "explode(array_repeat(concat('t', id), 4)) AS item"
    )
    df = heavy.union(tail)
    sketch = misra_gries_summary(df, "item", capacity=8, num_partitions=4).toPandas()
    truth = {r["item"]: r["cnt"] for r in
             df.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()}

    assert (sketch["d_p"] > 0).any(), "capacity 8 vs ~505 distinct must evict"
    max_d = int(sketch["d_p"].max())
    survivors = sketch[sketch["item"].notna()]
    by_item = dict(zip(survivors["item"], survivors["est"]))
    for item, est in by_item.items():
        assert est <= truth[item], (item, est, truth[item])
        assert truth[item] - est <= max_d, (item, est, truth[item], max_d)
    for item, cnt in truth.items():
        if cnt > max_d:
            assert item in by_item, f"{item} (cnt {cnt} > bound {max_d}) evicted"


def test_containment_hot_shingle_guard(spark):
    """max_shingle_df drops ultra-hot shingles from candidate generation
    (documented approximation) while surviving pairs stay exact-verified:
    a doc fully contained in another is still found when their shared
    shingles are rare, and the capped run never reports a pair whose true
    containment is below threshold."""
    from pyspark.sql import functions as F

    from flink_realtime_sessionize_sample_spark.operators.dedup import containment_pairs

    rows = [
        # rare-shingle containment pair: short doc quoted inside long doc
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"),
        # boilerplate family sharing one ultra-hot shingle chain
        *[(10 + i, f"common one two three tail{i} x{i} y{i}") for i in range(20)],
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = containment_pairs(docs, threshold=0.8).toPandas()
    assert ((exact.doc_a == 1) & (exact.doc_b == 2)).any(), "quoted doc must be found"

    capped = containment_pairs(docs, threshold=0.8, max_shingle_df=5).toPandas()
    assert ((capped.doc_a == 1) & (capped.doc_b == 2)).any(), (
        "rare-shingle pair survives the cap"
    )
    # capped results are a subset of exact results (verify step unchanged)
    e = set(zip(exact.doc_a, exact.doc_b))
    c = set(zip(capped.doc_a, capped.doc_b))
    assert c <= e


def test_substring_spans_planted_copy_and_within_doc_repeat(spark):
    a = [f"a{i}" for i in range(1, 13)]  # 12 distinct tokens
    doc1 = " ".join(a)
    doc2 = " ".join(a[:10] + ["x1", "x2"])  # copies tokens 1..10 of doc1
    doc3 = " ".join(a[:8] + a[:8])  # 8-token block repeated within one doc
    docs = _docs(spark, [(1, doc1), (2, doc2), (3, doc3)])
    out = sorted(
        (r["doc_id"], r["span_start"], r["span_len_tokens"])
        for r in D.duplicate_substring_spans(docs, min_span=8).collect()
    )
    # doc2: windows at pos 1..3 duplicated -> one maximal 10-token span.
    # doc3: pos 1 (= doc1's first window) and pos 9 (the repeat) duplicated,
    # interior windows straddle the seam and are unique -> two 8-token spans.
    # doc1 is the first occurrence everywhere -> no rows.
    assert out == [(2, 1, 10), (3, 1, 8), (3, 9, 8)]


def test_substring_spans_short_docs_produce_no_windows(spark):
    docs = _docs(spark, [(1, "only five tokens right here"), (2, "only five tokens right here")])
    assert D.duplicate_substring_spans(docs, min_span=8).count() == 0


def test_semdedup_finds_within_cluster_duplicates(spark):
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        semdedup_pairs,
    )

    # Two well-separated directions; near-dups planted inside each.
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),   # dup of 1
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.01, 0.99, 0.0]),   # dup of 3
            (5, [0.0, 1.0, 0.0, 0.5]),     # singleton
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = semdedup_pairs(emb, n_clusters=2, threshold=0.9, seed=42)
    got = sorted((r["vec_a"], r["vec_b"]) for r in pairs.collect())
    assert (1, 2) in got and (3, 4) in got
    assert all(r["cosine"] >= 0.9 for r in pairs.collect())


def test_semdedup_plan_is_cluster_bucketed_not_all_pairs(spark):
    from flink_realtime_sessionize_sample_spark.operators.similarity import (
        semdedup_pairs,
    )
    from flink_realtime_sessionize_sample_spark.sources.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = semdedup_pairs(emb, n_clusters=8, threshold=0.4, seed=42)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # No all-pairs scan: the only nested-loop joins are the two broadcast
    # 8-row codebook assigns (both pair sides); the pair join itself is an
    # equi join on cent_id.
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 2, final


def test_substring_coverage_merges_overlapping_runs(spark):
    # doc3 = t1..t10; its pos-1 window lives in doc1, pos-3 window in doc2,
    # pos-2 window nowhere else -> two islands whose TOKEN extents overlap
    # ([1,8] and [3,10]); union coverage is 10, not the 16 a naive
    # sum-of-span-lengths would report.
    t = [f"t{i}" for i in range(1, 11)]
    docs = _docs(
        spark,
        [(1, " ".join(t[:8])), (2, " ".join(t[2:10])), (3, " ".join(t))],
    )
    rows = D.substring_dedup_coverage(docs, min_span=8).collect()
    out = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"]) for r in rows}
    assert out == {3: (10, 10, 1.0)}
    # sanity: the span extractor sees the same two runs un-merged
    spans = sorted(
        (r["span_start"], r["span_len_tokens"])
        for r in D.duplicate_substring_spans(docs, min_span=8)
        .filter(F.col("doc_id") == 3)
        .collect()
    )
    assert spans == [(1, 8), (3, 8)]


def test_cdc_chunk_dedup_survives_prefix_shift(spark):
    # Same long body with a novel token PREPENDED: fixed-size blocks would
    # misalign everywhere, content-defined boundaries re-sync after the
    # first boundary, so shared chunks dedup.
    body = " ".join(f"w{i * 7 % 53}" for i in range(40))
    docs = _docs(spark, [(1, body), (2, "prefix-token " + body)])
    dup = D.cdc_chunk_dedup(docs, k=4, mod=8).collect()
    assert dup, "shifted copy must share at least one content-defined chunk"
    assert all(r["canonical_doc_id"] == 1 and r["n_copies"] == 2 for r in dup)


def test_substring_spans_max_window_df_drops_boilerplate(spark):
    # 3 docs sharing one boilerplate 8-gram; with max_window_df=2 the
    # 3-occurrence window is dropped and no span survives, default keeps it.
    boiler = " ".join(f"b{i}" for i in range(8))
    docs = _docs(
        spark,
        [(1, boiler + " x1"), (2, boiler + " x2"), (3, boiler + " x3")],
    )
    assert D.duplicate_substring_spans(docs, min_span=8).count() == 2
    assert (
        D.duplicate_substring_spans(docs, min_span=8, max_window_df=2).count() == 0
    )


def _canonical_bpe(word_counts, n_merges):
    """Array-walk reference BPE trainer: leftmost non-overlapping merge of
    the globally top pair (count desc, pair asc), frequency-weighted."""
    states = {w: list(w) for w in word_counts}
    merges = []
    for it in range(1, n_merges + 1):
        counts: dict = {}
        for w, syms in states.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((it, a, b, c))
        for w, syms in states.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            states[w] = out
    return merges


def test_bpe_train_matches_canonical_reference(spark):
    """Adversarial run-heavy vocabulary: back-to-back occurrences of the
    top pair ([a,b,a,b,...], [a,a,a,a]) are exactly where a single
    string-replace pass would under-merge — the two-pass merge must equal
    the canonical array-walk trainer merge-for-merge."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        bpe_train_frame,
    )

    words = {"abababab": 4, "aaaa": 3, "abba": 2, "cab": 5, "abcab": 1}
    # one doc per word copy so corpus token counts equal the weights
    rows = []
    i = 0
    for w, n in words.items():
        for _ in range(n):
            rows.append((i, w))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["iteration"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_frame(docs, n_merges=5, top_words=200)
        .orderBy("iteration")
        .collect()
    ]
    assert got == _canonical_bpe(words, 5)


def test_bpe_encode_matches_canonical_apply(spark):
    """The encoder must tokenize every word exactly as the canonical
    array-walk application of the learned merges — same adversarial
    run-heavy vocabulary as the trainer test."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        bpe_encode_frame,
    )

    words = {"abababab": 4, "aaaa": 3, "abba": 2, "cab": 5, "abcab": 1}
    rows = []
    i = 0
    for w, n in words.items():
        for _ in range(n):
            rows.append((i, w))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = _canonical_bpe(words, 5)

    def apply_merges(word):
        syms = list(word)
        for _, a, b, _c in merges:
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        return syms

    expected = {w: len(apply_merges(w)) for w in words}
    got = bpe_encode_frame(docs, n_merges=5, top_words=200).collect()
    assert len(got) == len(rows)
    by_doc = {r["doc_id"]: r for r in got}
    for doc_id, w in rows:
        r = by_doc[doc_id]
        assert r["n_word_occurrences"] == 1
        assert r["n_char_syms"] == len(w)
        assert r["n_bpe_tokens"] == expected[w], w


@pytest.mark.parametrize("text", ["", "a b c"])
def test_bpe_zero_merges_give_typed_empty_frames(spark, text):
    """No adjacent pair to merge (an empty corpus, or only one-character
    words): both frames are empty and keep their schemas."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        bpe_encode_frame,
        bpe_train_frame,
    )

    docs = _docs(spark, [(1, text)])
    train = bpe_train_frame(docs, n_merges=5, top_words=200)
    encode = bpe_encode_frame(docs, n_merges=5, top_words=200)
    assert train.collect() == [] and encode.collect() == []
    assert train.schema.simpleString() == (
        "struct<iteration:int,left_sym:string,right_sym:string,pair_count:bigint>"
    )
    assert encode.schema.simpleString() == (
        "struct<doc_id:bigint,n_word_occurrences:bigint,n_char_syms:bigint,"
        "n_bpe_tokens:bigint>"
    )


# Crafted corpus for the BPE oracle edge cases. Round 3 is an equal-count
# tie that code-point order breaks to U+FF5E before U+1D11E (an astral
# character); UTF-16 order would pick U+1D11E. "e\u0301" carries a
# combining accent (its own code point, so its own symbol; round 5),
# "caf\u00e9" the precomposed one. The runs of 'a' are where the two-pass
# merge and an array walk differ: round 2 is (aa, a), not (aa, aa).
_BPE_EDGE_TEXTS = [
    " ".join(["\uff5ea \U0001d11ea"] * 4),
    "e\u0301 e\u0301 e\u0301 caf\u00e9",
    "aaaaaa aaaaa aaaaaa",
    "x\U0001d11ey x\U0001d11ey zz zz",
]


def test_bpe_oracle_parity_on_edge_cases(spark, sf_small, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_realtime_sessionize_sample_spark.plans.llm_queries import bpe_merge_plan
    from tests.oracle_util import TABLES, compare_query

    words = sorted({w for t in _BPE_EDGE_TEXTS for w in t.split(" ")})
    syms = sorted({c for w in words for c in w})
    con = duckdb.connect()
    # Spark split(w, ''), DuckDB string_split(w, '') and list(w) give the
    # same code points, and the three engines order strings the same way.
    spark_split = {
        r["w"]: list(r["s"])
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", F.expr("split(w, '')").alias("s"))
        .collect()
    }
    duck_split = dict(
        con.execute(
            "SELECT w, string_split(w, '') FROM (SELECT unnest(?::VARCHAR[]) AS w)",
            [words],
        ).fetchall()
    )
    assert spark_split == duck_split == {w: list(w) for w in words}
    spark_order = [
        r["s"] for r in spark.createDataFrame([(s,) for s in syms], "s string")
        .orderBy("s").collect()
    ]
    duck_order = [
        r[0] for r in con.execute(
            "SELECT s FROM (SELECT unnest(?::VARCHAR[]) AS s) ORDER BY s", [syms]
        ).fetchall()
    ]
    assert spark_order == duck_order == syms

    # the registered queries and their oracles on a crafted documents table
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(sf_small, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    n = len(_BPE_EDGE_TEXTS)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": _BPE_EDGE_TEXTS,
            "lang": ["en"] * n,
            "source": ["web"] * n,
            "n_chars": pa.array([len(t) for t in _BPE_EDGE_TEXTS], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    docs = _docs(spark, list(enumerate(_BPE_EDGE_TEXTS)))
    assert bpe_merge_plan(docs, 5, 200) == [
        ("a", "a", 14),
        ("aa", "a", 5),
        ("\uff5e", "a", 4),
        ("\U0001d11e", "a", 4),
        ("e", "\u0301", 3),
    ]
    for name in ("bpe_train_merges", "bpe_encode_corpus"):
        compare_query(spark, name, str(tmp_path))


def test_geometric_median_resists_outlier(spark):
    """One far outlier drags the mean but barely moves the geometric
    median — the robustness property the operator exists for."""
    from flink_realtime_sessionize_sample_spark.plans.feature_queries import (
        geometric_median_frame,
    )

    dim = 64
    rows = []
    # 9 points tightly around 0.1*j/dim, one outlier at 100.0 everywhere
    for i in range(9):
        rows.append((i, [0.1 + 0.001 * i] * dim))
    rows.append((99, [100.0] * dim))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["pos"]: r for r in geometric_median_frame(emb).collect()}
    assert len(got) == dim
    for r in got.values():
        # mean is dragged to ~ (9*0.104 + 100)/10 ~ 10.09
        assert r["mean_e6"] > 9_000_000
        # geometric median stays with the cluster (~0.104), far below 1.0
        assert r["gmedian_e6"] < 1_000_000
        assert r["n_points"] == 10


def test_cohens_kappa_textbook_example(spark):
    """The classic 2x2 worked example: 50 items, raters agree on 20 yes +
    15 no, disagree on 15 -> po = 0.7, pe = 0.5 + 0.06... exact values:
    marginals A: yes 30, no 20; B: yes 25, no 25 -> pe = (30*25 + 20*25)
    / 2500 = 0.5, kappa = (0.7 - 0.5) / 0.5 = 0.4."""
    from flink_realtime_sessionize_sample_spark.plans.ml_eval_queries import (
        kappa_from_pairs,
    )

    rows = (
        [("yes", "yes")] * 20
        + [("no", "no")] * 15
        + [("yes", "no")] * 10
        + [("no", "yes")] * 5
    )
    pairs = spark.createDataFrame(rows, "pa string, pb string")
    out = kappa_from_pairs(pairs).collect()[0]
    assert out["n_docs"] == 50
    assert out["n_agree"] == 35
    assert out["po"] == 0.7
    assert out["pe"] == 0.5
    assert out["kappa"] == 0.4


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_waterfill_invariants_random_supplies(spark, seed):
    """Water-filling invariants on arbitrary supply distributions:
    allocations are nonnegative, never exceed supply, sum EXACTLY to the
    budget; uncapped sources keep everything; capped allocations are
    level +- the one-token remainder and never below an uncapped
    source's supply."""
    import random

    from flink_realtime_sessionize_sample_spark.plans.pipeline_queries import (
        waterfill_from_supply,
    )

    rng = random.Random(seed)
    sup_rows = [
        (f"s{i:03d}", rng.choice([rng.randint(1, 50), rng.randint(1000, 9999)]))
        for i in range(rng.randint(3, 40))
    ]
    sup = spark.createDataFrame(sup_rows, "source string, s long")
    rows = waterfill_from_supply(sup).collect()
    total = sum(s for _, s in sup_rows)
    budget = total // 2
    assert rows[0]["budget_tokens"] == budget
    assert sum(r["allocated_tokens"] for r in rows) == budget
    for r in rows:
        assert 0 <= r["allocated_tokens"] <= r["supply_tokens"]
        if not r["capped"]:
            assert r["allocated_tokens"] == r["supply_tokens"]
    capped = [r["allocated_tokens"] for r in rows if r["capped"]]
    uncapped_sup = [r["supply_tokens"] for r in rows if not r["capped"]]
    if capped:
        assert max(capped) - min(capped) <= 1  # common level +- remainder
        if uncapped_sup:
            # the water level never sits below a fully-funded supply
            assert min(capped) >= max(uncapped_sup)


def test_global_rank_deterministic_under_replan(spark):
    """Regression for the round-6 banding rewrite: a rank pipeline whose
    lineage contains aggregates + a window (the ccnet shape that broke
    exchange reuse) must produce IDENTICAL ranks and exact ntile sizes on
    every execution — under the old repartitionByRange design this
    varied run to run (rdd-id-seeded boundary sampling)."""
    from pyspark.sql import Window

    from flink_realtime_sessionize_sample_spark.operators.global_order import (
        ntile_from_rank,
        with_global_rank,
    )

    base = spark.range(20000).select(
        F.col("id"),
        (F.abs(F.xxhash64("id")) % 400).alias("k"),
    )
    per_k = base.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    scored = per_k.withColumn(
        "w", F.sum("c").over(Window.partitionBy(F.col("k") % 10))
    ).select("k", (F.col("c") * 1000 + F.col("w") % 7).alias("score"))
    runs = []
    for _ in range(3):
        ranked = with_global_rank(
            scored,
            [F.col("score").desc(), F.col("k").asc()],
            rank_col="r",
            total_col="n",
        )
        tiled = ranked.withColumn(
            "bucket", ntile_from_rank(F.col("r"), F.col("n"), 10)
        )
        sizes = sorted(
            (row["bucket"], row["cnt"])
            for row in tiled.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        ranks = sorted(r["r"] for r in ranked.collect())
        runs.append((sizes, ranks))
    n = len(runs[0][1])
    assert runs[0][1] == list(range(1, n + 1))  # no dup/out-of-range ranks
    assert runs[0] == runs[1] == runs[2]
    assert max(c for _, c in runs[0][0]) - min(c for _, c in runs[0][0]) <= 1


def test_gopher_rules_fire_on_handcrafted_documents(spark):
    """Cross-engine hashing proves Spark and DuckDB AGREE; this pins the
    rule semantics against INTENT — one handcrafted document per rule,
    each violating exactly the targeted property, plus one clean document
    that passes everything."""
    from flink_realtime_sessionize_sample_spark.plans.llm_queries import (
        _gopher_flag_frame,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and then walks home "
        "to rest while the sun sets slowly behind the quiet hills today "
    )
    # Non-repeating ~55-word prose (repetition would trip rule 8).
    clean = (
        "the morning train arrived and people walked into town while "
        "vendors opened their small shops near a river that flowed gently "
        "past old stone bridges toward distant farms where workers "
        "gathered fresh fruit before noon as children played outside "
        "school waiting for lessons about history science music and art "
        "under bright skies with calm winds drifting over green fields"
    )
    docs = [
        # 1: word count < 50
        (1, "too short to keep but the words are fine"),
        # 2: mean word length > 10
        (2, " ".join(["pneumonoultramicroscopics"] * 60)),
        # 3: symbol/word ratio > 0.1 (hashes)
        (3, clean + " " + "#" * 30),
        # 4: > 90% bullet lines
        (4, "\n".join(f"- {w}" for w in (prose * 2).split()[:60])),
        # 5: > 30% ellipsis-terminated lines
        (5, "\n".join(w + "..." for w in (prose * 3).split()[:60])),
        # 6: < 80% alphabetic words
        (6, " ".join(["123456"] * 40 + prose.split()[:15])),
        # 7: < 2 stop-word tokens
        (7, " ".join(["zebra", "quartz", "jungle"] * 20)),
        # 8: duplicate-trigram fraction > 0.3
        (8, " ".join(["alpha beta gamma"] * 25)),
        # 9: top-bigram fraction > 0.18 (distinct trigrams via counters)
        (9, " ".join(f"ping pong x{i} y{i}" for i in range(20))),
        # 10: contains '{'
        (10, clean + " if (x) { return; }"),
        # 0: passes all ten
        (0, clean),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in _gopher_flag_frame(df).collect()}
    for i in range(1, 11):
        col = f"b{i:02d}"
        assert rows[i][col] == 0, f"doc {i} should FAIL rule {col}"
    for i, r in rows.items():
        fails = [c for c in r.asDict() if c.startswith("b") and r[c] == 0]
        if i == 0:
            assert not fails, f"clean doc fails {fails}"
