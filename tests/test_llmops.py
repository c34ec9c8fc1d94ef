"""Extension-operator tests: text analysis, dedup families, similarity
search, multimodal plumbing — invariants + brute-force cross-checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------

def test_text_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "The cat, the hat!"), (2, "x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.text_stats(df).collect()}
    assert got[1]["n_tokens"] == 4
    assert got[1]["n_chars_computed"] == 17
    # 'the' twice (lowercased) → stopword_ratio 0.5
    assert got[1]["stopword_ratio"] == pytest.approx(0.5)
    assert got[2]["n_tokens"] == 1
    assert 0.0 <= got[1]["quality_score"] <= 1.0


def test_bpe_token_count(spark):
    df = spark.createDataFrame([(1, "ab12 cd-ef!")], "doc_id long, text string")
    # ab, 12, cd, -, ef, ! → 6
    assert text.bpe_token_count(df).collect()[0]["n_bpe_tokens"] == 6


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the hat"),
            (2, "der hund ist nicht da und das ist gut"),
            (3, "le chat est dans la maison pour une nuit"),
            (4, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in text.detect_language(df).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_simhash_near_dup_behavior(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")          # one-token change
    c = "completely different content about spark query engines and shuffles"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in text.simhash64(df).collect()}
    near = bin(fp[1] ^ fp[2]).count("1")
    far = bin(fp[1] ^ fp[3]).count("1")
    assert near < far
    assert near <= 16


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3]           # normalized dup (case/whitespace) removed


def test_ngram_vs_minhash_agree_on_real_data(spark):
    docs = spark.read.parquet(DOCS)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    # verified-LSH must equal the exact pair set at this scale
    assert mh == exact


def test_dedup_hot_caps_bound_fanout_without_recall_loss(spark):
    """The registered production caps must be no-ops on natural text (no
    recall loss — the workload oracle proves the same at sf0.01), while a
    degenerate boilerplate cluster IS droppable by a small cap."""
    docs = spark.read.parquet(DOCS)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, max_shingle_freq=10_000
        ).collect()
    }
    assert capped == uncapped and capped
    mh_capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.8, max_band_freq=10_000
        ).collect()
    }
    assert mh_capped == uncapped

    # degenerate cluster: 40 identical docs share every band bucket, so a
    # cap of 10 drops all their buckets -> zero candidate pairs from the
    # cluster; a distinct near-dup pair outside the cluster survives.
    boiler = [(i, "the same boilerplate footer text repeated verbatim "
                  "across the entire mirror of the site") for i in range(40)]
    pair = [
        (100, "a unique article about spark adaptive execution and "
              "shuffle partition coalescing at scale x"),
        (101, "a unique article about spark adaptive execution and "
              "shuffle partition coalescing at scale y"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(
            df, threshold=0.8, max_band_freq=10
        ).collect()
    }
    assert got == {(100, 101)}, got


def test_minhash_jaccard_estimates_match_exact(spark):
    docs = spark.read.parquet(DOCS)
    rows = dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    for r in rows:
        assert exact[(r["id_a"], r["id_b"])] == pytest.approx(r["jaccard"])


def test_simhash_dedup_pairs_find_planted_dups(spark):
    docs = spark.read.parquet(DOCS)
    pairs = dedup.simhash_dedup_pairs(docs, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    # J≈0.99 pairs are SimHash-near as well — expect high overlap.
    assert len(found & exact) >= int(0.8 * len(exact))


def test_dedup_keep_representatives(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1, 0.9), (1, 2, 0.9), (4, 5, 0.9)], "id_a long, id_b long, jaccard double"
    )
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_keep_representatives(df, pairs).collect()
    )
    assert kept == [0, 3, 4]        # chain 0-1-2 → 0; singleton 3; pair 4-5 → 4


def test_dedup_keep_best_prefers_score_then_min_id(spark):
    df = spark.createDataFrame(
        [(0, 10), (1, 30), (2, 20), (3, 5), (4, 7), (5, 7)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(0, 1, 0.9), (1, 2, 0.9), (4, 5, 0.9)], "id_a long, id_b long, jaccard double"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_best(df, pairs, score_col="quality").collect()
    )
    # chain 0-1-2 → 1 (best quality, NOT min id); singleton 3 kept;
    # pair 4-5 tied → 4 (smaller id)
    assert kept == [1, 3, 4]


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def _numpy_topk(emb, queries, k):
    out = {}
    ids = emb["vec_id"].to_numpy()
    mat = np.stack(emb["embedding"].to_numpy())
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in queries:
        q = mat[ids == qid][0]
        sims = mat @ q
        mask = ids != qid
        order = sorted(
            zip(sims[mask], -ids[mask]), key=lambda t: (-t[0], t[1])
        )
        out[qid] = [int(-i) for _, i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(EMB)
    qids = [0, 7, 42]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    expected = _numpy_topk(emb.toPandas(), qids, 5)
    assert by_q == expected


def _recall_at_10(spark, approx_fn):
    """Recall@10 of ``approx_fn(emb, queries)`` against the exact top-k over
    the workload's own query set (``_emb_queries``) — same settings the
    registered queries run with, so a pinned floor here fails on any real
    quality regression (plane generation, list assignment, centroid math)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in approx_fn(emb, queries).collect()
    }
    return len(exact & approx) / len(exact)


# Recall context: the synthetic embeddings are isotropic unit-norm random
# vectors — there is NO cluster structure for a coarse quantizer to exploit,
# so recall at a fixed nprobe/plane-count is data-bounded (≈ the fraction of
# the corpus scanned, amplified by nearest-pivot correlation), not a defect
# of the index.  The gates below therefore combine (a) measured floors with
# margin at the registered-query settings — sf0.01 measurements 2026-08:
# lsh(4 planes)=0.120, ivf(nprobe=2)=0.275, kmeans(0.25 sample, nprobe=2)
# =0.320, ivf(nprobe=8)=0.755 — and (b) structural EXACTNESS gates
# (probing every list must reproduce the exact top-k, recall == 1.0), which
# detect quality regressions independent of data geometry.

def test_lsh_topk_recall_floor(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _TOPK_PLANES,
    )

    recall = _recall_at_10(
        spark, lambda emb, q: similarity.lsh_topk(emb, q, _TOPK_PLANES, k=10)
    )
    assert recall >= 0.08, recall   # measured 0.120 at current 4-plane table


def test_lsh_multiprobe_recall_floor_and_monotonicity(spark):
    """Multi-probe must lift recall monotonically in n_probes (measured
    0.120 → 0.325 → 0.440 for 0/2/4 probes at sf0.01) — the registered
    query runs n_probes=4."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _TOPK_PLANES,
    )

    recalls = {
        np_: _recall_at_10(
            spark,
            lambda emb, q, np_=np_: similarity.lsh_topk(
                emb, q, _TOPK_PLANES, k=10, n_probes=np_
            ),
        )
        for np_ in (0, 2, 4)
    }
    assert recalls[4] >= 0.35, recalls
    assert recalls[0] <= recalls[2] <= recalls[4], recalls


def test_ivf_topk_recall_floor_and_monotonicity(spark):
    r2 = _recall_at_10(
        spark, lambda emb, q: similarity.ivf_topk(emb, q, k=10, nprobe=2)
    )
    r12 = _recall_at_10(
        spark, lambda emb, q: similarity.ivf_topk(emb, q, k=10, nprobe=12)
    )
    assert r2 >= 0.20, r2           # measured 0.275 (nprobe=2 of 14 lists)
    # nprobe=12 is the REGISTERED emb_ivf_topk setting — the production
    # recall target (≥0.8, ADVICE r4; measured 0.97 at sf0.01).
    assert r12 >= 0.80, r12
    assert r12 >= r2                # more probes can only help


def test_ivf_topk_full_probe_is_exact(spark):
    """Probing EVERY inverted list must reproduce the exact top-k
    (recall == 1.0): a geometry-independent regression gate on list
    assignment, candidate generation, and scoring."""
    emb = spark.read.parquet(EMB)
    npivots = similarity.ivf_pivots(emb).count()
    recall = _recall_at_10(
        spark,
        lambda emb, q: similarity.ivf_topk(emb, q, k=10, nprobe=npivots),
    )
    assert recall == 1.0, recall


def test_ivf_topk_structure(spark):
    emb = spark.read.parquet(EMB)
    qids = [0, 25, 50, 75]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.ivf_topk(emb, queries, k=5, nprobe=3, modulus=29).collect()
    assert all(1 <= r["rank"] <= 5 for r in approx)
    # every query got candidates from its probed lists only — sanity: k rows max
    from collections import Counter
    per_q = Counter(r["query_id"] for r in approx)
    assert all(v <= 5 for v in per_q.values())


def test_cosine_dedup_pairs_finds_planted_duplicate(spark):
    emb = spark.read.parquet(EMB).limit(50)
    # plant a near-exact duplicate of vec 0 with id 9999
    v0 = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dup = spark.createDataFrame(
        [(9999, [x * 1.0001 for x in v0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    planes = similarity.random_planes(64, 8, seed=3)
    pairs = similarity.cosine_dedup_pairs(
        emb.unionByName(dup), planes, threshold=0.999
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 9999)}


def test_cosine_dedup_hot_bucket_cap_bounds_degenerate_bucket(spark):
    """A degenerate bucket (many identical vectors → one sign pattern)
    is droppable by the cap, while a healthy near-dup pair in another
    bucket survives, and a generous cap is a no-op — the registered
    lane's 10k cap must never fire on healthy data (the sf0.01 oracle
    stays bit-green)."""
    boiler = [(i, [1.0] + [0.0] * 63) for i in range(40)]
    a = [0.0, 1.0] + [0.0] * 62
    pair = [(100, a), (101, [x * 1.0001 for x in a])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in boiler + pair],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.random_planes(64, 8, seed=3)
    capped = similarity.cosine_dedup_pairs(
        df, planes, threshold=0.999, max_bucket_freq=10
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}
    uncapped = similarity.cosine_dedup_pairs(
        df, planes, threshold=0.999
    ).collect()
    noop = similarity.cosine_dedup_pairs(
        df, planes, threshold=0.999, max_bucket_freq=10_000
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in noop} == {
        (r["id_a"], r["id_b"]) for r in uncapped
    }
    assert len(uncapped) == 40 * 39 // 2 + 1  # boiler clique + the pair


def test_minhash_dedup_between_finds_cross_corpus_dups(spark):
    """Cross-corpus variant: a shard doc near-duplicating a corpus doc is
    found; shard-internal duplicates are NOT reported (that is the
    self-join operator's job); verified jaccard is exact."""
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [
            # near-dup of corpus doc 0 (one word changed)
            (1, "the quick brown fox jumps over the lazy cat again and again today"),
            # identical pair WITHIN the shard — must not appear in output
            (3, "internal duplicate text body repeated across the shard here"),
            (5, "internal duplicate text body repeated across the shard here"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_dedup_pairs_between(
        shard, corpus, threshold=0.5
    ).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {(1, 0)}
    (p,) = pairs
    # exact jaccard of the two 3-gram shingle sets, computed independently
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    a, b = sh(shard.collect()[0]["text"]), sh(corpus.collect()[0]["text"])
    assert p["jaccard"] == len(a & b) / len(a | b)


def test_minhash_index_matches_between(spark, tmp_path):
    """The materialized-index path must return exactly the same verified
    pair set as the in-query cross-corpus operator (same hash family, same
    band keys, same exact-Jaccard verify) on real document data."""
    docs = spark.read.parquet(DOCS)
    shard = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    idx = dedup.build_minhash_index(corpus, str(tmp_path / "idx"))
    via_index = dedup.minhash_pairs_against_index(
        shard, idx, threshold=0.8
    ).collect()
    direct = dedup.minhash_dedup_pairs_between(
        shard, corpus, threshold=0.8
    ).collect()
    key = lambda r: (r["left_id"], r["right_id"], round(r["jaccard"], 12))
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index  # sf0.001 documents contain planted near-dups


def test_minhash_index_never_rescans_corpus_text(spark, tmp_path):
    """After the index is built, the corpus TEXT must never be needed
    again: delete the corpus source parquet and the shard query must still
    run off the index alone (by construction the API takes no corpus df)."""
    import shutil

    corpus_dir = tmp_path / "corpus_src"
    spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different corpus content about spark engines"),
        ],
        "doc_id long, text string",
    ).write.parquet(str(corpus_dir))
    corpus = spark.read.parquet(str(corpus_dir))
    idx = dedup.build_minhash_index(corpus, str(tmp_path / "idx"))
    shutil.rmtree(corpus_dir)  # corpus text is gone; only the index remains
    shard = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat again and again today")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_pairs_against_index(shard, idx, threshold=0.5).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {(1, 0)}


def test_minhash_index_version_mismatch_raises(spark, tmp_path):
    import json

    corpus = spark.createDataFrame(
        [(0, "some corpus text body")], "doc_id long, text string"
    )
    idx = dedup.build_minhash_index(corpus, str(tmp_path / "idx"))
    meta_path = tmp_path / "idx" / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["version"] = 999
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="version"):
        dedup.minhash_pairs_against_index(corpus, idx)


def test_dedup_representatives_adversarial_star_graph(spark):
    """Adversarial cluster shape: ONE giant near-dup cluster (a star of
    10⁵ edges around node 0 — the 'same boilerplate page crawled 100k
    times' case).  The auto-derived graph_partitions path and per-round
    checkpoints must converge in bounded wall-clock and keep exactly the
    min-id representative; a propagation bug (or lineage blow-up) shows up
    here as a timeout or a wrong survivor set."""
    import time

    N = 100_000
    corpus = spark.range(N + 1).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    pairs = spark.range(1, N + 1).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    t0 = time.perf_counter()
    kept = dedup.dedup_keep_representatives(corpus, pairs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    elapsed = time.perf_counter() - t0
    assert ids == [0]                       # min-id representative survives
    assert elapsed < 90.0, elapsed          # measured ~9.5 s cold at 100k edges

    # chain topology: min label must flood hop-by-hop across all `rounds`
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 205)], "id_a long, id_b long"
    )
    chain_corpus = spark.range(200, 206).select(F.col("id").alias("doc_id"))
    kept_chain = dedup.dedup_keep_representatives(chain_corpus, chain)
    assert sorted(r["doc_id"] for r in kept_chain.collect()) == [200]


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def test_multimodal_feature_pipeline(spark):
    base = spark.range(20).select(F.col("id").alias("media_id"))
    media = multimodal.synth_media(base, "media_id")
    feats = multimodal.extract_features(
        multimodal.repartition_for_media(media, 4), codec="stub"
    )
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same content → same features
    again = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(media, codec="stub").collect()
    }
    assert all(again[r["media_id"]] == r["features"] for r in rows)


def test_multimodal_auto_codec_both_environments(spark):
    """The `auto` codec self-upgrades to Pillow when installed and falls
    back to the stub otherwise; over *valid* image payloads (hand-rolled
    BMPs) the same pipeline contract holds in both environments."""
    resolved = multimodal.resolve_codec("auto", "image")
    assert resolved == ("pil" if multimodal.pil_available() else "stub")
    assert multimodal.resolve_codec("stub", "image") == "stub"
    assert multimodal.resolve_codec("auto", "audio") == "stub"

    base = spark.range(8).select(F.col("id").alias("media_id"))
    media = multimodal.synth_media_bmp(base, "media_id")
    rows = multimodal.extract_features(media, codec="auto").collect()
    assert len(rows) == 8
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])
    again = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(media, codec="auto").collect()
    }
    assert all(again[r["media_id"]] == r["features"] for r in rows)
    if multimodal.pil_available():
        # the real decoder must be in play: pixel means, not digest lanes
        stub = {
            r["media_id"]: r["features"]
            for r in multimodal.extract_features(media, codec="stub").collect()
        }
        assert any(stub[r["media_id"]] != r["features"] for r in rows)


def test_multimodal_resize_and_frames(spark):
    base = spark.range(5).select(F.col("id").alias("media_id"))
    imgs = multimodal.synth_media(base, "media_id", media_type="image")
    vids = multimodal.synth_media(base, "media_id", media_type="video")
    resized = multimodal.resize_images(imgs, 32, 32).collect()
    assert len(resized) == 5 and all(r["width"] == 32 for r in resized)
    frames = multimodal.sample_frames(vids, n_frames=3).collect()
    assert len(frames) == 15
    idx = {(r["media_id"], r["frame_idx"]) for r in frames}
    assert len(idx) == 15
    # image rows produce no frames
    assert multimodal.sample_frames(imgs).count() == 0


# ---------------------------------------------------------------------------
# fixture oracle: simhash (xxhash64 has no DuckDB equivalent, so the pairs
# are verified against an independent pure-Python XXH64 + brute-force
# Hamming reference — no shared code with operators/dedup.py)
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Canonical XXH64 (public algorithm) — validated to match Spark's
    ``F.xxhash64`` (seed 42) bit-for-bit, including multibyte UTF-8."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                k = int.from_bytes(data[i:i + 8], "little")
                v[j] = (_rotl((v[j] + k * _P2) & _M64, 31) * _P1) & _M64
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for vj in v:
            h = (((h ^ ((_rotl((vj * _P2) & _M64, 31) * _P1) & _M64)) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i:i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h ^ k, 27)) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i:i + 4], "little") * _P1) & _M64), 23)) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = ((_rotl(h ^ ((data[i] * _P5) & _M64), 11)) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxhash64_spark_signed(s: str) -> int:
    h = _xxh64(s.encode("utf-8"))
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_reference_matches_spark(spark):
    words = ["hello", "a", "abcd", "abcdefgh", "lorem ipsum dolor sit amet xyz", ""]
    rows = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", F.xxhash64("w").alias("h")
    ).collect()
    for r in rows:
        assert _xxhash64_spark_signed(r["w"]) == r["h"], r["w"]


def _simhash_reference(text_val: str) -> int:
    """Independent SimHash: whitespace tokens of trim(lower(text)), 64-bit
    majority vote over XXH64 token hashes (duplicates kept, like
    ``F.transform``)."""
    import re as _re

    toks = _re.split(r"\s+", text_val.strip().lower())
    votes = [0] * 64
    for tok in toks:
        h = _xxh64(tok.encode("utf-8"))
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    fp = 0
    for b in range(64):
        if votes[b] > 0:
            fp |= 1 << b
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def test_simhash_pairs_match_pure_python_reference(spark, oracle_sf_dir):
    """Exact fixture oracle for the rows-only `doc_simhash_pairs` query:
    brute-force all-pairs Hamming over independently computed fingerprints
    must equal the banded pigeonhole pipeline's output (the <=max_hamming
    ball is covered exactly — banding is recall-lossless there).
    Dual-SF (VERDICT r14 ask #5): runs at sf0.001 AND sf0.01 like every
    DuckDB oracle."""
    sf = oracle_sf_dir
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text").collect()
    fps = {r["doc_id"]: _simhash_reference(r["text"]) for r in docs}
    ids = sorted(fps)

    # Registered-query radius (3, single-level), wide radius (8,
    # single-level), and wide radius with two-level band-pair keys (the
    # scale-safe parameterization) must ALL match the brute-force ball.
    nonvacuous = 0
    for radius, combo in ((3, 1), (8, 1), (8, 2)):
        expected = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin((fps[a] ^ fps[b]) & _M64).count("1")
                if ham <= radius:
                    expected.add((a, b, ham))

        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_dedup_pairs(
                spark.read.parquet(f"{sf}/documents.parquet"),
                max_hamming=radius,
                band_combo=combo,
            ).collect()
        }
        assert got == expected, (radius, combo)
        nonvacuous += len(expected)
    assert nonvacuous > 0  # at least one radius exercised real pairs


def _poly_fold(s: str, base: int) -> int:
    acc = 0
    for ch in s:
        acc = (acc * base + ord(ch)) % ((1 << 31) - 1)
    return acc


def _simhash_poly_reference(txt: str) -> int:
    """Independent reimplementation of text.simhash64_poly (two-base
    polynomial token hashes widened to 62 bits, 64-lane ±1 vote)."""
    toks = txt.strip().lower().split() or [""]
    votes = [0] * 64
    for w in toks:
        h = _poly_fold(w, 263) * (1 << 31) + _poly_fold(w, 257)
        for lane in range(64):
            votes[lane] += 1 if (h >> lane) & 1 else -1
    fp = 0
    for lane in range(64):
        if votes[lane] > 0:
            fp |= 1 << lane
    return fp


def test_simhash_poly_kernel_edge_strings(spark):
    """The r18 vectorized poly-hash kernel (token hashes + vote in one
    Arrow pass) must reproduce the Catalyst fold's values on edge
    shapes: empty text, whitespace-only text, astral-plane code points
    (Spark's split('')/ascii() are code-point-aware), an empty-token
    boundary, and >2048-char tokens (the kernel's chunked-mod slow
    path)."""
    rows = [
        (1, ""),
        (2, "   "),
        (3, "x \U0001F600y héllo wörld"),
        (4, "a" * 5000 + " b"),
        (5, "tail " + "q" * 2049),
        (6, "one two three two one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in text.simhash64_poly(df).collect()}
    want = {i: _simhash_poly_reference(t) for i, t in rows}
    assert got == want


def test_simhash_poly_pairs_match_pure_python_reference(spark):
    """The poly-hash lane (registered as the hash-verified
    `doc_simhash_poly_pairs`) must equal the brute-force Hamming ball
    over independently computed polynomial fingerprints."""
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    fps = {r["doc_id"]: _simhash_poly_reference(r["text"]) for r in docs}
    ids = sorted(fps)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(fps[a] ^ fps[b]).count("1")
            if ham <= 3:
                expected.add((a, b, ham))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_dedup_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"),
            max_hamming=3,
            hash_family="poly",
        ).collect()
    }
    assert got == expected
    assert len(expected) > 0  # the check is not vacuous


def test_ivf_index_matches_inmemory_path(spark, tmp_path):
    """ivf_topk_against_index must reproduce the in-memory ivf_topk
    bit-for-bit (same quantizer, same tie-breaks) on real embeddings."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    via_index = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    direct = similarity.ivf_topk(
        emb, queries, k=10, nprobe=12, modulus=37
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index


def _probe_plans(spark, probe) -> str:
    """Formatted plans of an indexed probe: the frame ``probe()`` returns
    and every query it ran eagerly while building it (a probe with a
    re-rank scores its pruned lists before it returns), read from
    Spark's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # by id: the store retains a bounded window, so positions shift
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    out = probe()
    fm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(fm)
    return plan + "".join(
        "\n" + e.physicalPlanDescription()
        for e in executions() if e.executionId() > seen
    )


def test_ivf_index_prunes_unprobed_lists(spark, tmp_path):
    """Partition pruning is the point of the artifact: a 1-query nprobe=2
    probe must plan a scan restricted to exactly the 2 probed list
    partitions (``PartitionFilters: [pivot_id IN (a,b)]``) — un-probed
    lists contribute zero scan tasks."""
    import re

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    idx = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    one_query = _emb_queries(emb).limit(1)
    out = similarity.ivf_topk_against_index(one_query, idx, k=10, nprobe=2)
    fm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(fm)
    m = re.search(r"PartitionFilters: \[pivot_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 2, m.group(1)
    assert similarity.ivf_pivots(emb).count() > 2  # pruning skipped lists


def test_ivf_index_version_mismatch_raises(spark, tmp_path):
    import json

    emb = spark.read.parquet(EMB)
    idx = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    meta_path = tmp_path / "ivf" / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["version"] = 999
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="version"):
        similarity.ivf_topk_against_index(emb.limit(1), idx)


def test_minhash_index_append_equals_full_rebuild(spark, tmp_path):
    """Appending new docs to an index must answer shard queries exactly
    like an index built on the full corpus in one shot (same hash family
    from the manifest, standing rows untouched)."""
    docs = spark.read.parquet(DOCS)
    old = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 == 1)
    shard = docs.filter(F.col("doc_id") % 3 == 2)

    appended = dedup.build_minhash_index(old, str(tmp_path / "a"))
    dedup.append_to_minhash_index(new, appended)
    full = dedup.build_minhash_index(
        old.unionByName(new), str(tmp_path / "b")
    )
    key = lambda r: (r["left_id"], r["right_id"], round(r["jaccard"], 12))
    via_appended = sorted(
        map(key, dedup.minhash_pairs_against_index(shard, appended).collect())
    )
    via_full = sorted(
        map(key, dedup.minhash_pairs_against_index(shard, full).collect())
    )
    assert via_appended == via_full
    assert via_appended  # planted near-dups cross the split


def test_lsh_multitable_recall_floor_and_amplification(spark):
    """E2LSH amplification at the registered settings (3×4-plane tables,
    full multi-probe): union recall must clear the 0.80 production floor
    and strictly dominate the single-table path (measured ~0.5 single /
    ~0.89 three-table at sf0.01)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _LSH_TABLES,
    )

    r1 = _recall_at_10(
        spark,
        lambda emb, q: similarity.lsh_multitable_topk(
            emb, q, _LSH_TABLES[:1], k=10, n_probes=4
        ),
    )
    r3 = _recall_at_10(
        spark,
        lambda emb, q: similarity.lsh_multitable_topk(
            emb, q, _LSH_TABLES, k=10, n_probes=4
        ),
    )
    assert r3 >= 0.80, (r1, r3)
    assert r3 >= r1  # more tables can only add candidates


def test_lsh_multitable_single_table_equals_lsh_topk(spark):
    """With one table, the multi-table path must reduce exactly to
    lsh_topk (same buckets, probes, scores, ranks)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _TOPK_PLANES, _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    q = _emb_queries(emb)
    multi = similarity.lsh_multitable_topk(
        emb, q, [_TOPK_PLANES], k=10, n_probes=4
    ).collect()
    single = similarity.lsh_topk(
        emb, q, _TOPK_PLANES, k=10, n_probes=4
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, multi)) == sorted(map(key, single))


def test_minhash_index_rebuild_replaces_atomically(spark, tmp_path):
    """Rebuilding an index over the same path must fully replace all
    three components (bands/shingles/manifest) — never mix hash
    families — and leave no staging dirs behind."""
    import json
    import os

    docs = spark.createDataFrame(
        [(0, "some corpus text body here"), (1, "other corpus text body")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    dedup.build_minhash_index(docs, path, num_hashes=128, bands=32)
    dedup.build_minhash_index(docs, path, num_hashes=64, bands=16)
    meta = json.loads((tmp_path / "idx" / "meta.json").read_text())
    assert (meta["num_hashes"], meta["bands"]) == (64, 16)
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.count() == 2 * 16  # only the NEW family's rows
    assert not [d for d in os.listdir(tmp_path) if "__stage_" in d]
    assert not [d for d in os.listdir(tmp_path) if "__old_" in d]


def test_dedup_representatives_long_chain_converges(spark):
    """A 30-node chain (diameter ≫ the old fixed 5 rounds) must fully
    flood to the min id — the convergence-exit loop runs as many rounds
    as the graph actually needs, up to the cap."""
    n = 30
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n - 1)],
        "id_a long, id_b long, jaccard double",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_representatives(df, pairs).collect()
    )
    assert kept == [0]  # one chain -> one representative


def test_dedup_representatives_local_min_far_from_global_min(spark):
    """Pathological id layout: a path where a local-min id sits 8 hops
    from the component's true min.  A fixed 5-round flood would keep BOTH
    as representatives; running to convergence keeps exactly one."""
    # path: 10-11-12-13-14-15-16-17-18-0  (node 10 is a local min, the
    # true min 0 is 9 hops away)
    ids = [10, 11, 12, 13, 14, 15, 16, 17, 18, 0]
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in ids], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(a, b, 0.9) for a, b in zip(ids, ids[1:])],
        "id_a long, id_b long, jaccard double",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_representatives(df, pairs).collect()
    )
    assert kept == [0], kept  # one component -> exactly one representative


def test_ivf_index_append_matches_stored_pivot_inmemory(spark, tmp_path):
    """Appending vectors to an IVF index must answer queries exactly like
    the in-memory path over the full corpus with the index's STORED
    pivots (the quantizer is frozen on append — by design)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.build_ivf_index(old, str(tmp_path / "ivf"))
    similarity.append_to_ivf_index(new, idx)

    queries = _emb_queries(emb)
    via_index = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=4
    ).collect()
    stored_pivots = spark.read.parquet(str(tmp_path / "ivf" / "pivots"))
    direct = similarity.ivf_topk(
        emb, queries, k=10, nprobe=4, pivots=stored_pivots
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index


def test_lsh_multitable_hot_bucket_cap(spark):
    """A degenerate cluster (many identical vectors) must be droppable
    from candidate generation via max_bucket_freq, while normal vectors
    keep ranking — and with no cap the hot cluster dominates results."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _LSH_TABLES,
    )

    dim = 64
    hot_vec = [1.0] + [0.0] * (dim - 1)
    rows = [(i, hot_vec) for i in range(100)]          # degenerate cluster
    rows += [(100 + i, [0.0] * i + [1.0, 0.5] + [0.0] * (dim - 2 - i))
             for i in range(8)]                        # normal spread
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # query FROM the degenerate cluster: its 99 identical twins share its
    # bucket in every table, so uncapped results are all hot twins
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    uncapped = similarity.lsh_multitable_topk(
        emb, q, _LSH_TABLES, k=10, n_probes=4
    ).collect()
    assert uncapped and all(r["vec_id"] < 100 for r in uncapped)
    capped = similarity.lsh_multitable_topk(
        emb, q, _LSH_TABLES, k=10, n_probes=4, max_bucket_freq=50
    ).collect()
    # the 100-vector bucket exceeds the cap in every table -> no hot twin
    # can become a candidate; any surviving result is a normal vector
    assert all(r["vec_id"] >= 100 for r in capped), capped


def test_lsh_index_matches_inmemory_multitable(spark, tmp_path):
    """The materialized LSH index must reproduce lsh_multitable_topk
    bit-for-bit under the manifest's plane tables (planes round-trip
    through JSON exactly — they are Python floats)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _LSH_TABLES, _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_lsh_index(emb, str(tmp_path / "lsh"), _LSH_TABLES)
    via_index = similarity.lsh_topk_against_index(
        queries, idx, k=10, n_probes=4
    ).collect()
    direct = similarity.lsh_multitable_topk(
        emb, queries, _LSH_TABLES, k=10, n_probes=4
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index


def test_ivf_index_append_replay_is_result_safe(spark, tmp_path):
    """A replayed (duplicate) append must not change query results: the
    read path dedups probed list rows per id, so a doubled vector cannot
    occupy two top-k ranks."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    queries = _emb_queries(emb)
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])

    once = similarity.build_ivf_index(old, str(tmp_path / "a"))
    similarity.append_to_ivf_index(new, once)
    r_once = sorted(map(key, similarity.ivf_topk_against_index(
        queries, once, k=10, nprobe=4).collect()))

    twice = similarity.build_ivf_index(old, str(tmp_path / "b"))
    similarity.append_to_ivf_index(new, twice)
    similarity.append_to_ivf_index(new, twice)   # replayed batch
    r_twice = sorted(map(key, similarity.ivf_topk_against_index(
        queries, twice, k=10, nprobe=4).collect()))
    assert r_once == r_twice
    # each top-k id appears at most once per query
    per_q = {}
    for q, _rank, vid, _c in r_twice:
        assert vid not in per_q.setdefault(q, set())
        per_q[q].add(vid)


def test_semantic_dedup_keeps_lowest_id_within_cluster(spark):
    """SemDeDup survivor rule: a vector is dropped iff a smaller-id
    near-duplicate shares its cluster; duplicates split across clusters
    are both kept (the paper's intra-cluster scope)."""
    # pivot ids are multiples of 3 (modulus=3): 0 and 3 seed two clusters
    # on orthogonal axes; near-dups of each pivot cluster with it.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0, same cluster -> drop
        (2, [0.98, -0.01, 0.0, 0.0]),  # near-dup of 0/1, same cluster -> drop
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.99, 0.01, 0.0]),   # near-dup of 3, same cluster -> drop
        (5, [0.0, 0.0, 1.0, 0.0]),     # lone vector, equidistant to both
                                       # pivots -> tie-break to pivot 0, kept
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = similarity.semantic_dedup_survivors(df, threshold=0.9, modulus=3)
    got = {(r["vec_id"], r["pivot_id"]) for r in out.collect()}
    assert got == {(0, 0), (3, 3), (5, 0)}


def test_semantic_dedup_threshold_one_keeps_everything(spark):
    emb = spark.read.parquet(EMB)
    out = similarity.semantic_dedup_survivors(emb, threshold=1.0000001)
    assert out.count() == emb.count()


def test_semantic_dedup_precomputed_clusters_fast_path(spark):
    """The clustered= fast path (one persisted clustering, many dedup
    passes) returns exactly what the from-corpus path returns, and
    refuses a call with neither input."""
    import pytest as _pytest

    emb = spark.read.parquet(EMB).limit(200)
    base = sorted(
        tuple(r)
        for r in similarity.semantic_dedup_survivors(
            emb, threshold=0.35, modulus=7
        ).collect()
    )
    cl = similarity.semantic_clusters(emb, modulus=7).persist()
    try:
        for _ in range(2):  # repeat calls ride the same frame
            got = sorted(
                tuple(r)
                for r in similarity.semantic_dedup_survivors(
                    clustered=cl, threshold=0.35
                ).collect()
            )
            assert got == base
    finally:
        cl.unpersist()
    with _pytest.raises(ValueError, match="corpus or clustered"):
        similarity.semantic_dedup_survivors(threshold=0.35)


def test_pq_rerank_recall_floor(spark):
    """Two-stage PQ (ADC shortlist + exact re-rank) must hold a 0.9
    recall@10 floor vs exact L2 at the registered settings (M=16, K=16,
    shortlist=100, one-Lloyd-round trained codebooks — measured 0.945 at
    sf0.01; the raw fixed-sample seed books sat at 0.84, which is what
    the k-means refinement buys).  Raw single-stage ADC on this gaussian
    corpus sits near 0.3, which is why the re-rank stage is the
    registered shape."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    books = similarity.pq_codebooks_kmeans(emb, 16, 16, iters=1)
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.pq_adc_rerank_topk(emb, q, books, k=10, shortlist=100)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qid, found in by_q.items():
        qv = rows[qid]
        exact = {
            vid for _, vid in sorted(
                (float(np.sum((qv - v) ** 2)), vid)
                for vid, v in rows.items() if vid != qid
            )[:10]
        }
        recalls.append(len(found & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.9


def test_pq_encode_codes_in_range(spark):
    emb = spark.read.parquet(EMB)
    books = similarity.pq_codebooks_from_corpus(emb, 8, 16)
    codes = similarity.pq_encode(emb, books).collect()
    assert all(len(r["pq_code"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["pq_code"])


def test_ivfpq_recall_floor(spark):
    """IVF-PQ composition holds a 0.85 recall@10 floor vs exact L2 at the
    registered settings (nprobe=12, M=16, K=16, shortlist=100, trained
    codebooks — measured 0.93 at sf0.01): the IVF pruning layer costs a
    few points vs two-stage PQ alone (0.945), buying candidate-set
    reduction."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    books = similarity.pq_codebooks_kmeans(emb, 16, 16, iters=1)
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.ivfpq_topk(emb, q, books, k=10, nprobe=12, shortlist=100)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qid, found in by_q.items():
        qv = rows[qid]
        exact = {
            vid for _, vid in sorted(
                (float(np.sum((qv - v) ** 2)), vid)
                for vid, v in rows.items() if vid != qid
            )[:10]
        }
        recalls.append(len(found & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.85


def test_ivfpq_residual_recall_floor_and_trained_pivot_pairing(spark):
    # Residual encoding (IVFADC): with the fixed %37 quantizer on this
    # isotropic corpus residuals have no cluster structure to exploit
    # (the lane docstring documents the 0.815-vs-0.93 sf0.01 gap); the
    # floor guards the machinery, not the geometry.  The trained-pivot
    # pairing is the production shape and must not trail the fixed one.
    r_fixed = _recall_at_10(
        spark,
        lambda emb, q: similarity.ivfpq_residual_topk(
            emb, q, k=10, nprobe=12, shortlist=100
        ),
    )
    assert r_fixed >= 0.60, r_fixed
    emb = spark.read.parquet(EMB)
    trained = similarity.kmeans_pivots(emb, iters=1, modulus=37, sample_modulus=4)
    r_trained = _recall_at_10(
        spark,
        lambda emb, q: similarity.ivfpq_residual_topk(
            emb, q, k=10, nprobe=12, shortlist=100, pivots=trained
        ),
    )
    assert r_trained >= r_fixed - 0.05, (r_trained, r_fixed)


def test_ivfpq_residual_full_probe_includes_all_candidates(spark):
    # Structural gate: probing every list makes candidate generation
    # exhaustive, and the exact re-rank then reproduces the exact top-k
    # whenever the ADC shortlist kept the true neighbors; with
    # shortlist >= corpus the shortlist IS the candidate set, so the
    # result must equal exact L2 top-k regardless of code quality.
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import _emb_queries
    emb = spark.read.parquet(EMB)
    q = _emb_queries(emb)
    n_pivots = emb.where("vec_id % 37 = 0").count()
    n = emb.count()
    got = similarity.ivfpq_residual_topk(
        emb, q, k=10, nprobe=n_pivots, shortlist=n
    )
    want = _exact_l2_topk(emb, q, 10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _exact_l2_topk(corpus, queries, k):
    """Reference: the exact squared-L2 top-k of every query over the whole
    corpus in Catalyst — ``(q−c)·(q−c)`` in double folded from 0.0 in
    element order, ranked by (distance, id), a query never ranking
    itself.  Output ``(query_id, vec_id, l2_dist, rank)``."""
    from pyspark.sql import Window

    def sq(x, y):
        return (x.cast("double") - y.cast("double")) * (
            x.cast("double") - y.cast("double")
        )

    scored = (
        queries.select("query_id", F.col("embedding").alias("__qv"))
        .crossJoin(corpus.select("vec_id", "embedding"))
        .where("vec_id <> query_id")
        .select(
            "query_id", "vec_id",
            F.aggregate(
                F.zip_with("__qv", "embedding", sq), F.lit(0.0), lambda a, v: a + v
            ).alias("l2_dist"),
        )
    )
    order = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return scored.withColumn("rank", F.row_number().over(order)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Quantizer training: bit-exactness against the Catalyst Lloyd round
# ---------------------------------------------------------------------------

#: 2³⁰, the fixed-point scale of the Lloyd means (restated here so the
#: reference below depends on nothing but Spark SQL).
_FP = 1 << 30


def _hash_gate(vecs, fraction):
    return vecs.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(1_000_000))
        < F.lit(int(fraction * 1_000_000))
    )


def _catalyst_pq_books(emb, n_sub, n_codes, iters, fraction=None):
    """Reference PQ training: a Catalyst argmin over each subspace's
    codewords (struct order: distance, then code id), then the
    ``posexplode`` + ``groupBy`` fixed-point round."""
    books = similarity.pq_codebooks_from_corpus(emb, n_sub, n_codes)
    d = len(books[0][0])
    vecs = emb.select("vec_id", F.col("embedding").alias("__v"))
    if fraction is not None:
        vecs = _hash_gate(vecs, fraction)
    for _ in range(iters):
        lit = F.array(*[
            F.array(*[F.array(*[F.lit(float(x)) for x in cw]) for cw in book])
            for book in books
        ])
        codes = F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda m: F.array_min(F.transform(
                F.sequence(F.lit(0), F.lit(n_codes - 1)),
                lambda k: F.struct(
                    similarity._l2sq(
                        F.slice("__v", m * d + 1, F.lit(d)),
                        F.element_at(F.element_at(lit, m + 1), k + 1),
                    ).alias("d"),
                    k.alias("k"),
                ),
            ))["k"],
        )
        dims = vecs.select("__v", codes.alias("__codes")).select(
            "__codes", F.posexplode("__v").alias("__dim", "__val")
        ).select(
            (F.col("__dim") / d).cast("int").alias("__m"),
            F.element_at(
                "__codes", (F.col("__dim") / d).cast("int") + 1
            ).alias("__k"),
            (F.col("__dim") % d).alias("__j"),
            F.floor(F.col("__val").cast("double") * F.lit(_FP)).alias("__q"),
        )
        means = dims.groupBy("__m", "__k", "__j").agg(
            F.sum("__q").alias("s"), F.count("*").alias("n")
        ).select(
            "__m", "__k", "__j",
            (F.col("s").cast("double") / F.col("n") / F.lit(float(_FP))).alias("mean"),
        ).collect()
        new = [[list(cw) for cw in book] for book in books]
        for r in means:
            new[r["__m"]][r["__k"]][r["__j"]] = r["mean"]
        books = new
    return books


def _catalyst_kmeans(emb, iters, modulus, sample_modulus=None, fraction=None):
    """Reference k-means: ``ivf_assign`` then the ``posexplode`` +
    ``groupBy`` fixed-point round, as ``{pivot_id: centroid}``."""
    cents = similarity.ivf_pivots(emb, modulus=modulus)
    vecs = emb.select("vec_id", F.col("embedding").alias("__v"))
    if fraction is not None:
        vecs = _hash_gate(vecs, fraction)
    if sample_modulus is not None:
        vecs = vecs.filter(F.col("vec_id") % sample_modulus == 0)
    for _ in range(iters):
        assigned = similarity.ivf_assign(
            vecs, cents, 1, "vec_id", "__v", keep_cols=("__v",)
        )
        sums = assigned.select(
            "pivot_id", F.posexplode("__v").alias("dim", "val")
        ).groupBy("pivot_id", "dim").agg(
            F.sum(F.floor(F.col("val").cast("double") * F.lit(_FP))).alias("s"),
            F.count("*").alias("n"),
        )
        cents = sums.withColumn(
            "mean", F.col("s").cast("double") / F.col("n") / F.lit(float(_FP))
        ).groupBy("pivot_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                lambda x: x["mean"],
            ).alias("pivot_vec")
        ).localCheckpoint()
    return {r["pivot_id"]: tuple(r["pivot_vec"]) for r in cents.collect()}


def _centroids(pivots):
    return {r["pivot_id"]: tuple(r["pivot_vec"]) for r in pivots.collect()}


@pytest.mark.parametrize("fraction", [None, 0.5])
def test_pq_training_matches_the_catalyst_round(spark, fraction):
    emb = spark.read.parquet(EMB)
    got = similarity.pq_codebooks_kmeans(
        emb, 8, 16, iters=2, sample_fraction=fraction
    )
    assert got == _catalyst_pq_books(emb, 8, 16, 2, fraction)


@pytest.mark.parametrize(
    "gate", [{"sample_modulus": 4}, {"sample_fraction": 0.25}], ids=str
)
def test_kmeans_training_matches_the_catalyst_round(spark, gate):
    emb = spark.read.parquet(EMB)
    got = _centroids(similarity.kmeans_pivots(emb, iters=2, modulus=37, **gate))
    want = _catalyst_kmeans(
        emb, 2, 37, gate.get("sample_modulus"), gate.get("sample_fraction")
    )
    assert got == want


def _toy_corpus(spark, rows):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "vec_id long, embedding array<float>"
    )


def _toy_vectors(n=160, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, dim)).astype(np.float32).tolist()


def test_quantizer_training_ties_and_empty_clusters(spark):
    # Duplicate seeds tie on every distance: the lowest code id / pivot id
    # wins, so the duplicate's cluster stays empty.  PQ keeps an empty
    # code's previous codeword (codebooks stay n_codes wide); k-means
    # drops an empty centroid.
    rows = _toy_vectors()
    rows[31] = rows[0]   # PQ seeds are ids 0, 31, 62, 93 (modulus 31)
    rows[37] = rows[0]   # k-means seeds are ids 0, 37, 74, 111, 148
    emb = _toy_corpus(spark, rows)
    seeds = similarity.pq_codebooks_from_corpus(emb, 2, 4)
    books = similarity.pq_codebooks_kmeans(emb, 2, 4, iters=1)
    assert books == _catalyst_pq_books(emb, 2, 4, 1)
    assert [b[1] for b in books] == [b[1] for b in seeds]
    assert all(b[0] != s[0] for b, s in zip(books, seeds))

    got = _centroids(similarity.kmeans_pivots(emb, iters=2, modulus=37))
    assert got == _catalyst_kmeans(emb, 2, 37)
    assert sorted(got) == [0, 74, 111, 148]


def test_kmeans_nan_distances_rank_greatest(spark):
    # A NaN in pivot 0 makes every distance to it NaN: no vector may pick
    # it over a real distance (ivf_assign's order), while a vector whose
    # distances are all NaN goes to the lowest pivot id.  Fixed-point sums
    # take floor(NaN) as 0, like Spark's double -> BIGINT.
    rows = _toy_vectors()
    rows[0][3] = float("nan")
    rows[5][1] = float("nan")
    emb = _toy_corpus(spark, rows)
    got = _centroids(similarity.kmeans_pivots(emb, iters=1, modulus=37))
    want = _catalyst_kmeans(emb, 1, 37)
    assert repr(sorted(got.items())) == repr(sorted(want.items()))


@pytest.mark.parametrize("bad", ["null", "ragged", "null element"])
def test_quantizers_reject_null_and_ragged_vectors(spark, tmp_path, bad):
    rows = _toy_vectors()
    clean = _toy_corpus(spark, rows)
    rows[7] = {"null": None, "ragged": rows[7][:5],
               "null element": rows[7][:2] + [None] + rows[7][3:]}[bad]
    emb = _toy_corpus(spark, rows)
    with pytest.raises(ValueError, match="'embedding'"):
        similarity.kmeans_pivots(emb, iters=1, modulus=37).collect()
    with pytest.raises(ValueError, match="'embedding'"):
        similarity.pq_codebooks_kmeans(emb, 2, 4, iters=1)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(clean, path, modulus=37, n_subspaces=2, n_codes=4)
    with pytest.raises(ValueError, match="'embedding'"):
        similarity.append_to_ivfpq_index(emb.filter("vec_id = 7"), path)


def test_sq8_topk_recall_floor_and_code_range(spark):
    """SQ8's per-dimension error is bounded by step/2, so on the isotropic
    corpus recall@10 should be near-exact — far above the coarse-quantizer
    lanes (measured 1.00 at sf0.001 with a 40-row shortlist).  Codes must
    live in [0, 255] and constant dimensions encode 0."""
    recall = _recall_at_10(
        spark, lambda emb, q: similarity.sq8_topk(emb, q, k=10, shortlist=40)
    )
    assert recall >= 0.9, recall
    emb = spark.read.parquet(EMB)
    mins, steps = similarity.sq8_stats(emb)
    coded = similarity.sq8_encode(emb, mins, steps)
    rng = coded.select(
        F.min(F.array_min("sq8_code")).alias("lo"),
        F.max(F.array_max("sq8_code")).alias("hi"),
    ).collect()[0]
    assert rng["lo"] >= 0 and rng["hi"] <= 255
    # a deliberately constant dimension encodes 0 everywhere
    one = spark.createDataFrame(
        [(1, [1.5, 2.0]), (2, [1.5, 3.0])], "vec_id long, embedding array<float>"
    )
    m, s = similarity.sq8_stats(one)
    assert s[0] == 0.0
    codes = {
        r["vec_id"]: r["sq8_code"]
        for r in similarity.sq8_encode(one, m, s).collect()
    }
    assert codes[1][0] == 0 and codes[2][0] == 0
    assert codes[1][1] == 0 and codes[2][1] == 255


def test_matryoshka_full_prefix_is_exact_and_short_prefix_recalls(spark):
    """Structural exactness gate: prefix_dims == dim must reproduce the
    exact top-k bit-for-bit (the shortlist pass IS the exact ranking
    then); the 16-dim prefix on the isotropic corpus is data-bounded
    (no MRL structure to exploit — measured 0.40 at sf0.001, ≈ the
    16/64 signal fraction amplified by the 4k shortlist) and must clear
    a margined floor."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    q = _emb_queries(emb)
    dim = len(emb.select("embedding").first()[0])
    exact = sorted(
        tuple(r) for r in similarity.cosine_topk(emb, q, k=10).collect()
    )
    full_pre = sorted(
        tuple(r)
        for r in similarity.matryoshka_topk(
            emb, q, k=10, prefix_dims=dim, shortlist=10
        ).collect()
    )
    assert full_pre == exact
    recall = _recall_at_10(
        spark,
        lambda e, qq: similarity.matryoshka_topk(
            e, qq, k=10, prefix_dims=16, shortlist=40
        ),
    )
    assert recall >= 0.3, recall  # measured 0.40; isotropic worst case


# ---------------------------------------------------------------------------
# IVF-SQ8 composed lane + ANN-prefix matryoshka (round 11)
# ---------------------------------------------------------------------------

def test_ivfsq8_full_probe_equals_flat_sq8(spark):
    """Probing EVERY inverted list must reproduce the flat SQ8 lane
    bit-for-bit (shortlists, cosines, ranks): a geometry-independent gate
    on coarse assignment, candidate generation, and the shared SQ8
    scoring — the composition may only ever PRUNE, never rescore."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    npivots = similarity.ivf_pivots(emb).count()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    full = similarity.ivfsq8_topk(
        emb, queries, k=10, nprobe=npivots, shortlist=40
    ).collect()
    flat = similarity.sq8_topk(emb, queries, k=10, shortlist=40).collect()
    assert sorted(map(key, full)) == sorted(map(key, flat))
    assert full


def test_ivfsq8_recall_floor(spark):
    """nprobe=12 is the REGISTERED emb_ivfsq8_topk setting — recall@10 vs
    the exact top-k must clear the same production floor as the IVF-flat
    lane (measured 0.95 at sf0.001: SQ8 reconstruction error costs ~0.02
    on top of the coarse quantizer's pruning loss)."""
    recall = _recall_at_10(
        spark,
        lambda emb, q: similarity.ivfsq8_topk(
            emb, q, k=10, nprobe=12, shortlist=40
        ),
    )
    assert recall >= 0.80, recall


def test_ivfsq8_index_roundtrip_and_pruning(spark, tmp_path):
    """The materialized artifact must (a) reproduce the in-memory
    operator bit-for-bit under the manifest's frozen stats + pivots and
    (b) plan a probe restricted to exactly the probed list partitions
    (``PartitionFilters: [pivot_id IN (...)]``) — partition pruning is
    the point of hive-partitioning the codes by inverted list."""
    import re

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_ivfsq8_index(emb, str(tmp_path / "ivfsq8"))
    via_index = similarity.ivfsq8_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    direct = similarity.ivfsq8_topk(
        emb, queries, k=10, nprobe=12, shortlist=40
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index

    one_query = queries.limit(1)
    plan = _probe_plans(
        spark,
        lambda: similarity.ivfsq8_topk_against_index(one_query, idx, k=10, nprobe=2),
    )
    m = re.search(r"PartitionFilters: \[pivot_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 2, m.group(1)
    assert similarity.ivf_pivots(emb).count() > 2  # pruning skipped lists


def test_ivfsq8_index_append_frozen_stats_and_tombstone(spark, tmp_path):
    """Append assigns against the STORED pivots and encodes under the
    STORED mins/steps (no retrain — the standing codes stay valid), and a
    tombstoned id stops ranking immediately."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        index_maintenance,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.build_ivfsq8_index(old, str(tmp_path / "ivfsq8"))
    meta_before = similarity.read_manifest(idx, "ivfsq8")[0]
    similarity.append_to_ivfsq8_index(new, idx)
    assert similarity.read_manifest(idx, "ivfsq8")[0] == meta_before  # frozen
    queries = _emb_queries(emb)
    got = similarity.ivfsq8_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    returned = {r["vec_id"] for r in got}
    assert any(v % 2 == 1 for v in returned)  # appended rows rank
    victim = sorted(returned)[0]
    index_maintenance.delete_from_index(
        spark.createDataFrame([(victim,)], "vec_id long"), idx
    )
    after = similarity.ivfsq8_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    assert victim not in {r["vec_id"] for r in after}
    # compaction folds the tombstone physically, keeps the hive layout,
    # and is invisible to query results (the ivfsq8 family branch)
    index_maintenance.compact_index(spark, idx)
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    compacted = similarity.ivfsq8_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    assert sorted(map(key, compacted)) == sorted(map(key, after))


def test_matryoshka_ivf_full_probe_equals_flat(spark):
    """Probing EVERY prefix list must reproduce the flat exact-prefix
    matryoshka lane bit-for-bit — the ANN stage may only prune the
    prefix scan, never change prefix scores or the full-dim re-rank."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    npivots = similarity.ivf_pivots(emb).count()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    full = similarity.matryoshka_ivf_topk(
        emb, queries, k=10, prefix_dims=16, nprobe=npivots, shortlist=40
    ).collect()
    flat = similarity.matryoshka_topk(
        emb, queries, k=10, prefix_dims=16, shortlist=40
    ).collect()
    assert sorted(map(key, full)) == sorted(map(key, flat))
    assert full


def test_matryoshka_ivf_recall_vs_flat_and_monotonic(spark):
    """Recall of the ANN-prefix lane is measured against the flat
    exact-prefix lane (the judge's reference point): the IVF stage's
    pruning loss on top of the prefix truncation must stay small at the
    registered nprobe=12 (measured 0.98 at sf0.001), and more probes can
    only help."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    flat = {
        (r["query_id"], r["vec_id"])
        for r in similarity.matryoshka_topk(
            emb, queries, k=10, prefix_dims=16, shortlist=40
        ).collect()
    }

    def recall(np_):
        ann = {
            (r["query_id"], r["vec_id"])
            for r in similarity.matryoshka_ivf_topk(
                emb, queries, k=10, prefix_dims=16, nprobe=np_, shortlist=40
            ).collect()
        }
        return len(flat & ann) / len(flat)

    r4, r12 = recall(4), recall(12)
    assert r12 >= 0.85, r12   # measured 0.98
    assert r4 <= r12, (r4, r12)


def test_matryoshka_ivf_plan_prunes_the_corpus_cross(spark):
    """The point of the ANN-prefix stage: the flat lane scores every
    corpus prefix against every query; the pruned lane's only cross join
    is the IVF assignment of the corpus against the TINY pivot set
    (every-37th filter — the inherent N×P assignment cost of any IVF),
    and its scoring kernel reads only rows of probed lists.  Read from
    every plan the probe runs (it scores before it returns): the queries
    (the every-25th filter) cross nothing, every broadcast is the pivot
    array, and the scoring scan is filtered ``pivot_id IN (...)``."""
    import re

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    plans = _probe_plans(spark, lambda: similarity.matryoshka_ivf_topk(
        emb, queries, k=10, prefix_dims=16, nprobe=12, shortlist=40
    ))
    # no queries × corpus cross: the plans reading the queries join nothing
    reads_queries = [
        p for p in plans.split("== Physical Plan ==") if "% 25)" in p
    ]
    assert reads_queries and not any("Join" in p for p in reads_queries), plans
    assert "CartesianProduct" not in plans, plans
    # the corpus crosses only the pivot set (the % 37 seed filter)
    assert "BroadcastNestedLoopJoin" in plans, plans
    broadcasts = re.findall(
        r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[(\w+)#", plans
    )
    assert broadcasts and set(broadcasts) == {"__pivarr"}, plans
    assert "% 37)" in plans, plans
    # candidate generation reads the probed lists only
    assert re.search(r"pivot_id#\d+L? (IN \(|INSET )", plans), plans
    flat = _probe_plans(spark, lambda: similarity.matryoshka_topk(
        emb, queries, k=10, prefix_dims=16, shortlist=40
    ))
    # the contrast: the flat lane scores the whole corpus, with NO pivot
    # set and no list filter
    assert "MapInArrow" in flat, flat
    assert "% 37)" not in flat
    assert "pivot_id" not in flat, flat


def test_sq8_stats_empty_corpus_raises_clearly(spark):
    """ADVICE r10: an empty corpus must fail with a message naming the
    problem, not an opaque max()-of-empty-sequence ValueError."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.sq8_stats(empty)


def test_matryoshka_index_roundtrip_pruning_and_lifecycle(spark, tmp_path):
    """The materialized prefix-IVF artifact must (a) reproduce the
    in-memory ANN-prefix lane bit-for-bit under the manifest's frozen
    prefix_dims + pivots, (b) plan probes restricted to the probed list
    partitions, and (c) survive frozen-manifest append, tombstone, and
    hive-layout-preserving compaction."""
    import re

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        index_maintenance,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_matryoshka_index(emb, str(tmp_path / "mat"))
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    via_index = similarity.matryoshka_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    direct = similarity.matryoshka_ivf_topk(
        emb, queries, k=10, prefix_dims=16, nprobe=12, shortlist=40
    ).collect()
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index

    plan = _probe_plans(
        spark,
        lambda: similarity.matryoshka_topk_against_index(
            queries.limit(1), idx, k=10, nprobe=2
        ),
    )
    m = re.search(r"PartitionFilters: \[pivot_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 2, m.group(1)

    # lifecycle: split-build + frozen append == whole-build results
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx2 = similarity.build_matryoshka_index(old, str(tmp_path / "mat2"))
    meta_before = similarity.read_manifest(idx2, "matryoshka")[0]
    similarity.append_to_matryoshka_index(new, idx2)
    assert similarity.read_manifest(idx2, "matryoshka")[0] == meta_before  # frozen
    got = similarity.matryoshka_topk_against_index(
        queries, idx2, k=10, nprobe=12, shortlist=40
    ).collect()
    returned = {r["vec_id"] for r in got}
    assert any(v % 2 == 1 for v in returned)  # appended rows rank
    victim = sorted(returned)[0]
    index_maintenance.delete_from_index(
        spark.createDataFrame([(victim,)], "vec_id long"), idx2
    )
    after = similarity.matryoshka_topk_against_index(
        queries, idx2, k=10, nprobe=12, shortlist=40
    ).collect()
    assert victim not in {r["vec_id"] for r in after}
    index_maintenance.compact_index(spark, idx2)  # matryoshka family branch
    compacted = similarity.matryoshka_topk_against_index(
        queries, idx2, k=10, nprobe=12, shortlist=40
    ).collect()
    assert sorted(map(key, compacted)) == sorted(map(key, after))


# ---------------------------------------------------------------------------
# IVF-BQ: binary quantization, the last rung of the compression ladder
# ---------------------------------------------------------------------------

def test_bq_encode_bits_match_threshold_comparisons(spark):
    """Every packed bit must equal its per-dimension strict comparison —
    a numpy replay of the word layout (bit i of word w ⇔ dimension
    32w+i), the ground-truth gate under the integer-exactness claim."""
    emb = spark.read.parquet(EMB).limit(50)
    thr = similarity.bq_thresholds(emb)
    rows = similarity.bq_encode(emb, thr, out="code").select(
        "vec_id", "embedding", "code"
    ).collect()
    assert rows
    for r in rows:
        vec, code = r["embedding"], r["code"]
        assert len(code) == (len(thr) + 31) // 32
        for d in range(len(thr)):
            want = 1 if float(vec[d]) > thr[d] else 0
            got = (code[d // 32] >> (d % 32)) & 1
            assert got == want, (r["vec_id"], d)
        for w in code:
            assert 0 <= w < (1 << 32)  # 32-bit words: no sign hazards


def test_bq_hamming_matches_numpy_popcount(spark):
    """The packed-word Hamming fold must equal the unpacked bit-vector
    distance (numpy XOR + popcount over the same thresholds)."""
    emb = spark.read.parquet(EMB).limit(30)
    thr = np.array(similarity.bq_thresholds(emb))
    coded = similarity.bq_encode(emb, list(thr), out="code")
    a = coded.select(
        F.col("vec_id").alias("id_a"),
        F.col("code").alias("code_a"),
        F.col("embedding").alias("vec_a"),
    )
    b = coded.select(
        F.col("vec_id").alias("id_b"),
        F.col("code").alias("code_b"),
        F.col("embedding").alias("vec_b"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hd", similarity.bq_hamming("code_a", "code_b"))
        .collect()
    )
    assert pairs
    for r in pairs:
        bits_a = np.asarray(r["vec_a"], dtype=np.float64) > thr
        bits_b = np.asarray(r["vec_b"], dtype=np.float64) > thr
        assert r["hd"] == int(np.sum(bits_a != bits_b)), (r["id_a"], r["id_b"])


def test_ivfbq_full_probe_equals_flat_bq(spark):
    """Probing EVERY inverted list must reproduce the flat BQ lane
    bit-for-bit (shortlists, cosines, ranks): a geometry-independent
    gate on coarse assignment, candidate generation, and the shared
    Hamming scoring — the composition may only ever PRUNE."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    npivots = similarity.ivf_pivots(emb).count()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    full = similarity.ivfbq_topk(
        emb, queries, k=10, nprobe=npivots, shortlist=40
    ).collect()
    flat = similarity.bq_topk(emb, queries, k=10, shortlist=40).collect()
    assert sorted(map(key, full)) == sorted(map(key, flat))
    assert full


def test_ivfbq_recall_floor(spark):
    """nprobe=12 is the REGISTERED emb_ivfbq_topk setting — measured
    recall@10 is 0.54 at sf0.001 (64 Hamming bits on isotropic
    synthetic vectors is the worst case for sign quantization; real
    embedding geometry with anisotropic mass does far better), and the
    IVF pruning adds NO loss on top of the flat lane (0.54 both).  The
    margined floor fails on any real regression in thresholds, packing,
    or probe pruning."""
    recall = _recall_at_10(
        spark,
        lambda emb, q: similarity.ivfbq_topk(
            emb, q, k=10, nprobe=12, shortlist=40
        ),
    )
    assert recall >= 0.40, recall


def test_ivfbq_index_roundtrip_and_pruning(spark, tmp_path):
    """The materialized artifact must (a) reproduce the in-memory
    operator bit-for-bit under the manifest's frozen thresholds + pivots
    and (b) plan a probe restricted to exactly the probed list
    partitions (``PartitionFilters: [pivot_id IN (...)]``)."""
    import re

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_ivfbq_index(emb, str(tmp_path / "ivfbq"))
    via_index = similarity.ivfbq_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    direct = similarity.ivfbq_topk(
        emb, queries, k=10, nprobe=12, shortlist=40
    ).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    assert sorted(map(key, via_index)) == sorted(map(key, direct))
    assert via_index

    one_query = queries.limit(1)
    plan = _probe_plans(
        spark,
        lambda: similarity.ivfbq_topk_against_index(one_query, idx, k=10, nprobe=2),
    )
    m = re.search(r"PartitionFilters: \[pivot_id#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 2, m.group(1)
    assert similarity.ivf_pivots(emb).count() > 2  # pruning skipped lists


def test_ivfbq_index_append_frozen_thresholds_and_tombstone(spark, tmp_path):
    """Append assigns against the STORED pivots and binarizes under the
    STORED thresholds (no retrain — standing codes stay valid), a
    tombstoned id stops ranking immediately, and compaction folds the
    tombstone physically without changing live results (the ivfbq
    family branch of ``index_maintenance``)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        index_maintenance,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.build_ivfbq_index(old, str(tmp_path / "ivfbq"))
    meta_before = similarity.read_manifest(idx, "ivfbq")[0]
    similarity.append_to_ivfbq_index(new, idx)
    assert similarity.read_manifest(idx, "ivfbq")[0] == meta_before  # frozen
    queries = _emb_queries(emb)
    got = similarity.ivfbq_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    returned = {r["vec_id"] for r in got}
    assert any(v % 2 == 1 for v in returned)  # appended rows rank
    victim = sorted(returned)[0]
    index_maintenance.delete_from_index(
        spark.createDataFrame([(victim,)], "vec_id long"), idx
    )
    after = similarity.ivfbq_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    assert victim not in {r["vec_id"] for r in after}
    index_maintenance.compact_index(spark, idx)
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    compacted = similarity.ivfbq_topk_against_index(
        queries, idx, k=10, nprobe=12, shortlist=40
    ).collect()
    assert sorted(map(key, compacted)) == sorted(map(key, after))


# ---------------------------------------------------------------------------
# MMR diversified retrieval (round 11)
# ---------------------------------------------------------------------------

def test_mmr_greedy_true_max_with_negative_sims():
    # Two near-equal-relevance candidates; the higher-rel one is MORE
    # similar (less negative) to the first pick.  A max seeded at 0.0
    # would clamp both penalties to zero and pick b; the true max must
    # pick c: 0.5*0.90 - 0.5*(-0.10) = 0.50 < 0.5*0.88 - 0.5*(-0.30) = 0.59.
    cands = [{"vid": 1, "rel": 1.0}, {"vid": 2, "rel": 0.90}, {"vid": 3, "rel": 0.88}]
    sims = [
        {"__a": 1, "__b": 2, "__sim": -0.10},
        {"__a": 1, "__b": 3, "__sim": -0.30},
        {"__a": 2, "__b": 3, "__sim": 0.0},
    ]
    picks = similarity.mmr_greedy(cands, sims, k=2, lam=0.5)
    assert [(v, r) for v, _, r in picks] == [(1, 1), (3, 2)]


def test_mmr_greedy_lam1_is_pure_relevance():
    cands = [{"vid": v, "rel": rel} for v, rel in [(5, 0.3), (1, 0.9), (2, 0.7)]]
    sims = [{"__a": 1, "__b": 2, "__sim": 0.99},
            {"__a": 1, "__b": 5, "__sim": 0.99},
            {"__a": 2, "__b": 5, "__sim": 0.99}]
    picks = similarity.mmr_greedy(cands, sims, k=3, lam=1.0)
    assert [v for v, _, _ in picks] == [1, 2, 5]


def test_mmr_topk_skips_near_duplicate(spark):
    # vec 2 duplicates vec 1 (most relevant); pure relevance ranks it
    # second, MMR at lam=0.5 must defer it behind the orthogonal vec 3.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0]),        # top hit
        (2, [0.99, 0.141, 0.0]),       # near-duplicate of 1
        (3, [0.5, 0.0, 0.86]),         # distinct direction
        (4, [0.6, 0.1, 0.79]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.mmr_topk(emb, q, k=3, pool=4, lam=0.5)
    picks = [r["vec_id"] for r in sorted(got.collect(), key=lambda r: r["rank"])]
    assert picks[0] == 1
    assert picks[1] != 2, "MMR must not pick the near-duplicate second"
    rel_only = similarity.cosine_topk(emb, q, k=2)
    rel_picks = [r["vec_id"] for r in sorted(rel_only.collect(), key=lambda r: r["rank"])]
    assert rel_picks == [1, 2], "sanity: pure relevance DOES rank the dup second"


def test_mmr_topk_matches_standalone_greedy_replay(spark):
    # End-to-end replay: pool + pairwise sims recomputed independently
    # (numpy float64), greedy replayed via the pure function — ordering
    # must agree with the distributed pandas-UDF path.
    emb = spark.read.parquet(EMB)
    q = emb.filter("vec_id % 25 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.mmr_topk(emb, q, k=5, pool=12, lam=0.5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    for qid, picks in by_q.items():
        qv = vecs[qid]
        pool = sorted(
            ((cos(qv, v), vid) for vid, v in vecs.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:12]
        cands = [{"vid": vid, "rel": rel} for rel, vid in pool]
        sims = [
            {"__a": a, "__b": b, "__sim": cos(vecs[a], vecs[b])}
            for _, a in pool for _, b in pool if a < b
        ]
        ref = similarity.mmr_greedy(cands, sims, k=5, lam=0.5)
        # numpy sums re-associate, so scores can drift an ulp — compare
        # the selected ID SEQUENCE, which is stable at this separation
        assert [vid for vid, _, _ in ref] == [v for _, v in sorted(picks)], qid


def test_mmr_topk_shortlist_contract_equals_internal_pool(spark):
    # Feeding cosine_topk's own output through the shortlist parameter
    # must reproduce the internal-pool path exactly — the contract the
    # IVF-pooled lane relies on.
    emb = spark.read.parquet(EMB)
    q = emb.filter("vec_id % 25 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sl = similarity.cosine_topk(emb, q, k=12).drop("rank")
    a = similarity.mmr_topk(emb, q, k=5, pool=12, lam=0.5)
    b = similarity.mmr_topk(emb, q, k=5, pool=12, lam=0.5, shortlist=sl)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_semantic_decontamination_flags_planted_leak(spark):
    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),     # exact leak of bench 100
            (2, [0.0, 0.97, 0.2]),    # near-dup of bench 101
            (3, [0.0, 0.0, 1.0]),     # orthogonal to both
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in similarity.semantic_decontamination(
            corpus, bench, threshold=0.9
        ).collect()
    }
    assert len(got) == 3, "every corpus row is audited, flagged or not"
    assert got[1]["contaminated"] and got[1]["bench_id"] == 100
    assert got[1]["max_bench_cosine"] == pytest.approx(1.0)
    assert got[2]["contaminated"] and got[2]["bench_id"] == 101
    assert not got[3]["contaminated"]


def test_semantic_decontamination_plan_shape(spark):
    # broadcast benchmark + two-phase partial top-1: no window over the
    # scored cross product, exactly one broadcast
    emb = spark.read.parquet(EMB)
    bench = emb.filter("vec_id % 25 = 0")
    corpus = emb.filter("vec_id % 25 <> 0")
    plan = (
        similarity.semantic_decontamination(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastExchange") == 1
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# quantizer-drift report (round 12)
# ---------------------------------------------------------------------------

def _drift_fixture(spark):
    """Controlled drift geometry: two base clusters (A at x=0, B at x=10,
    both on the x-axis) whose centers are the STALE pivots, plus an
    appended cluster at (5, 5) that straddles the A/B Voronoi boundary —
    its points split between the two stale lists, so a one-list probe
    from inside the cluster can only ever see half its true neighbors.
    Retrained pivots add the cluster center, healing the split."""
    rows = []
    for i in range(10):  # base A: ids 0..9
        rows.append((i, [0.5 + 0.01 * i, 0.05]))
    for i in range(10):  # base B: ids 10..19
        rows.append((10 + i, [10.0 + 0.01 * i, 0.05]))
    for i in range(10):  # appended cluster: ids 20..29, x in [4.55, 5.45]
        rows.append((20 + i, [4.55 + 0.1 * i, 5.0]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stale = spark.createDataFrame(
        [(100, [0.0, 0.0]), (101, [10.0, 0.0])],
        "pivot_id long, pivot_vec array<double>",
    )
    fresh = spark.createDataFrame(
        [(100, [0.0, 0.0]), (101, [10.0, 0.0]), (102, [5.0, 5.0])],
        "pivot_id long, pivot_vec array<double>",
    )
    queries = corpus.filter("vec_id in (22, 27)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return corpus, stale, fresh, queries


def test_drift_report_planted_drift_degrades_and_rebuild_restores(spark):
    corpus, stale, fresh, queries = _drift_fixture(spark)
    rep = similarity.ivf_drift_report(
        corpus, stale, fresh, queries, k=6, nprobe=1
    )
    rows = {(r.metric, r.key): r.value for r in rep.collect()}
    # skew: the appended cluster's mass split onto the stale lists
    # (5 straddle-points each on top of the 10 base points per list)
    assert rows[("list_size", 100)] == 15
    assert rows[("list_size", 101)] == 15
    # recall: the stale one-list probe sees at most half the cluster, so
    # it can never reach k hits; retrained pivots give the cluster its
    # own list and recall@6 is perfect — the rebuild decision signal
    for q in (22, 27):
        assert rows[("recall_hits_fresh", q)] == 6
        assert rows[("recall_hits_stale", q)] <= 4
        assert rows[("recall_hits_stale", q)] < rows[("recall_hits_fresh", q)]


def test_drift_report_no_drift_reports_parity(spark):
    """Without drift (fresh == stale pivots) the two recall rows are
    identical for every query — the report's null case."""
    corpus, stale, _fresh, queries = _drift_fixture(spark)
    rep = similarity.ivf_drift_report(
        corpus, stale, stale, queries, k=6, nprobe=1
    )
    rows = {(r.metric, r.key): r.value for r in rep.collect()}
    for q in (22, 27):
        assert rows[("recall_hits_stale", q)] == rows[("recall_hits_fresh", q)]


def test_index_drift_report_detects_append_drift_and_rebuild_heals(spark, tmp_path):
    """The artifact-level wrapper: append a shifted cluster under frozen
    pivots -> the report shows the recall gap; rebuild -> parity."""
    rows = []
    for i in range(10):  # cluster A: ids 0..9 (pivot id 0 under modulus 10)
        rows.append((i, [0.5 + 0.01 * i, 0.05]))
    for i in range(10):  # cluster B: ids 10..19 (pivot id 10)
        rows.append((10 + i, [10.0 + 0.01 * i, 0.05]))
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, idx, modulus=10)
    # cluster centered on the PIVOT VECTORS' midpoint (x = 5.25, between
    # vec 0 at x=0.5 and vec 10 at x=10.0) so it splits 5/5 across the
    # frozen lists
    appended = spark.createDataFrame(
        [(20 + i, [4.8 + 0.1 * i, 5.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    similarity.append_to_ivf_index(appended, idx)
    queries = appended.filter("vec_id in (22, 27)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rep = {
        (r.metric, r.key): r.value
        for r in similarity.index_drift_report(
            spark, idx, queries, k=6, nprobe=1
        ).collect()
    }
    # skew: the appended cluster split across the two frozen lists
    assert rep[("list_size", 0)] == 15 and rep[("list_size", 10)] == 15
    for q in (22, 27):
        assert rep[("recall_hits_stale", q)] <= 4
        assert rep[("recall_hits_fresh", q)] == 6  # what a rebuild buys
    # rebuild on the full corpus (retrained pivots now include id 20)
    full = base.unionByName(appended)
    similarity.build_ivf_index(full, idx, modulus=10)
    rep2 = {
        (r.metric, r.key): r.value
        for r in similarity.index_drift_report(
            spark, idx, queries, k=6, nprobe=1
        ).collect()
    }
    for q in (22, 27):
        assert rep2[("recall_hits_stale", q)] == rep2[("recall_hits_fresh", q)]
        assert rep2[("recall_hits_stale", q)] == 6  # healed


def test_index_drift_report_dispatches_across_families(spark, tmp_path):
    """The same drift audit serves the composed artifacts (coarse pivots
    are full-dim); matryoshka's prefix-space pivots are refused loudly."""
    emb = spark.read.parquet(EMB).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    q = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivfsq8")
    similarity.build_ivfsq8_index(emb, idx, modulus=37)
    rep = similarity.index_drift_report(spark, idx, q, k=5, nprobe=3)
    rows = {(r.metric, r.key): r.value for r in rep.collect()}
    sizes = [v for (m, _), v in rows.items() if m == "list_size"]
    assert sum(sizes) == emb.count()  # every corpus row in exactly one list
    # freshly-built index: stored pivots == retrained pivots -> parity
    for (m, key), v in rows.items():
        if m == "recall_hits_stale":
            assert rows[("recall_hits_fresh", key)] == v
    mat = str(tmp_path / "mat")
    similarity.build_matryoshka_index(emb, mat, prefix_dims=16, modulus=37)
    with pytest.raises(ValueError, match="prefix-space"):
        similarity.index_drift_report(spark, mat, q)


def test_matryoshka_drift_report_runs_in_prefix_space(spark, tmp_path):
    emb = spark.read.parquet(EMB).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    idx = str(tmp_path / "mat")
    similarity.build_matryoshka_index(emb, idx, prefix_dims=16, modulus=37)
    q = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rep = similarity.matryoshka_drift_report(spark, idx, q, k=5, nprobe=3)
    rows = {(r.metric, r.key): r.value for r in rep.collect()}
    sizes = [v for (m, _), v in rows.items() if m == "list_size"]
    assert sum(sizes) == emb.count()
    # freshly built: stored prefix pivots == retrained -> parity
    for (m, key), v in rows.items():
        if m == "recall_hits_stale":
            assert rows[("recall_hits_fresh", key)] == v
