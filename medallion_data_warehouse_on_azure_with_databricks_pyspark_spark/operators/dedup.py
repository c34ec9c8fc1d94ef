"""Deduplication operators for LLM data pipelines (extension surface).

Four families, ordered by cost, all designed around one scaling shape —
**never compare all pairs**; generate candidates via keys/buckets, verify
only candidates:

* exact: hash-groupBy on a normalized content fingerprint — one shuffle.
* n-gram Jaccard: shingle inverted index → candidate pairs → exact verify.
* MinHash + LSH: signature bands → bucket join → candidate pairs → verify.
* SimHash: 64-bit fingerprints, Hamming-ball candidate generation via
  band keys.

Embedding-cosine near-dup lives in ``similarity.py`` (same bucketing idea
over random hyperplanes).

All hash functions are deterministic (``xxhash64`` with fixed seeds derived
from index), so results are reproducible run-to-run — a requirement for
auditable training-data pipelines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import index_maintenance
from .text import content_fingerprint, simhash64, tokens

# Mersenne prime 2^31-1 for the minhash universal-hash family: operands stay
# below 2^31, so a*h+b < 2^62 — no long overflow under ANSI mode.
_MERSENNE31 = (1 << 31) - 1


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact (normalized) dedup: keep the min-id row per content fingerprint.

    One hash shuffle on the fingerprint; no sort, no window over the whole
    table — ``min(id)`` aggregation + semi-join back keeps the full rows.
    """
    fp = content_fingerprint(df, text_col)
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")


# ---------------------------------------------------------------------------
# Word-shingle helpers
# ---------------------------------------------------------------------------

def shingles_of_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an already-materialized token
    array column (array<string>)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    # Guard: shorter-than-n docs produce one (short) shingle — keep it.
    return F.array_distinct(grams)


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "sh"
) -> DataFrame:
    """Attach the shingle array via a two-step projection: tokenization is
    materialized in its own Project so the split runs **once per row** —
    inlined into the shingle transform it would re-evaluate per shingle
    index (~100× the work; Catalyst keeps the split separate because it is
    non-cheap and multiply-referenced)."""
    return (
        df.withColumn("__toks", tokens(text_col))
        .withColumn(out, shingles_of_tokens(F.col("__toks"), n))
        .drop("__toks")
    )


def parallelize_narrow_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a too-coarse scan up to the cluster's core
    count.

    Small/single-file parquet inputs arrive as one partition (a file only
    splits at row-group boundaries), which would pin the CPU-heavy text
    pipelines to a single core.  The shuffle moves only the narrow
    projection (id + text) and is trivially repaid; inputs that are already
    split at least as wide as the default parallelism pass through
    untouched, so a properly laid-out 100 TB table pays nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh) projection used by the pair pipelines."""
    narrow = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col)))
    return with_shingles(narrow, text_col, n, out="sh").select(id_col, "sh")


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, index-accelerated)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Plan: explode distinct shingles → self-join the inverted index on the
    shingle (the only shuffle that matters) → per-pair intersection counts →
    Jaccard from set sizes.  Returns ``(id_a, id_b, jaccard)`` with
    ``id_a < id_b``, filtered to ``jaccard >= threshold``.

    ``max_shingle_freq`` drops ultra-common shingles from the index (a
    stopword-shingle appearing in 10⁶ docs would create 10¹² candidate
    rows); at 100 TB always set it — near-dup pairs share *rare* shingles
    too, so recall loss is negligible.
    """
    sh = shingle_frame(df, id_col, text_col, n)
    sizes = sh.select(id_col, F.size("sh").alias("n_sh"))
    inv = sh.select(id_col, F.explode("sh").alias("s"))
    # Keep only *shared* shingles: a shingle in exactly one doc can never
    # produce a candidate pair, and on natural text most shingles are
    # singletons — this typically shrinks the self-joined index by ~100×
    # with zero recall loss.  ``max_shingle_freq`` additionally drops
    # ultra-common shingles (lossy, capped candidate fan-out).
    freq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("__f"))
    cond = F.col("__f") >= 2
    if max_shingle_freq is not None:
        cond = cond & (F.col("__f") <= max_shingle_freq)
    inv = inv.join(freq.filter(cond).select("s"), "s", "left_semi")
    a = inv.alias("a")
    b = inv.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _signature_udf(num_hashes: int, seed: int):
    """Arrow-batched signature kernel: array<long> base hashes → array<long>
    MinHash signature.

    The affine family ``h_i(x) = (a_i * x + b_i) mod (2^31-1)`` evaluates as
    one vectorized ``num_hashes × n_shingles`` numpy broadcast per doc —
    ~100× the throughput of the equivalent interpreted higher-order Catalyst
    expression (which re-evaluates the inner lambda per (i, shingle) pair).
    Coefficients come from a seeded generator, so signatures are
    reproducible across runs and clusters.  Operands stay below 2^31, so
    products fit int64 exactly.
    """
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE31, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE31, size=num_hashes, dtype=np.int64)

    @pandas_udf("array<long>")
    def sig(base: pd.Series) -> pd.Series:
        out = []
        for h in base:
            hv = np.asarray(h, dtype=np.int64)
            m = (a[:, None] * hv[None, :] + b[:, None]) % _MERSENNE31
            out.append(m.min(axis=1, initial=_MERSENNE31))
        return pd.Series(out)

    return sig


def with_minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "sh",
    out: str = "sig",
    num_hashes: int = 128,
    seed: int = 42,
) -> DataFrame:
    """Attach a MinHash signature column.

    Shingle → 31-bit base hashes stay JVM-side (``xxhash64`` in one array
    transform); the ``num_hashes``-way min runs in the vectorized Arrow
    kernel above.  No shuffle; one pass over the shingle arrays.
    """
    base = F.transform(
        F.col(shingles_col), lambda x: F.pmod(F.xxhash64(x), F.lit(_MERSENNE31))
    )
    return df.withColumn(out, _signature_udf(num_hashes, seed)(base))


def banded_frame(
    sh: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
    out_id: str | None = None,
) -> DataFrame:
    """LSH band index ``(id, band, bucket)`` from a shingle frame.

    One row per (doc, band); ``bucket`` is the xxhash64 of that band's
    signature slice.  This is THE reusable dedup artifact: at 100 TB it is
    written once per corpus (``build_minhash_index``) and every self-join,
    cross-corpus join, or incremental-shard join reads it instead of
    re-hashing text.
    """
    out_id = out_id or id_col
    rows_per_band = num_hashes // bands
    sig = with_minhash_signature(
        sh, id_col, "sh", out="sig", num_hashes=num_hashes, seed=seed
    ).select(id_col, "sig")
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sig.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bucket")


def _lsh_candidates_from_shingles(
    sh: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
    max_band_freq: int | None = None,
) -> DataFrame:
    banded = banded_frame(sh, id_col, num_hashes, bands, seed)
    if max_band_freq is not None:
        # Hot-bucket cap: a (band, bucket) shared by f docs contributes
        # f(f-1)/2 candidate rows — a boilerplate cluster of 10⁶ docs
        # would emit ~5·10¹¹ pairs from ONE bucket.  Dropping buckets
        # hotter than the cap bounds the fan-out; near-dup pairs collide
        # in many independent bands, so pair recall loss needs ALL of a
        # pair's buckets hot — negligible outside degenerate clusters
        # (same contract as lsh_multitable_topk.max_bucket_freq).
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") > max_band_freq)
            .select("band", "bucket")
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "bucket"], "left_anti"
        )
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    max_band_freq: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection with **exact verification**: candidates
    from LSH buckets, then true Jaccard computed only for candidates (join
    back to shingle sets).  Output = verified ``(id_a, id_b, jaccard)``.

    This is the 100 TB-shaped plan: O(docs × bands) index rows instead of
    O(docs²) comparisons, with verification work proportional to the
    candidate count.  The shingle table is computed once and persisted —
    the signature pass and both verification joins read it.

    ``max_band_freq`` drops LSH buckets shared by more than that many
    docs before the self-join (a boilerplate cluster's bucket emits
    O(f²) candidate rows); at 100 TB always set it — the registered
    workload runs with 10⁴.
    """
    sh = shingle_frame(df, id_col, text_col, n).persist()
    cand = _lsh_candidates_from_shingles(
        sh, id_col, num_hashes, bands, seed, max_band_freq=max_band_freq
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    persist: bool = True,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup pairs: every ``left`` document
    that near-duplicates any ``right`` document — the incremental-crawl
    case (dedup a new shard against the standing corpus) and the
    cross-source case (dedup CommonCrawl against books), where the
    self-join operator cannot be used because the two sides are different
    tables.

    Same index-then-verify shape as :func:`minhash_dedup_pairs`, with the
    same seeded hash family on BOTH sides (signatures are only comparable
    under identical coefficients).  Each side's shingle frame is computed
    **once** and persisted — the band index and the exact-Jaccard verify
    both read it (mirrors the self-join variant's persist).  At 100 TB the
    standing corpus should not be re-shingled per shard at all: write its
    index once with :func:`build_minhash_index` and join shards against it
    via :func:`minhash_pairs_against_index`.  Output:
    ``(left_id, right_id, jaccard)`` for verified pairs ≥ ``threshold``.

    ``persist=False`` skips the per-side shingle persists (one extra
    shingle pass per side, zero SQL-cache growth — same contract as
    ``minhash_pairs_against_index.persist_shard``; use it from
    long-running per-batch loops).
    """
    sh_l = shingle_frame(left, id_col, text_col, n)
    sh_r = shingle_frame(right, id_col, text_col, n)
    if persist:
        sh_l, sh_r = sh_l.persist(), sh_r.persist()
    lsh_l = banded_frame(sh_l, id_col, num_hashes, bands, seed, out_id="left_id")
    lsh_r = banded_frame(sh_r, id_col, num_hashes, bands, seed, out_id="right_id")
    cand = (
        lsh_l.join(lsh_r, ["band", "bucket"])
        .select("left_id", "right_id")
        .distinct()
    )
    return _verify_pairs_between(
        cand,
        sh_l.select(F.col(id_col).alias("left_id"), F.col("sh").alias("sh_l")),
        sh_r.select(F.col(id_col).alias("right_id"), F.col("sh").alias("sh_r")),
        threshold,
    )


def _verify_pairs_between(
    cand: DataFrame, sh_l: DataFrame, sh_r: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of cross-corpus candidate pairs.

    ``sh_l``/``sh_r`` carry ``(left_id, sh_l)`` / ``(right_id, sh_r)``;
    work is proportional to the candidate count only.
    """
    return (
        cand.join(sh_l, "left_id").join(sh_r, "right_id")
        .withColumn("inter", F.size(F.array_intersect("sh_l", "sh_r")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_l") + F.size("sh_r") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


#: Index layout version written by build_minhash_index.
_MINHASH_INDEX_VERSION = 1


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> str:
    """Materialize the standing corpus's MinHash-LSH index to ``path``.

    Writes two parquet tables plus a params manifest:

    * ``{path}/bands``    — ``(doc_id, band, bucket)``, the LSH band index
      (``bands`` rows per doc; the join side of every future shard dedup).
    * ``{path}/shingles`` — ``(doc_id, sh)``, the distinct word-n-gram sets
      (read only for candidate verification).
    * ``{path}/meta.json`` — ``{n, num_hashes, bands, seed, id_col,
      version}``; signatures are only comparable under identical hash
      coefficients, so :func:`minhash_pairs_against_index` refuses an index
      built under different parameters instead of silently returning wrong
      pairs.

    This is the "cluster once, scan many" artifact the cross-corpus
    docstring promises: the corpus text is tokenized and hashed exactly
    once, ever; each incoming shard pays its own signature pass plus a
    band join against ``bands`` (size ≈ corpus_docs × bands rows — ~32
    rows/doc, a few percent of typical document text volume per TB).
    Append-only corpora extend the index by writing new docs' band/shingle
    rows under the same manifest; a parameter change requires a rebuild.

    The build stages the whole artifact (both tables + manifest) and
    promotes it with one directory rename — a crashed rebuild can never
    leave readers a live index mixing new band rows with old shingles or
    a stale manifest.
    """
    import json
    import os
    import uuid

    from ..sources.writers import atomic_dir_swap

    stage = f"{path.rstrip('/')}.__stage_{uuid.uuid4().hex[:8]}"
    sh = shingle_frame(df, id_col, text_col, n).persist()
    banded = banded_frame(sh, id_col, num_hashes, bands, seed)
    banded.write.mode("overwrite").parquet(os.path.join(stage, "bands"))
    sh.write.mode("overwrite").parquet(os.path.join(stage, "shingles"))
    meta = {
        "version": _MINHASH_INDEX_VERSION,
        "id_col": id_col,
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "seed": seed,
    }
    with open(os.path.join(stage, "meta.json"), "w") as f:
        json.dump(meta, f)
    sh.unpersist()
    atomic_dir_swap(stage, path.rstrip("/"))
    return path


def append_to_minhash_index(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Extend an existing index with new documents' band/shingle rows —
    the append-only corpus cadence (SCALE.md): the standing rows are
    never recomputed or rewritten, only the new docs pay a signature
    pass.  Hash-family parameters come from the manifest (the new rows
    are only comparable to the old ones under identical coefficients);
    callers own id uniqueness across appends, exactly as with any
    append-mode table."""
    import json
    import os

    with open(os.path.join(index_path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("version") != _MINHASH_INDEX_VERSION:
        raise ValueError(f"unsupported minhash index version: {meta.get('version')}")
    sh = shingle_frame(new_docs, id_col, text_col, meta["n"]).persist()
    banded = banded_frame(
        sh, id_col, meta["num_hashes"], meta["bands"], meta["seed"],
        out_id=meta["id_col"],
    )
    banded.write.mode("append").parquet(os.path.join(index_path, "bands"))
    sh.selectExpr(f"{id_col} as {meta['id_col']}", "sh").write.mode(
        "append"
    ).parquet(os.path.join(index_path, "shingles"))
    sh.unpersist()
    return index_path


def minhash_pairs_against_index(
    shard: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    persist_shard: bool = True,
) -> DataFrame:
    """Near-dup pairs between ``shard`` and a corpus index built by
    :func:`build_minhash_index` — WITHOUT touching the corpus text.

    The incremental-crawl hot path: the corpus's shingle/band tables are
    read from parquet (its text is never rescanned — by construction: this
    function does not take the corpus DataFrame at all), the shard is
    shingled once (persisted for its band pass + verification), and the
    band join + exact-Jaccard verify proceed exactly as
    :func:`minhash_dedup_pairs_between`.  Hash-family parameters (incl.
    the corpus-side id column name) come from the index manifest.

    ``persist_shard=False`` skips the shard-shingle persist: SQL-cache
    entries outlive the returned DataFrame (Spark's cache manager is not
    GC-driven), so long-running loops that call this per batch — e.g.
    ``streaming/dedup_stream.py`` — should trade the one extra shingle
    pass over the (small) batch for a cache that cannot accumulate.

    Output: ``(left_id, right_id, jaccard)`` — left = shard, right =
    corpus — for verified pairs ≥ ``threshold``.
    """
    import json
    import os

    with open(os.path.join(index_path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("version") != _MINHASH_INDEX_VERSION:
        raise ValueError(f"unsupported minhash index version: {meta.get('version')}")
    spark = shard.sparkSession
    corpus_bands = spark.read.parquet(os.path.join(index_path, "bands"))
    corpus_sh = spark.read.parquet(os.path.join(index_path, "shingles"))
    cid = meta["id_col"]
    sh_s = shingle_frame(shard, id_col, text_col, meta["n"])
    if persist_shard:
        sh_s = sh_s.persist()
    lsh_s = banded_frame(
        sh_s, id_col, meta["num_hashes"], meta["bands"], meta["seed"],
        out_id="left_id",
    )
    cand = (
        lsh_s.join(
            corpus_bands.select(
                F.col(cid).alias("right_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("left_id", "right_id")
        .distinct()
    )
    # deleted corpus docs stop matching immediately (physical removal
    # happens at the next index_maintenance.compact_index)
    cand = index_maintenance.exclude_tombstoned(
        cand, index_path, "right_id", cid
    )
    return _verify_pairs_between(
        cand,
        sh_s.select(F.col(id_col).alias("left_id"), F.col("sh").alias("sh_l")),
        corpus_sh.select(F.col(cid).alias("right_id"), F.col("sh").alias("sh_r")),
        threshold,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_combo: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball.

    Candidate generation uses the pigeonhole trick: split the 64-bit
    fingerprint into ``max_hamming + band_combo`` bands — ``max_hamming``
    errors can dirty at most that many bands, so every pair in the ball
    has ≥ ``band_combo`` clean bands, i.e. agrees exactly on at least one
    ``band_combo``-subset of bands.  Bucket-join on (subset id, subset
    bits), verify full Hamming distance — the same index-then-verify
    scaling shape as LSH.

    ``band_combo`` is the wide-radius scale lever (the block-permutation
    scheme of Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW 2007).  Single-level banding at radius 8 forces 9 bands
    of ~7 bits — ≤128 distinct values per band, so bucket self-joins grow
    ~n²/128 per band.  ``band_combo=2`` keys each posting on a *pair* of
    bands instead: 10 bands of ~6 bits → C(10,2)=45 keys of ~13 bits per
    doc — 5× more index rows but ~2⁷× sparser buckets, which is the
    winning trade as soon as n ≫ 2⁷.  Radius-3 banding already has 16-bit
    bands, so the default stays single-level there.

    ``hash_family`` selects the per-token hash: ``"xxhash64"`` (default,
    fastest) or ``"poly"`` (``text.simhash64_poly`` — exact arithmetic a
    DuckDB oracle replays end-to-end; the hash-verified workload lane).
    """
    from itertools import combinations

    from .text import simhash64_poly

    if band_combo < 1:
        raise ValueError("band_combo must be >= 1")
    if hash_family not in ("xxhash64", "poly"):
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    bands = max_hamming + band_combo
    # Cover all 64 bits: the first (64 % bands) bands are one bit wider.
    base_w, extra = divmod(64, bands)
    narrow = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col)))
    fp_fn = simhash64 if hash_family == "xxhash64" else simhash64_poly
    fp = fp_fn(narrow, text_col, out="simhash")
    # per-band bit slices, then one posting per band_combo-subset keyed on
    # the concatenated slice values
    band_bits = []
    offset = 0
    for i in range(bands):
        w = base_w + (1 if i < extra else 0)
        band_bits.append(
            F.shiftrightunsigned(F.col("simhash"), offset)
            .bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        )
        offset += w
    structs = []
    for combo_id, combo in enumerate(combinations(range(bands), band_combo)):
        structs.append(
            F.struct(
                F.lit(combo_id).alias("band"),
                *[band_bits[b].alias(f"bits{j}") for j, b in enumerate(combo)],
            )
        )
    bit_cols = [f"bits{j}" for j in range(band_combo)]
    banded = fp.select(
        id_col, "simhash", F.explode(F.array(*structs)).alias("bb")
    ).select(id_col, "simhash", "bb.band", *[f"bb.{c}" for c in bit_cols])
    a = banded.alias("a")
    b = banded.alias("b")
    key_eq = F.col("a.band") == F.col("b.band")
    for c in bit_cols:
        key_eq = key_eq & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = (
        a.join(
            b,
            key_eq & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ---------------------------------------------------------------------------
# Cluster representatives (shared tail for all pair-producing dedups)
# ---------------------------------------------------------------------------

_EDGES_PER_PARTITION = 2_000_000  # ~a few hundred MB of (long, long) rows


def propagate_labels(
    pairs: DataFrame,
    rounds: int = 20,
    graph_partitions: int | None = None,
) -> DataFrame:
    """Min-id label propagation over a near-dup pair graph: ``(src, label)``
    with ``label`` = the component's minimum id, for every node that
    appears in a pair (singletons are absent — their label is their own
    id by construction; callers coalesce).

    The shared clustering core: :func:`dedup_keep_representatives` keeps
    ``src == label`` rows, leakage-safe splitting
    (``operators/curation.py leakage_safe_splits``) hashes the label so a
    whole near-dup cluster lands in ONE train/val/test split.

    Iterative label propagation (min-id flood) over the pair graph, with
    an exact convergence exit: labels only ever decrease under min-id
    flood, so the label SUM is strictly monotone and an unchanged sum
    after a round ⇔ no node changed ⇔ fixpoint — one cheap aggregate per
    round, no join-based diff.  Near-dup graphs are overwhelmingly tiny
    cliques/chains that converge in 2-3 rounds, so the ``rounds`` cap
    (now 20, protecting pathological chains up to that diameter) is
    almost never reached and raising it costs nothing; each round is one
    join+agg (no driver-side loops over rows).

    Scale shape: propagation runs only over nodes that appear in a pair
    (≪ corpus — the edge list is persisted and each round touches just it),
    and the corpus is filtered once at the end with an anti-join against the
    non-representative ids.  The 100 TB table is scanned exactly once.
    ``graph_partitions`` sizes the propagation shuffles.  Default ``None``
    auto-derives it from the materialized edge count (one cheap count over
    checkpointed blocks, ~2M edges per task): tiny graphs collapse to a
    single task instead of paying per-partition overhead ×rounds, and a
    huge pair set never funnels through one task.  Pass an explicit value
    to skip the count.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    if graph_partitions is None:
        # Materialize once (the pair pipeline never re-runs), then size the
        # propagation shuffles from the actual edge count — counting
        # checkpointed blocks is a metadata-cheap pass.
        # lazy: the count() right below materializes the checkpoint in the
        # SAME job instead of paying a separate eager dispatch (r18)
        staged = edges.localCheckpoint(eager=False)
        n_edges = staged.count()
        graph_partitions = max(1, min(256, -(-n_edges // _EDGES_PER_PARTITION)))
        edges = staged
    edges = (
        edges.repartition(graph_partitions, "src")
        # materialize once — never recompute the pair pipeline per round
        # (lazy: folds into the first consuming job, same barrier)
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select("src").distinct()
        .withColumn("label", F.col("src"))
        .localCheckpoint(eager=False)
    )
    # Exact-decimal label sum: the convergence signature (labels only
    # decrease; equal sum ⇔ fixpoint).  DECIMAL(38,0) cannot overflow or
    # round for any realistic id space.
    def _sig(lab: DataFrame):
        return lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sig = _sig(labels)
    for _ in range(rounds):
        # One shuffle per round: current labels ∪ labels pushed across edges,
        # then min per node.  Each round is checkpointed: iterative plans
        # otherwise stack 3 operators per round and the deep DAG's
        # re-analysis/AQE replanning dominates (measured >10× the actual
        # work on a small graph).  Blocks live on executors; the pair
        # pipeline is deterministic, so loss just recomputes upstream.
        prop = edges.join(labels, "src").select(
            F.col("dst").alias("src"), F.col("label")
        )
        labels = (
            labels.union(prop)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        sig = _sig(labels)
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    rounds: int = 20,
    graph_partitions: int | None = None,
) -> DataFrame:
    """Resolve near-dup pairs to clusters and keep the min-id
    representative (scale notes on :func:`propagate_labels`, the shared
    propagation core): the corpus is filtered once at the end with an
    anti-join against the non-representative ids — the 100 TB table is
    scanned exactly once."""
    labels = propagate_labels(pairs, rounds, graph_partitions)
    losers = labels.filter(F.col("src") != F.col("label")).select(
        F.col("src").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    rounds: int = 20,
    graph_partitions: int | None = None,
) -> DataFrame:
    """Quality-aware canonicalization: resolve near-dup pairs to clusters
    (:func:`propagate_labels`) and keep the HIGHEST-``score_col`` member
    of each cluster (ties → smaller id), instead of the min-id
    representative — the curation variant where near-duplicates differ in
    quality (truncated mirrors, boilerplate-injected copies) and the keep
    decision should prefer the best copy, not an arbitrary one.

    Scale shape is :func:`dedup_keep_representatives`'s: propagation and
    the per-cluster argmax run only over nodes that appear in a pair
    (≪ corpus); the winner pick is one grouped ``max(struct(score, -id))``
    — no window over the corpus — and the full table is filtered once at
    the end with an anti-join against the losers.  Singletons never enter
    the graph and are kept by construction."""
    labels = propagate_labels(pairs, rounds, graph_partitions)
    member_scores = labels.join(
        df.select(F.col(id_col).alias("src"), F.col(score_col).alias("__score")),
        "src",
    )
    # argmax per cluster: max struct = (highest score, then -id greatest
    # = smallest id) — negation is exact for integral scores/ids and a
    # sign-bit flip for floats
    winners = (
        member_scores.groupBy("label")
        .agg(
            F.max(
                F.struct(F.col("__score").alias("s"), (-F.col("src")).alias("negid"))
            ).alias("w")
        )
        .select("label", (-F.col("w.negid")).alias("__winner"))
    )
    losers = (
        labels.join(winners, "label")
        .filter(F.col("src") != F.col("__winner"))
        .select(F.col("src").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
