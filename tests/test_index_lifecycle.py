"""Index lifecycle: tombstone deletes take effect immediately on every
read path, and compaction folds them in physically while preserving
query bit-equality for surviving ids (takedown/TTL/re-crawl semantics
for the three on-disk index artifacts)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    dedup,
    index_maintenance,
    similarity,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"

TOPK_KEY = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])


def _delete(spark, idx, ids, id_col):
    index_maintenance.delete_from_index(
        spark.createDataFrame([(i,) for i in ids], f"{id_col} long"), idx
    )


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def test_minhash_delete_then_probe_and_compact(spark, tmp_path):
    docs = spark.read.parquet(DOCS)
    idx = dedup.build_minhash_index(docs, str(tmp_path / "idx"))
    # the shard IS the corpus -> every doc matches itself at jaccard 1.0
    shard = docs.limit(20)
    before = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_pairs_against_index(shard, idx).collect()
    }
    assert before
    victims = sorted({r for _l, r in before})[:3]

    _delete(spark, idx, victims, "doc_id")
    after_delete = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_pairs_against_index(shard, idx).collect()
    }
    assert after_delete == {p for p in before if p[1] not in set(victims)}

    index_maintenance.compact_index(spark, idx)
    assert not os.path.isdir(os.path.join(idx, "tombstones"))
    # physically gone from both tables, surviving pairs bit-identical
    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.filter(F.col("doc_id").isin(victims)).count() == 0
    sh = spark.read.parquet(f"{idx}/shingles")
    assert sh.filter(F.col("doc_id").isin(victims)).count() == 0
    after_compact = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_pairs_against_index(shard, idx).collect()
    }
    assert after_compact == after_delete


def test_minhash_compact_merges_replayed_append(spark, tmp_path):
    docs = spark.read.parquet(DOCS).limit(10)
    idx = dedup.build_minhash_index(docs, str(tmp_path / "idx"))
    new = spark.createDataFrame(
        [(9001, "a novel appended document about arrow batches and codegen")],
        "doc_id long, text string",
    )
    dedup.append_to_minhash_index(new, idx)
    dedup.append_to_minhash_index(new, idx)  # at-least-once replay
    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.filter("doc_id = 9001").count() == 64  # 2x 32 bands

    index_maintenance.compact_index(spark, idx)
    bands = spark.read.parquet(f"{idx}/bands")
    assert bands.filter("doc_id = 9001").count() == 32  # folded to one copy
    assert (
        spark.read.parquet(f"{idx}/shingles").filter("doc_id = 9001").count()
        == 1
    )


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------

def test_ivf_delete_then_probe_and_compact(spark, tmp_path):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    before = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    victims = sorted({r["vec_id"] for r in before})[:5]

    _delete(spark, idx, victims, "vec_id")
    after_delete = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    got_ids = {r["vec_id"] for r in after_delete}
    assert not got_ids & set(victims)
    assert after_delete  # other vectors still rank

    index_maintenance.compact_index(spark, idx)
    assert not os.path.isdir(os.path.join(idx, "tombstones"))
    lists = spark.read.parquet(f"{idx}/lists")
    assert lists.filter(F.col("vec_id").isin(victims)).count() == 0
    after_compact = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    assert sorted(map(TOPK_KEY, after_compact)) == sorted(
        map(TOPK_KEY, after_delete)
    )
    # hive layout survived compaction (partition pruning contract)
    subdirs = [
        d for d in os.listdir(os.path.join(idx, "lists"))
        if d.startswith("pivot_id=")
    ]
    assert subdirs


def test_ivf_compact_without_tombstones_is_bit_identical(spark, tmp_path):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    before = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    index_maintenance.compact_index(spark, idx)
    after = similarity.ivf_topk_against_index(
        queries, idx, k=10, nprobe=12
    ).collect()
    assert sorted(map(TOPK_KEY, after)) == sorted(map(TOPK_KEY, before))


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------

def test_lsh_delete_then_probe_and_compact(spark, tmp_path):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _LSH_TABLES, _emb_queries,
    )

    emb = spark.read.parquet(EMB)
    queries = _emb_queries(emb)
    idx = similarity.build_lsh_index(emb, str(tmp_path / "lsh"), _LSH_TABLES)
    before = similarity.lsh_topk_against_index(
        queries, idx, k=10, n_probes=4
    ).collect()
    victims = sorted({r["vec_id"] for r in before})[:5]

    _delete(spark, idx, victims, "vec_id")
    after_delete = similarity.lsh_topk_against_index(
        queries, idx, k=10, n_probes=4
    ).collect()
    assert not {r["vec_id"] for r in after_delete} & set(victims)
    assert after_delete

    index_maintenance.compact_index(spark, idx)
    assert not os.path.isdir(os.path.join(idx, "tombstones"))
    for table in ("buckets", "vectors"):
        live = spark.read.parquet(f"{idx}/{table}")
        assert live.filter(F.col("vec_id").isin(victims)).count() == 0
    after_compact = similarity.lsh_topk_against_index(
        queries, idx, k=10, n_probes=4
    ).collect()
    assert sorted(map(TOPK_KEY, after_compact)) == sorted(
        map(TOPK_KEY, after_delete)
    )


# ---------------------------------------------------------------------------
# shared semantics
# ---------------------------------------------------------------------------

def test_delete_is_idempotent_and_ignores_unknown_ids(spark, tmp_path):
    docs = spark.read.parquet(DOCS).limit(10)
    idx = dedup.build_minhash_index(docs, str(tmp_path / "idx"))
    ids = [r["doc_id"] for r in docs.limit(2).collect()]
    _delete(spark, idx, ids, "doc_id")
    _delete(spark, idx, ids + [123456789], "doc_id")  # repeat + unknown
    shard = docs
    pairs = dedup.minhash_pairs_against_index(shard, idx).collect()
    assert not {r["right_id"] for r in pairs} & set(ids)
    index_maintenance.compact_index(spark, idx)
    assert (
        spark.read.parquet(f"{idx}/bands")
        .filter(F.col("doc_id").isin(ids))
        .count()
        == 0
    )


def test_compact_unrecognized_manifest_raises(spark, tmp_path):
    import json

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "meta.json").write_text(json.dumps({"id_col": "x", "version": 1}))
    with pytest.raises(ValueError, match="unrecognized"):
        index_maintenance.compact_index(spark, str(bad))


def test_pq_index_matches_inmemory_and_lifecycle(spark, tmp_path):
    """PQ artifact: index read path is bit-identical to the in-memory
    two-stage operator; append encodes with the STORED codebooks; delete
    excludes immediately; compaction folds physically and preserves
    results for surviving ids."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        index_maintenance,
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    books = similarity.pq_codebooks_from_corpus(emb, 8, 16)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "pq_index")
    similarity.build_pq_index(old, path, books)
    similarity.append_to_pq_index(new, path)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    inmem = similarity.pq_adc_rerank_topk(emb, q, books, k=10, shortlist=50)
    via_index = similarity.pq_topk_against_index(q, path, k=10, shortlist=50)
    assert rows(via_index) == rows(inmem)

    # delete: the tombstoned ids stop ranking immediately
    victims = {r[1] for r in rows(via_index)[:3]}
    index_maintenance.delete_from_index(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"), path
    )
    after = rows(similarity.pq_topk_against_index(q, path, k=10, shortlist=50))
    assert not ({r[1] for r in after} & victims)

    # compaction folds tombstones physically, results unchanged
    index_maintenance.compact_index(spark, path)
    assert rows(
        similarity.pq_topk_against_index(q, path, k=10, shortlist=50)
    ) == after
    import os
    assert not os.path.isdir(os.path.join(path, "tombstones"))


def test_ivfpq_index_matches_inmemory_and_lifecycle(spark, tmp_path):
    """IVFADC artifact (residual codes hive-partitioned by list): read
    path is bit-identical to the in-memory residual operator under the
    same quantizer/codebooks; append encodes with the STORED pivots and
    codebooks; delete excludes immediately; compaction folds physically,
    keeps the hive layout, and preserves results for surviving ids."""
    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq_index")
    similarity.build_ivfpq_index(old, path, n_subspaces=8, n_codes=8)
    similarity.append_to_ivfpq_index(new, path)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # in-memory twin under the SAME artifacts (old-corpus pivots +
    # old-corpus-trained codebooks — what the manifest pins)
    import json, os
    meta = json.load(open(os.path.join(path, "meta.json")))
    pivots = spark.read.parquet(os.path.join(path, "pivots"))
    inmem = similarity.ivfpq_residual_topk(
        emb, q, k=10, nprobe=4, shortlist=50,
        codebooks=meta["codebooks"], pivots=pivots,
    )
    via_index = similarity.ivfpq_topk_against_index(
        q, path, k=10, nprobe=4, shortlist=50
    )
    assert rows(via_index) == rows(inmem)

    victims = {r[1] for r in rows(via_index)[:3]}
    index_maintenance.delete_from_index(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"), path
    )
    after = rows(similarity.ivfpq_topk_against_index(
        q, path, k=10, nprobe=4, shortlist=50
    ))
    assert not ({r[1] for r in after} & victims)

    index_maintenance.compact_index(spark, path)
    assert rows(similarity.ivfpq_topk_against_index(
        q, path, k=10, nprobe=4, shortlist=50
    )) == after
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    # hive layout survives compaction (the partition-pruning contract)
    assert any(
        d.startswith("pivot_id=")
        for d in os.listdir(os.path.join(path, "codes"))
    )


def test_sq8_index_matches_inmemory_and_lifecycle(spark, tmp_path):
    """SQ8 artifact: index probe bit-identical to the in-memory two-stage
    operator under the manifest's frozen stats; append encodes with the
    STORED mins/steps; delete excludes immediately; compaction folds
    tombstones physically and preserves surviving results."""
    emb = spark.read.parquet(EMB)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    stats = similarity.sq8_stats(emb)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "sq8_index")
    similarity.build_sq8_index(old, path, stats=stats)
    similarity.append_to_sq8_index(new, path)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    inmem = similarity.sq8_topk(emb, q, k=10, shortlist=40, stats=stats)
    via_index = similarity.sq8_topk_against_index(q, path, k=10, shortlist=40)
    assert rows(via_index) == rows(inmem)

    victims = {r[1] for r in rows(via_index)[:3]}
    _delete(spark, path, victims, "vec_id")
    after = rows(similarity.sq8_topk_against_index(q, path, k=10, shortlist=40))
    assert not ({r[1] for r in after} & victims)

    index_maintenance.compact_index(spark, path)
    assert rows(
        similarity.sq8_topk_against_index(q, path, k=10, shortlist=40)
    ) == after
    assert not os.path.isdir(os.path.join(path, "tombstones"))


def test_sq8_append_uses_frozen_stats(spark, tmp_path):
    """Stats trained on the BUILD corpus only: an appended vector outside
    the original per-dim range clamps (codes stay in [0,255]) and the
    manifest's stats are byte-identical before/after append."""
    import json

    emb = spark.read.parquet(EMB)
    path = str(tmp_path / "sq8f")
    similarity.build_sq8_index(emb.filter(F.col("vec_id") < 100), path)
    with open(os.path.join(path, "meta.json")) as f:
        meta_before = json.load(f)
    dim = len(meta_before["mins"])
    wild = spark.createDataFrame(
        [(10**9, [1e6] * dim)], "vec_id long, embedding array<float>"
    )
    similarity.append_to_sq8_index(wild, path)
    with open(os.path.join(path, "meta.json")) as f:
        meta_after = json.load(f)
    assert meta_after == meta_before
    code = (
        spark.read.parquet(os.path.join(path, "codes"))
        .filter(F.col("vec_id") == 10**9)
        .collect()[0]["sq8_code"]
    )
    assert all(c == 255 for c in code)  # clamped, never out of range


# ---------------------------------------------------------------------------
# every vector codec through the shared artifact lifecycle
# ---------------------------------------------------------------------------

#: nprobe past the list count: every inverted list is probed.
FULL = 1000


def _round_trip_cases(base):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _LSH_TABLES,
    )

    books = similarity.pq_codebooks_from_corpus(base, 8, 8)
    def ivfpq_twin(q, p):
        import json

        with open(os.path.join(p, "meta.json")) as f:
            books_p = json.load(f)["codebooks"]
        return similarity.ivfpq_residual_topk(
            base, q, k=10, nprobe=FULL, shortlist=40, codebooks=books_p,
            pivots=base.sparkSession.read.parquet(os.path.join(p, "pivots")),
        )

    # family -> (build, probe(queries, path, vec_col), in-memory twin)
    return {
        "ivf": (
            lambda c, p: similarity.build_ivf_index(c, p),
            lambda q, p, v: similarity.ivf_topk_against_index(
                q, p, k=10, nprobe=FULL, vec_col=v
            ),
            lambda q, p: similarity.ivf_topk(base, q, k=10, nprobe=FULL),
        ),
        "lsh": (
            lambda c, p: similarity.build_lsh_index(c, p, _LSH_TABLES),
            lambda q, p, v: similarity.lsh_topk_against_index(
                q, p, k=10, n_probes=2, vec_col=v
            ),
            lambda q, p: similarity.lsh_multitable_topk(
                base, q, _LSH_TABLES, k=10, n_probes=2
            ),
        ),
        "pq": (
            lambda c, p: similarity.build_pq_index(c, p, books),
            lambda q, p, v: similarity.pq_topk_against_index(
                q, p, k=10, shortlist=40, vec_col=v
            ),
            lambda q, p: similarity.pq_adc_rerank_topk(
                base, q, books, k=10, shortlist=40
            ),
        ),
        "sq8": (
            lambda c, p: similarity.build_sq8_index(c, p),
            lambda q, p, v: similarity.sq8_topk_against_index(
                q, p, k=10, shortlist=40, vec_col=v
            ),
            lambda q, p: similarity.sq8_topk(base, q, k=10, shortlist=40),
        ),
        "ivfpq": (
            lambda c, p: similarity.build_ivfpq_index(
                c, p, n_subspaces=8, n_codes=8
            ),
            lambda q, p, v: similarity.ivfpq_topk_against_index(
                q, p, k=10, nprobe=FULL, shortlist=40, vec_col=v
            ),
            ivfpq_twin,
        ),
        "ivfsq8": (
            lambda c, p: similarity.build_ivfsq8_index(c, p),
            lambda q, p, v: similarity.ivfsq8_topk_against_index(
                q, p, k=10, nprobe=FULL, shortlist=40, vec_col=v
            ),
            lambda q, p: similarity.ivfsq8_topk(
                base, q, k=10, nprobe=FULL, shortlist=40
            ),
        ),
        "matryoshka": (
            lambda c, p: similarity.build_matryoshka_index(c, p),
            lambda q, p, v: similarity.matryoshka_topk_against_index(
                q, p, k=10, nprobe=FULL, shortlist=40, vec_col=v
            ),
            lambda q, p: similarity.matryoshka_ivf_topk(
                base, q, k=10, prefix_dims=16, nprobe=FULL, shortlist=40
            ),
        ),
        "ivfbq": (
            lambda c, p: similarity.build_ivfbq_index(c, p),
            lambda q, p, v: similarity.ivfbq_topk_against_index(
                q, p, k=10, nprobe=FULL, shortlist=40, vec_col=v
            ),
            lambda q, p: similarity.ivfbq_topk(
                base, q, k=10, nprobe=FULL, shortlist=40
            ),
        ),
    }


ROUND_TRIP_FAMILIES = [
    "ivf", "lsh", "pq", "sq8", "ivfpq", "ivfsq8", "matryoshka", "ivfbq"
]


def test_round_trip_covers_every_vector_codec():
    assert set(ROUND_TRIP_FAMILIES) == {
        f for f, c in similarity.CODECS.items() if c.encode is not None
    }


@pytest.mark.parametrize("family", ROUND_TRIP_FAMILIES)
def test_index_round_trip_every_codec(spark, tmp_path, family):
    """Build → full-probe equals the in-memory twin (also when the query
    vector column is named differently from the index's) → append →
    delete → the deleted ids stop ranking → compact → identical."""
    emb = spark.read.parquet(EMB)
    base = emb.filter(F.col("vec_id") < 400)
    q = base.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    build, probe, twin = _round_trip_cases(base)[family]
    path = str(tmp_path / family)
    build(base, path)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    built = rows(probe(q, path, "embedding"))
    assert built == rows(twin(q, path))
    assert rows(
        probe(q.withColumnRenamed("embedding", "q_emb"), path, "q_emb")
    ) == built

    append = getattr(similarity, f"append_to_{family}_index", None)
    if append is not None:
        append(emb.filter(F.col("vec_id") >= 400), path)
    before = rows(probe(q, path, "embedding"))
    victims = sorted({r[1] for r in before})[:5]
    _delete(spark, path, victims, "vec_id")
    deleted = rows(probe(q, path, "embedding"))
    assert deleted and not {r[1] for r in deleted} & set(victims)

    index_maintenance.compact_index(spark, path)
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    assert rows(probe(q, path, "embedding")) == deleted


@pytest.mark.parametrize(
    "op",
    [
        lambda spark, p: _delete(spark, p, [1], "vec_id"),
        lambda spark, p: index_maintenance.compact_index(spark, p),
        lambda spark, p: index_maintenance.rebuild_index(spark, p),
    ],
    ids=["delete_from_index", "compact_index", "rebuild_index"],
)
def test_maintenance_refuses_unknown_manifest_version(spark, tmp_path, op):
    import json

    emb = spark.read.parquet(EMB).limit(60)
    path = similarity.build_ivf_index(emb, str(tmp_path / "ivf"))
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["version"] = 2
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="version"):
        op(spark, path)
    assert not os.path.isdir(os.path.join(path, "tombstones"))


# ---------------------------------------------------------------------------
# the probe's query side: what one collected query batch ranks to
# ---------------------------------------------------------------------------

#: Output columns of each family's probe.
PROBE_DTYPES = {
    f: [("query_id", "bigint"), ("vec_id", "bigint"),
        ("l2_dist" if f in ("pq", "ivfpq") else "cosine", "double"),
        ("rank", "int")]
    for f in ROUND_TRIP_FAMILIES
}


@pytest.mark.parametrize("family", ROUND_TRIP_FAMILIES)
def test_probe_schema_and_empty_batch_every_codec(spark, tmp_path, family):
    """Each family's probe keeps its output columns and types, and an
    empty query batch returns an empty frame of the same schema."""
    base = spark.read.parquet(EMB).filter(F.col("vec_id") < 400)
    q = base.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    build, probe, _twin = _round_trip_cases(base)[family]
    path = str(tmp_path / family)
    build(base, path)
    out = probe(q, path, "embedding")
    assert out.dtypes == PROBE_DTYPES[family]
    assert out.count() == 10 * q.count()
    empty = probe(q.filter(F.lit(False)), path, "embedding")
    assert empty.dtypes == PROBE_DTYPES[family]
    assert empty.collect() == []


def _nan_pivot_index(spark, tmp_path):
    """A 4-dim IVF index (modulus 10: pivots 0, 10, 20, 30) whose pivot 0
    holds a NaN, so every distance to it is NaN; returns the path, the
    vectors and each vector's list under the NaN-greatest argmin."""
    import numpy as np

    vecs = np.random.default_rng(7).normal(size=(40, 4)).astype(np.float32)
    vecs[0, 0] = np.nan
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    path = similarity.build_ivf_index(corpus, str(tmp_path / "ivf"), modulus=10)
    v64 = vecs.astype(np.float64)
    d = ((v64[:, None, :] - v64[None, [0, 10, 20, 30], :]) ** 2).sum(axis=2)
    lists = np.where(
        np.isnan(d).all(axis=1), 0, np.where(np.isnan(d), np.inf, d).argmin(axis=1)
    ) * 10
    return path, v64, lists


def test_probe_ranks_nan_distances_and_scores_as_ivf_assign(spark, tmp_path):
    """``nprobe=1`` ranks a NaN distance greatest (never probed unless all
    are NaN); ``nprobe>1`` ranks NaN distances first.  A NaN cosine ranks
    first among a query's candidates, ties broken by id."""
    import math

    path, vecs, lists = _nan_pivot_index(spark, tmp_path)
    assert [int(i) for i in range(40) if lists[i] == 0] == [0]
    near = [float(x) for x in vecs[21] + 0.01]
    nan_q = [float("nan")] * 4
    q = spark.createDataFrame(
        [(100, near), (101, nan_q)], "query_id long, embedding array<float>"
    )

    def probe(nprobe):
        out = {}
        for r in similarity.ivf_topk_against_index(
            q, path, k=5, nprobe=nprobe
        ).collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], "nan" if math.isnan(r["cosine"]) else r["cosine"])
            )
        return {k: sorted(v) for k, v in out.items()}

    one, two = probe(1), probe(2)
    # the real query probes only its nearest real list
    assert {v for _r, v, _c in one[100]} <= {i for i in range(40) if lists[i] == lists[21]}
    assert all(c != "nan" for _r, _v, c in one[100])
    # nprobe=2 adds the NaN pivot's list, whose NaN cosine ranks first
    assert two[100][0] == (1, 0, "nan")
    assert [v for _r, v, _c in two[100][1:]] == [v for _r, v, _c in one[100][:4]]
    # an all-NaN query: every distance is NaN, so the lowest pivot ids win
    assert one[101] == [(1, 0, "nan")]
    members = sorted(i for i in range(40) if lists[i] in (0, 10))
    assert two[101] == [(r + 1, v, "nan") for r, v in enumerate(members[:5])]


@pytest.mark.parametrize("family", ["ivf", "sq8"])
def test_zero_norm_query_cosine_divides_by_zero(spark, tmp_path, family):
    """A zero-norm query's cosine divides by zero, which Spark's ANSI
    division refuses; the probe raises the same error."""
    base = spark.read.parquet(EMB).filter(F.col("vec_id") < 400)
    dim = len(base.first()["embedding"])
    build, probe, _twin = _round_trip_cases(base)[family]
    path = str(tmp_path / family)
    build(base, path)
    q = spark.createDataFrame(
        [(1000, [0.0] * dim)], "query_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        probe(q, path, "embedding").collect()


@pytest.mark.parametrize(
    "vec", [None, "null element", "ragged"], ids=["null", "null element", "ragged"]
)
@pytest.mark.parametrize("family", ["ivf", "pq", "in-memory"])
def test_probe_rejects_null_and_ragged_query_vectors(spark, tmp_path, family, vec):
    """A null or ragged query vector raises ``ValueError`` naming its
    column on every probe path: the ivf and pq index probes, and the
    in-memory twins of both (``ivf_topk``, ``pq_adc_rerank_topk``)."""
    base = spark.read.parquet(EMB).filter(F.col("vec_id") < 400)
    dim = len(base.first()["embedding"])
    cases = _round_trip_cases(base)
    bad = {
        None: None,
        "null element": [0.5] * (dim - 1) + [None],
        "ragged": [0.5] * (dim - 1),
    }[vec]
    # an in-memory twin reads the corpus's vector column from the queries
    col = "embedding" if family == "in-memory" else "q_emb"
    q = spark.createDataFrame(
        [(1000, [0.25] * dim), (1001, bad)], f"query_id long, {col} array<float>"
    )
    if family == "in-memory":
        runs = [lambda twin=cases[f][2]: twin(q, None) for f in ("ivf", "pq")]
    else:
        build, probe, _twin = cases[family]
        path = str(tmp_path / family)
        build(base, path)
        runs = [lambda: probe(q, path, col)]
    for run in runs:
        with pytest.raises(ValueError, match=f"'{col}'"):
            run().collect()


def test_deleting_ids_twice_probes_as_deleting_them_once(spark, tmp_path):
    """Tombstones are stored as deleted — an id deleted twice is stored
    twice — because the probe's anti-join needs no distinct set: the
    probe after a double delete equals the probe after one delete, and
    ``index_health`` counts each id once."""
    import shutil

    base = spark.read.parquet(EMB).filter(F.col("vec_id") < 400)
    q = base.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    build, probe, _twin = _round_trip_cases(base)["ivfpq"]
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    build(base, once)
    shutil.copytree(once, twice)

    def rows(path):
        return sorted(tuple(r) for r in probe(q, path, "embedding").collect())

    victims = sorted({r[1] for r in rows(once)})[:5]
    for path, times in ((once, 1), (twice, 2)):
        for _ in range(times):
            _delete(spark, path, victims, "vec_id")
    deleted = rows(once)
    assert deleted and not {r[1] for r in deleted} & set(victims)
    assert rows(twice) == deleted
    stored = spark.read.parquet(os.path.join(twice, "tombstones")).count()
    assert stored == 2 * len(victims)
    health = index_maintenance.index_health(spark, twice)
    assert health["tombstones"] == len(victims)


def test_probe_kernels_run_where_the_package_cannot_be_imported(tmp_path):
    """Python workers cannot import this package, so every probe kernel
    must pickle by value: each codec's scoring kernel and both re-rank
    kernels run in a fresh interpreter without the package on its path
    and return what they return here."""
    import pickle
    import subprocess
    import sys

    import numpy as np
    import pyarrow as pa
    from pyspark import cloudpickle

    rng = np.random.default_rng(3)
    dim, n = 16, 40
    qv = rng.normal(size=(3, dim))
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pivots = vecs[[0, 10, 20]].astype(np.float64)
    ids = pa.array(np.arange(n, dtype=np.int64))
    lists = similarity._probe_lists(qv, pivots, 2, "embedding")
    piv = pa.array(np.asarray([0, 10, 20])[np.arange(n) % 3])
    probes = {}
    for slot, p in enumerate(lists.ravel()):
        probes.setdefault([0, 10, 20][p], []).append(slot)
    probes = {p: (np.asarray(s) // 2, np.asarray(s)) for p, s in probes.items()}
    qids = pa.array([100, 101, 102], type=pa.int64())

    def col(a):
        return pa.array([list(r) for r in a])

    books = rng.normal(size=(4, 8, dim // 4)).tolist()
    cases = {
        "ivf": ({"vec_col": "embedding"}, col(vecs), None),
        "sq8": ({"mins": [-3.0] * dim, "steps": [0.02] * dim},
                col(rng.integers(0, 256, (n, dim)).astype(np.int32)), None),
        "ivfpq": ({"codebooks": books},
                  col(rng.integers(0, 8, (n, 4)).astype(np.int32)), piv),
        "matryoshka": ({"prefix_dims": dim}, col(vecs), piv),
        "ivfbq": ({"thresholds": [0.0] * dim},
                  col(rng.integers(0, 1 << 16, (n, 1))), piv),
    }
    kernels, inputs = {}, {}
    for fam, (meta, codes, pivot_col) in cases.items():
        codec = similarity.CODECS[fam]
        coarse = pivot_col is not None
        scorer = codec.scorer(meta, qv, pivots if coarse else None,
                              lists if coarse else None)
        kernels[fam] = similarity._scoring_kernel(
            scorer, 5, probes if coarse else None, np.asarray([100, 5, 102]),
            qids, "query_id",
        )
        cols = [ids, codes] + ([pivot_col] if coarse else [])
        inputs[fam] = pa.RecordBatch.from_arrays(
            cols, names=[f"c{i}" for i in range(len(cols))]
        )
    want = (np.asarray([3, 5, 7, 9]), np.asarray([0, 1, 1, 2]))
    for metric in ("l2", "cosine"):
        kernels[metric] = similarity._rerank_kernel(
            metric, "embedding", qv, *want, 2, qids, "query_id"
        )
        inputs[metric] = pa.RecordBatch.from_arrays(
            [ids, col(vecs)], names=["vec_id", "embedding"]
        )

    def run(kernel, batch):
        return [b.to_pylist() for b in kernel(iter([batch]))]

    here = {name: run(k, inputs[name]) for name, k in kernels.items()}
    assert all(here.values())
    (tmp_path / "kernels.pkl").write_bytes(cloudpickle.dumps((kernels, inputs)))
    script = (
        "import pickle, sys\n"
        "try:\n"
        "    import medallion_data_warehouse_on_azure_with_databricks_pyspark_spark\n"
        "    sys.exit('the package is importable here')\n"
        "except ModuleNotFoundError:\n"
        "    pass\n"
        "kernels, inputs = pickle.load(open('kernels.pkl', 'rb'))\n"
        "out = {n: [b.to_pylist() for b in k(iter([inputs[n]]))]\n"
        "       for n, k in kernels.items()}\n"
        "pickle.dump(out, open('out.pkl', 'wb'))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert pickle.loads((tmp_path / "out.pkl").read_bytes()) == here
