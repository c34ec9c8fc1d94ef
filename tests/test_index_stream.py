"""Streaming IVFADC maintenance: continuous vector arrivals append into
the index through foreachBatch, deletes tombstone, checkpoint makes
re-runs incremental, and the result is bit-identical to the batch
append/delete path under the same frozen quantizer."""

from __future__ import annotations

import pytest

import os
import shutil

from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    index_maintenance,
    similarity,
)
from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming.index_stream import (
    ivfpq_index_ingest,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"
SCHEMA = "vec_id long, embedding array<float>, op string"


#: opt-in tier (pytest.ini): the checkpointed streaming-ingest e2e
#: harnesses, all but the batch-parity case (default tier: its appends
#: run the quantizer kernel's residual encode).
slow = pytest.mark.slow

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _topk(q, path):
    return _rows(
        similarity.ivfpq_topk_against_index(q, path, k=10, nprobe=4, shortlist=50)
    )


def test_streaming_ingest_matches_batch_append_and_excludes_tombstones(
    spark, tmp_path
):
    emb = spark.read.parquet(EMB)
    standing = emb.filter(F.col("vec_id") < 300)
    batch1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    batch2 = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    q = emb.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "idx")
    similarity.build_ivfpq_index(standing, path, n_subspaces=8, n_codes=8)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    up = F.lit("UPSERT").alias("op")
    batch1.select("vec_id", "embedding", up).coalesce(1).write.parquet(
        f"{src}/f1", mode="overwrite"
    )
    for f in os.listdir(f"{src}/f1"):
        if f.endswith(".parquet"):
            shutil.move(f"{src}/f1/{f}", f"{src}/b1.parquet")
    shutil.rmtree(f"{src}/f1")

    # ---- run 1: only batch 1 exists -------------------------------------
    ivfpq_index_ingest(spark, src, path, ckpt, schema=SCHEMA)
    after_b1 = _topk(q, path)
    # batch-1 vectors are now visible to queries (the whole point)
    assert after_b1 == _rows(
        similarity.ivfpq_topk_against_index(q, path, k=10, nprobe=4, shortlist=50)
    )
    ids_after_b1 = {r[1] for r in after_b1}
    assert ids_after_b1 & set(
        r.vec_id for r in batch1.select("vec_id").collect()
    ), "no batch-1 vector ever surfaced in any top-10 — test corpus too easy"

    # ---- run 2: batch 2 arrives, upserting new vectors and DELETING two
    #      batch-1 ids that currently appear in results ------------------
    victims = sorted(
        v for v in ids_after_b1
        if 300 <= v < 400
    )[:2]
    assert victims, "need batch-1 ids in the results to exercise deletes"
    b2 = batch2.select("vec_id", "embedding", up).unionByName(
        spark.createDataFrame(
            [(int(v),) for v in victims], "vec_id long"
        ).select(
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit("DELETE").alias("op"),
        )
    )
    b2.coalesce(1).write.parquet(f"{src}/f2", mode="overwrite")
    for f in os.listdir(f"{src}/f2"):
        if f.endswith(".parquet"):
            shutil.move(f"{src}/f2/{f}", f"{src}/b2.parquet")
    shutil.rmtree(f"{src}/f2")

    ivfpq_index_ingest(spark, src, path, ckpt, schema=SCHEMA)
    after_b2 = _topk(q, path)
    assert not ({r[1] for r in after_b2} & set(victims))

    # ---- bit-identical to the batch append/delete path under the same
    #      frozen quantizer (pivots + codebooks trained on `standing`) ---
    twin = str(tmp_path / "twin")
    similarity.build_ivfpq_index(standing, twin, n_subspaces=8, n_codes=8)
    similarity.append_to_ivfpq_index(
        batch1.select("vec_id", "embedding"), twin
    )
    similarity.append_to_ivfpq_index(
        batch2.select("vec_id", "embedding"), twin
    )
    index_maintenance.delete_from_index(
        spark.createDataFrame([(int(v),) for v in victims], "vec_id long"),
        twin,
    )
    assert after_b2 == _topk(q, twin)

    # ---- run 3: nothing new — the checkpoint makes it a no-op ----------
    before = _topk(q, path)
    ivfpq_index_ingest(spark, src, path, ckpt, schema=SCHEMA)
    assert _topk(q, path) == before
    # no duplicate code rows from the no-op run
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert (
        codes.groupBy("vec_id", "pivot_id").count().filter("count > 1").count()
        == 0
    )


@slow
def test_streaming_ingest_without_op_column_is_all_upserts(spark, tmp_path):
    emb = spark.read.parquet(EMB)
    standing = emb.filter(F.col("vec_id") < 300)
    arrivals = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350))
    path = str(tmp_path / "idx2")
    similarity.build_ivfpq_index(standing, path, n_subspaces=8, n_codes=8)
    src = str(tmp_path / "src2")
    os.makedirs(src)
    arrivals.select("vec_id", "embedding").coalesce(1).write.parquet(
        f"{src}/f", mode="overwrite"
    )
    for f in os.listdir(f"{src}/f"):
        if f.endswith(".parquet"):
            shutil.move(f"{src}/f/{f}", f"{src}/a.parquet")
    shutil.rmtree(f"{src}/f")
    ivfpq_index_ingest(
        spark, src, path, str(tmp_path / "ckpt2"),
        schema="vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id
        for r in spark.read.parquet(os.path.join(path, "codes"))
        .select("vec_id").distinct().collect()
    }
    assert {r.vec_id for r in arrivals.select("vec_id").collect()} <= got


@slow
def test_index_ingest_dispatches_by_family_and_rejects_unknown(
    spark, tmp_path
):
    """Round 11: one streaming wire serves the whole index ladder — the
    family comes from the artifact's manifest.  An IVF-SQ8 artifact
    maintained through the generic `index_ingest` must equal the same
    maintenance done with direct batch appends + tombstones; a family
    with no append surface fails loudly."""
    import pytest

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming.index_stream import (
        _append_fn,
        index_ingest,
    )

    emb = spark.read.parquet(EMB)
    standing = emb.filter("vec_id % 4 <> 3")
    arrivals = emb.filter("vec_id % 4 = 3")

    streamed = str(tmp_path / "streamed")
    similarity.build_ivfsq8_index(standing, streamed)
    src = str(tmp_path / "src")
    os.makedirs(src)
    arrivals.select(
        "vec_id", "embedding", F.lit("UPSERT").alias("op")
    ).coalesce(1).write.mode("append").parquet(src)
    vec_t = emb.schema["embedding"].dataType.simpleString()
    index_ingest(
        spark, src, streamed, str(tmp_path / "ckpt"),
        schema=f"vec_id long, embedding {vec_t}, op string",
    )

    direct = str(tmp_path / "direct")
    similarity.build_ivfsq8_index(standing, direct)
    similarity.append_to_ivfsq8_index(arrivals, direct)

    q = emb.filter("vec_id % 25 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    a = similarity.ivfsq8_topk_against_index(q, streamed, k=10, nprobe=12)
    b = similarity.ivfsq8_topk_against_index(q, direct, k=10, nprobe=12)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))

    with pytest.raises(ValueError, match="no streaming append surface"):
        _append_fn("minhash")


@slow
def test_index_ingest_serves_ivfbq_family(spark, tmp_path):
    """The streaming wire's newest family: an IVF-BQ artifact maintained
    through the generic `index_ingest` equals direct append maintenance
    (frozen thresholds + pivots; replay-safe by the shared contract)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming.index_stream import (
        index_ingest,
    )

    emb = spark.read.parquet(EMB)
    standing = emb.filter("vec_id % 4 <> 3")
    arrivals = emb.filter("vec_id % 4 = 3")

    streamed = str(tmp_path / "streamed")
    similarity.build_ivfbq_index(standing, streamed)
    src = str(tmp_path / "src")
    os.makedirs(src)
    arrivals.select(
        "vec_id", "embedding", F.lit("UPSERT").alias("op")
    ).coalesce(1).write.mode("append").parquet(src)
    vec_t = emb.schema["embedding"].dataType.simpleString()
    index_ingest(
        spark, src, streamed, str(tmp_path / "ckpt"),
        schema=f"vec_id long, embedding {vec_t}, op string",
    )

    direct = str(tmp_path / "direct")
    similarity.build_ivfbq_index(standing, direct)
    similarity.append_to_ivfbq_index(arrivals, direct)

    q = emb.filter("vec_id % 25 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
    a = similarity.ivfbq_topk_against_index(q, streamed, k=10, nprobe=12)
    b = similarity.ivfbq_topk_against_index(q, direct, k=10, nprobe=12)
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


# ---------------------------------------------------------------------------
# Round 13: drift evaluation in the maintenance loop (VERDICT r12 ask #6)
# ---------------------------------------------------------------------------

def _write_one_file(df, src, name):
    tmp = f"{src}/_{name}"
    df.coalesce(1).write.parquet(tmp, mode="overwrite")
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            shutil.move(f"{tmp}/{f}", f"{src}/{name}.parquet")
    shutil.rmtree(tmp)


@slow
def test_drifted_appends_flip_rebuild_flag_and_rebuild_heals(spark, tmp_path):
    """The frozen-quantizer loop closes: streaming appends of a shifted
    cluster degrade stale-pivot recall, the post-batch evaluation raises
    the persistent rebuild flag, and a rebuild (retrained pivots)
    restores parity so a re-measurement recommends nothing."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        index_stream,
    )

    rows = [(i, [0.5 + 0.01 * i, 0.05]) for i in range(10)]
    rows += [(10 + i, [10.0 + 0.01 * i, 0.05]) for i in range(10)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, idx, modulus=10)
    # the drifted arrivals: a cluster centered between the two frozen
    # pivots, splitting 5/5 across their lists (same geometry the batch
    # drift test pins)
    appended = spark.createDataFrame(
        [(20 + i, [4.8 + 0.1 * i, 5.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = appended.filter("vec_id in (22, 27)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_one_file(
        appended.select("vec_id", "embedding", F.lit("UPSERT").alias("op")),
        src, "b1",
    )
    assert index_stream.drift_flag(idx) is None
    index_stream.index_ingest(
        spark, src, idx, ckpt,
        schema="vec_id long, embedding array<double>, op string",
        drift_queries=queries, drift_gap_threshold=0,
        drift_k=6, drift_nprobe=1,
    )
    flag = index_stream.drift_flag(idx)
    assert flag is not None and flag["rebuild_recommended"]
    assert flag["gap"] > 0  # fresh pivots would beat the stale ones
    assert flag["recall_hits_fresh"] == 12  # 2 queries x k=6, perfect
    # rebuild on the current corpus = retrained pivots; flag cleared
    similarity.build_ivf_index(base.unionByName(appended), idx, modulus=10)
    index_stream.clear_drift_flag(idx)
    out = index_stream.evaluate_drift(
        spark, idx, queries, gap_threshold=0, k=6, nprobe=1
    )
    assert not out["rebuild_recommended"] and out["gap"] == 0
    assert index_stream.drift_flag(idx) is None


@slow
def test_undrifted_appends_do_not_flag(spark, tmp_path):
    """In-distribution arrivals (inside the existing clusters) keep the
    stale pivots optimal — the evaluation runs and raises nothing."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        index_stream,
    )

    rows = [(i, [0.5 + 0.01 * i, 0.05]) for i in range(10)]
    rows += [(10 + i, [10.0 + 0.01 * i, 0.05]) for i in range(10)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, idx, modulus=10)
    appended = spark.createDataFrame(
        [(20 + i, [0.6 + 0.01 * i, 0.06]) for i in range(5)]
        + [(30 + i, [10.1 + 0.01 * i, 0.06]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    queries = appended.filter("vec_id in (21, 32)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_one_file(
        appended.select("vec_id", "embedding", F.lit("UPSERT").alias("op")),
        src, "b1",
    )
    index_stream.index_ingest(
        spark, src, idx, ckpt,
        schema="vec_id long, embedding array<double>, op string",
        drift_queries=queries, drift_gap_threshold=0,
        drift_k=6, drift_nprobe=1,
    )
    assert index_stream.drift_flag(idx) is None


@slow
def test_rebuild_index_heals_drift_and_clears_flag(spark, tmp_path):
    """The flag's actuator: after drifted appends raise the rebuild
    flag, one rebuild_index call retrains the quantizer on the live
    contents, restores recall parity, folds tombstones, and drops the
    flag in the same atomic swap."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        index_stream,
    )

    rows = [(i, [0.5 + 0.01 * i, 0.05]) for i in range(10)]
    rows += [(10 + i, [10.0 + 0.01 * i, 0.05]) for i in range(10)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, idx, modulus=10)
    appended = spark.createDataFrame(
        [(20 + i, [4.8 + 0.1 * i, 5.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    similarity.append_to_ivf_index(appended, idx)
    index_maintenance.delete_from_index(
        spark.createDataFrame([(5,)], "vec_id long"), idx
    )
    queries = appended.filter("vec_id in (22, 27)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = index_stream.evaluate_drift(
        spark, idx, queries, gap_threshold=0, k=6, nprobe=1
    )
    assert out["rebuild_recommended"]
    assert index_stream.drift_flag(idx) is not None
    index_maintenance.rebuild_index(spark, idx)
    # flag dropped by the swap itself; recall parity restored
    assert index_stream.drift_flag(idx) is None
    out2 = index_stream.evaluate_drift(
        spark, idx, queries, gap_threshold=0, k=6, nprobe=1
    )
    assert not out2["rebuild_recommended"] and out2["gap"] == 0
    # the rebuild folded the tombstone (id 5 gone physically) and the
    # deduped live set carries exactly the surviving 29 vectors
    lists = spark.read.parquet(os.path.join(idx, "lists"))
    assert lists.where("vec_id = 5").count() == 0
    assert lists.select("vec_id").distinct().count() == 29
    assert index_maintenance.read_tombstones(spark, idx) is None


@slow
def test_rebuild_index_refuses_flat_families(spark, tmp_path):
    import pytest

    emb = spark.read.parquet(EMB).limit(50)
    idx = str(tmp_path / "sq8")
    similarity.build_sq8_index(emb, idx)
    with pytest.raises(ValueError, match="no quantizer-drift rebuild"):
        index_maintenance.rebuild_index(spark, idx)


@slow
def test_index_health_reports_the_maintenance_signals(spark, tmp_path):
    rows = [(i, [0.5 + 0.01 * i, 0.05]) for i in range(10)]
    rows += [(10 + i, [10.0 + 0.01 * i, 0.05]) for i in range(10)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(base, idx, modulus=10)
    h0 = index_maintenance.index_health(spark, idx)
    assert h0["family"] == "ivf" and h0["rows"] == h0["live_ids"] == 20
    assert h0["replay_duplicates"] == 0 and h0["tombstones"] == 0
    assert h0["drift_flag"] is None and h0["lists"] == 2
    # replay-duplicate an append, tombstone two ids, raise the flag
    extra = spark.createDataFrame(
        [(20, [4.8, 5.0])], "vec_id long, embedding array<double>"
    )
    similarity.append_to_ivf_index(extra, idx)
    similarity.append_to_ivf_index(extra, idx)  # at-least-once replay
    index_maintenance.delete_from_index(
        spark.createDataFrame([(0,), (11,)], "vec_id long"), idx
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
        index_stream,
    )

    q = extra.select(F.col("vec_id").alias("query_id"), "embedding")
    index_stream.evaluate_drift(spark, idx, q, gap_threshold=-100, k=3, nprobe=1)
    h1 = index_maintenance.index_health(spark, idx)
    assert h1["rows"] == 22 and h1["live_ids"] == 21
    assert h1["replay_duplicates"] == 1
    assert h1["tombstones"] == 2
    assert h1["drift_flag"] is not None
    assert h1["max_list"] >= h1["mean_list"] and h1["list_skew"] >= 1.0
    # the two actuators clear their own signals
    index_maintenance.rebuild_index(spark, idx)
    h2 = index_maintenance.index_health(spark, idx)
    assert h2["replay_duplicates"] == 0 and h2["tombstones"] == 0
    assert h2["drift_flag"] is None and h2["live_ids"] == 19
