"""Round-2 extension operators: repetition stats, PII scrub, BM25,
quantiles, int8 quantization — behavioral tests on crafted inputs
(the workload oracle gives cross-engine equivalence; these pin semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
    search,
    text,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_repetition_stats_edges(spark):
    df = text.repetition_stats(
        _docs(spark, ["", "one", "spam spam spam spam", "a b c d"])
    )
    r = {row["doc_id"]: row for row in df.collect()}
    assert r[0]["n_tokens"] == 0 and r[0]["distinct_token_ratio"] is None
    assert r[1]["n_tokens"] == 1 and r[1]["dup_bigram_frac"] is None
    # all-same tokens: 1 distinct of 4, top token = 4/4, bigrams all dups
    assert r[2]["distinct_token_ratio"] == 0.25
    assert r[2]["top_token_frac"] == 1.0
    assert r[2]["dup_bigram_frac"] == pytest.approx(1 - 1 / 3)
    # all-distinct: no repetition signal
    assert r[3]["distinct_token_ratio"] == 1.0
    assert r[3]["top_token_frac"] == 0.25
    assert r[3]["dup_bigram_frac"] == 0.0


def test_scrub_pii_replaces_and_counts(spark):
    df = text.scrub_pii(
        _docs(
            spark,
            [
                "mail me at jane.doe+x@example.co.uk today",
                "see https://example.com/a?b=1 and http://t.co",
                "server 10.0.255.7 is up",
                "call +1-800-555-1234 now",
                "clean text with no pii",
            ],
        )
    )
    r = {row["doc_id"]: row for row in df.collect()}
    assert r[0]["n_email"] == 1 and "<EMAIL>" in r[0]["clean_text"]
    assert "jane" not in r[0]["clean_text"]
    assert r[1]["n_url"] == 2 and r[1]["clean_text"].count("<URL>") == 2
    assert r[2]["n_ipv4"] == 1 and "<IP>" in r[2]["clean_text"]
    assert r[3]["n_phone"] == 1 and "<PHONE>" in r[3]["clean_text"]
    assert r[4]["clean_text"] == "clean text with no pii"
    assert all(r[4][f"n_{n}"] == 0 for n, _, _ in text.SCRUB_PATTERNS)


def test_extended_language_id(spark):
    df = text.detect_language(
        _docs(
            spark,
            [
                "il governo non è per una cosa che sono con del",
                "o problema de que e do da em um para com",
                "de regering heeft het een van en dat niet je op zijn",
                "och att det som en på är av för med",
            ],
        )
    )
    assert [r["lang_pred"] for r in df.orderBy("doc_id").collect()] == [
        "it", "pt", "nl", "sv",
    ]


def test_bm25_ranks_heavier_tf_higher(spark):
    docs = _docs(
        spark,
        [
            "cat cat cat dog",          # heavy cat
            "cat dog bird fish",        # one cat
            "dog bird fish mouse",      # no cat
            "filler words only here",
        ],
    )
    qt = search.query_terms_df(spark, {0: ["cat"]})
    out = search.bm25_topk(docs, qt, k=10).orderBy("rank").collect()
    assert [r["doc_id"] for r in out] == [0, 1]  # doc 2 has no term -> absent
    assert out[0]["bm25"] > out[1]["bm25"]


def test_bm25_idf_downweights_common_terms(spark):
    docs = _docs(
        spark,
        ["rare common", "common x", "common y", "common z"],
    )
    qt = search.query_terms_df(spark, {0: ["rare", "common"]})
    out = {r["doc_id"]: r["bm25"] for r in search.bm25_topk(docs, qt).collect()}
    # doc 0 holds the rare term once and common once; its score must beat
    # any common-only doc by more than the common contribution alone
    assert out[0] > 2 * max(v for k, v in out.items() if k != 0)


def test_bm25_plan_has_no_joins_and_one_exchange(spark):
    docs = _docs(spark, ["a b c", "b c d"])
    qt = search.query_terms_df(spark, {0: ["b"]})
    plan = (
        search.bm25_topk(docs, qt)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # scoring is fully map-side over the checkpointed index: no join of
    # any kind; the ONLY exchange is the top-k merge, fed k-bounded
    # per-partition candidates by the Arrow partial top-k (r19 fusion —
    # the r18 shape paid a second exchange of full collect_list buffers)
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "MapInArrow" in plan


def test_grouped_topk_nan_ranks_first_like_desc_order(spark):
    """A NaN score (zero-norm vector cosine) must rank FIRST, matching
    Spark/DuckDB ORDER BY score DESC (NaN = greatest) — the negated-score
    sort key alone would sort it last."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )

    scored = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, float("nan")), ("q", 3, 0.5), ("q", 4, 1.5)],
        "query_id string, vec_id int, cosine double",
    )
    out = similarity.grouped_topk(scored, "query_id", "vec_id", 3)
    ranked = {r["rank"]: r["vec_id"] for r in out.collect()}
    assert ranked == {1: 2, 2: 4, 3: 1}


def test_grouped_topk_null_ranks_last_like_desc_order(spark):
    """A NULL score (e.g. null embedding) must rank LAST: Spark/DuckDB
    ORDER BY score DESC defaults to NULLS LAST, but the candidate struct's
    ascending sort is NULLS FIRST on __negscore — without the three-way
    leading key a NULL row would outrank every real score."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )

    scored = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, None), ("q", 3, float("nan")), ("q", 4, 1.5)],
        "query_id string, vec_id int, cosine double",
    )
    out = similarity.grouped_topk(scored, "query_id", "vec_id", 4)
    ranked = {r["rank"]: r["vec_id"] for r in out.collect()}
    # NaN first (DESC greatest), then real values desc, NULL dead last.
    assert ranked == {1: 3, 2: 4, 3: 1, 4: 2}
    # Non-float score column: NULL still ranks last.
    scored_int = spark.createDataFrame(
        [("q", 1, 7), ("q", 2, None), ("q", 3, 9)],
        "query_id string, vec_id int, cosine int",
    )
    out2 = similarity.grouped_topk(scored_int, "query_id", "vec_id", 3)
    ranked2 = {r["rank"]: r["vec_id"] for r in out2.collect()}
    assert ranked2 == {1: 3, 2: 1, 3: 2}


def test_grouped_topk_partition_partial_matches_global_order(spark):
    """r19 fusion guard: the Arrow per-partition partial top-k must
    select the same global winners as a single-partition run whatever
    the input partitioning — the k boundary falls differently inside
    each partition, so any selection-order divergence (ties, NaN, NULL,
    string ids, float32 scores) shows up as a different merged set."""
    import math

    from pyspark.sql import functions as F

    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )

    rows = []
    for q in ("qa", "qb", None):
        for i in range(40):
            # heavy score ties (only 5 distinct values) force the id
            # tiebreak at the k boundary in every partition
            rows.append((q, i, float(i % 5)))
        rows.append((q, 98, float("nan")))
        rows.append((q, 99, None))
    df1 = spark.createDataFrame(rows, "g string, id int, s double")

    def runs(df):
        out = similarity.grouped_topk(df, "g", "id", 7, score_col="s")
        key = lambda r: ((r["g"] is None, r["g"]), r["rank"])  # noqa: E731
        return [
            (r["g"], r["id"],
             "nan" if r["s"] is not None and math.isnan(r["s"]) else r["s"],
             r["rank"])
            for r in sorted(out.collect(), key=key)
        ]

    single = runs(df1.coalesce(1))
    for n in (3, 8, 17):
        assert runs(df1.repartition(n)) == single, f"diverged at {n} partitions"

    # float32 scores and string ids keep their exact types and values
    df2 = spark.createDataFrame(
        [("q", "a", 0.25), ("q", "b", 0.25), ("q", "c", 0.5)],
        "g string, id string, s double",
    ).withColumn("s", F.col("s").cast("float"))
    out2 = similarity.grouped_topk(df2.repartition(2), "g", "id", 2,
                                   score_col="s")
    assert dict(out2.select("rank", "id").collect()) == {1: "c", 2: "a"}
    assert dict(out2.dtypes)["s"] == "float"


def test_grouped_topk_selects_batch_by_batch(spark):
    """The partial top-k keeps at most groups × k candidates while it
    reads a partition batch by batch: the output with 7-row Arrow batches
    (so the k boundary moves across many batches, through ties, NaN,
    NULL and int scores) equals the output at the default batch size."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )

    rows = [
        (f"q{i % 3}", i, None if i % 11 == 0 else float("nan") if i % 13 == 0
         else float(i % 6))
        for i in range(200)
    ]
    floats = spark.createDataFrame(rows, "g string, id long, s double").coalesce(2)
    ints = spark.createDataFrame(
        [(g, i, None if s is None or s != s else int(s) * 7 - i % 2)
         for g, i, s in rows],
        "g string, id long, s int",
    ).coalesce(2)

    def runs():
        return [
            sorted(
                (r["g"], r["rank"], r["id"], repr(r["s"]))
                for r in similarity.grouped_topk(df, "g", "id", 9, "s").collect()
            )
            for df in (floats, ints)
        ]

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = runs()
    spark.conf.set(conf, "7")
    try:
        assert runs() == default
    finally:
        spark.conf.unset(conf)


def test_grouped_topk_refuses_a_decimal_score(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )

    scored = spark.createDataFrame(
        [("q", 1, 0.5), ("q", 2, 0.25)], "g string, id int, s double"
    )
    dec = scored.selectExpr("g", "id", "cast(s as decimal(10, 2)) as s")
    with pytest.raises(TypeError, match="decimal"):
        similarity.grouped_topk(dec, "g", "id", 1, score_col="s")


def test_int8_quantize_error_bound(spark):
    """Reconstruction error per lane is bounded by (scale/2)²."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (
        workload,
    )
    from tests.conftest import SF_DIR

    out = workload.QUERIES["emb_int8_quantize_error"](spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        bound = (r["scale"] / 2) ** 2 + 1e-12
        assert 0.0 <= r["mse"] <= bound


def test_exact_quantiles_match_python(spark):
    import numpy as np

    vals = [1.0, 2.0, 4.0, 8.0, 16.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(
        F.expr("percentile(x, array(0.5, 0.9, 0.99))").alias("q")
    ).collect()[0]["q"]
    want = np.quantile(np.array(vals), [0.5, 0.9, 0.99]).tolist()
    assert got == pytest.approx(want, abs=0.0)


def test_kmeans_pivots_deterministic_and_descending_sse(spark):
    """Two runs give identical centroids (decimal-exact means), and Lloyd
    iterations do not increase within-cluster SSE."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def centroids(iters, frac=None):
        c = similarity.kmeans_pivots(
            emb, iters=iters, modulus=37, sample_fraction=frac
        )
        return {
            r["pivot_id"]: tuple(r["pivot_vec"]) for r in c.collect()
        }

    assert centroids(2) == centroids(2)  # run-to-run determinism
    # sampled training is hash-gated, so it is just as deterministic —
    # and trains on a strict subset, so centroids differ from full-corpus.
    assert centroids(2, 0.25) == centroids(2, 0.25)
    # repartitioning must not change which rows train (xxhash64 gate is a
    # pure function of the id, unlike df.sample)
    emb_reparted = emb.repartition(7)
    c_rep = {
        r["pivot_id"]: tuple(r["pivot_vec"])
        for r in similarity.kmeans_pivots(
            emb_reparted, iters=2, modulus=37, sample_fraction=0.25
        ).collect()
    }
    assert c_rep == centroids(2, 0.25)

    def sse(pivots):
        assign = similarity.ivf_assign(emb, pivots, 1)
        joined = (
            emb.select("vec_id", F.col("embedding").alias("__v"))
            .join(assign, "vec_id")
            .join(pivots, "pivot_id")
        )
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators.similarity import (
            _l2sq,
        )

        return joined.agg(
            F.sum(_l2sq(F.col("__v"), F.col("pivot_vec"))).alias("s")
        ).first()["s"]

    s0 = sse(similarity.ivf_pivots(emb))
    s2 = sse(similarity.kmeans_pivots(emb, iters=2, modulus=37))
    assert s2 <= s0 + 1e-9


def test_ivf_kmeans_recall_vs_exact(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (
        workload,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        similarity,
    )
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload_llm import (
        _emb_queries,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, _emb_queries(emb), k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in workload.QUERIES["emb_ivf_kmeans_topk"](spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Registered settings: one Lloyd round on a 25% hash-gated training
    # sample, nprobe=12, on isotropic random embeddings —
    # measured 0.975 at both sf0.001 and sf0.01; the 0.80 floor is the
    # production recall target (VERDICT r4 #5) with margin, and still
    # fails on a real assignment/centroid bug.
    assert recall >= 0.80, recall

    # Geometry-independent exactness gate: trained pivots + full probe must
    # reproduce the exact top-k (recall == 1.0).
    pivots = similarity.kmeans_pivots(
        emb, iters=1, modulus=37, sample_fraction=0.25
    )
    npivots = pivots.count()
    full = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk(
            emb, _emb_queries(emb), k=10, nprobe=npivots, pivots=pivots
        ).collect()
    }
    assert len(exact & full) / len(exact) == 1.0


def test_approx_distinct_within_tolerance(spark, oracle_sf_dir):
    """Value-level anchor for the rows-only ``events_approx_distinct``
    driver lane — dual-SF (VERDICT r14 ask #5): the sketch's estimate is
    checked against the exact distinct carried in the same result at
    BOTH sf0.001 and sf0.01 in one suite run."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (
        workload,
    )

    rows = workload.QUERIES["events_approx_distinct"](
        spark, oracle_sf_dir
    ).collect()
    assert rows
    for r in rows:
        err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= 0.05, (r, err)


def test_chunk_documents_windows(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )

    df = _docs(spark, ["a b c d e", ""])
    out = curation.chunk_documents(df, size=3, stride=2)
    chunks = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_tokens"])
        for r in out.collect()
    }
    assert chunks[(0, 0)] == ("a b c", 3)
    assert chunks[(0, 1)] == ("c d e", 3)
    assert chunks[(0, 2)] == ("e", 1)
    assert (1, 0) in chunks  # empty doc still yields one chunk


def test_mixture_sample_deterministic_and_rate_bounds(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    keep_all = curation.mixture_sample(docs, {f"src{i}": 1.0 for i in range(20)})
    assert {r["doc_id"] for r in keep_all.select("doc_id").collect()} == all_ids
    none = curation.mixture_sample(docs, {})
    assert none.count() == 0
    half = curation.mixture_sample(docs, {f"src{i}": 0.5 for i in range(20)})
    a = {r["doc_id"] for r in half.select("doc_id").collect()}
    b = {r["doc_id"] for r in half.select("doc_id").collect()}
    assert a == b  # partition/run independence
    assert 0.2 < len(a) / len(all_ids) < 0.8


def test_assign_split_proportions(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = {
        r["split"]: r["n"]
        for r in curation.assign_split(docs)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert 0.6 < counts.get("train", 0) / total < 0.95
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_pack_tokens_straddles_budget_boundary(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )

    df = spark.createDataFrame(
        [(i, "s", 4) for i in range(4)], "doc_id long, source string, n_tokens int"
    )
    out = curation.pack_tokens(df, budget=10, group_col="source")
    packs = {r["doc_id"]: (r["pack_id"], r["pack_pos"]) for r in out.collect()}
    # starts at 0,4,8,12: first three open in pack 0 (doc 2 straddles), doc 3
    # starts past the budget and opens pack 1
    assert packs == {0: (0, 1), 1: (0, 2), 2: (0, 3), 3: (1, 1)}


def test_approx_quantiles_close_to_exact(spark, oracle_sf_dir):
    """Value-level anchor for the rows-only ``events_approx_quantiles``
    driver lane — dual-SF (VERDICT r14 ask #5)."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (
        workload,
    )

    rows = workload.QUERIES["events_approx_quantiles"](
        spark, oracle_sf_dir
    ).collect()
    assert rows
    # percentile_approx's contract is on *rank*, not value: the returned
    # element's rank must be within the accuracy bound of the target rank
    # (value distance can be large in a sparse tail at small n).
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.workload import (
        load_events,
    )

    ev = load_events(spark, oracle_sf_dir)
    for r in rows:
        vals = sorted(
            x["value"]
            for x in ev.filter(F.col("event_type") == r["event_type"])
            .select("value").collect()
        )
        n = len(vals)
        for p, target in (("p50", 0.5), ("p99", 0.99)):
            approx = r[f"{p}_approx"]
            rank = sum(1 for v in vals if v <= approx) / n
            assert target - 0.05 <= rank <= min(target + 0.05, 1.0), (r, rank)


def test_tokenize_udtf_lateral(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.functions import (
        udf as udfm,
    )

    udfm.register_tokenize_udtf(spark)
    rows = spark.sql(
        "SELECT t.token, t.pos, t.length FROM (SELECT 'ab cde f' AS s), "
        "LATERAL tokenize(s) t"
    ).collect()
    assert [(r["token"], r["pos"], r["length"]) for r in rows] == [
        ("ab", 0, 2), ("cde", 1, 3), ("f", 2, 1),
    ]


def test_temperature_mixture_upweights_rare_sources(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )

    rows = (
        [(i, "a") for i in range(400)]
        + [(1000 + i, "b") for i in range(100)]
        + [(2000 + i, "c") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.temperature_mixture(df, target_frac=0.5)
    rates = {
        r["source"]: r["rate"]
        for r in out.select("source", "rate").distinct().collect()
    }
    # τ=0.5 closed form: w_s = floor(sqrt(n_s)·2^20), target = 252,
    # rate_s = min(1, target·w_s / (W·n_s)) — rare sources upweighted,
    # the rarest capped at a full pass
    assert rates["c"] == 1.0
    assert rates["a"] < rates["b"] < rates["c"]
    assert rates["a"] == pytest.approx(252 * 20 / (32 * 400), rel=1e-9)
    assert rates["b"] == pytest.approx(252 * 10 / (32 * 100), rel=1e-9)
    # determinism: the keep decision is a pure function of the row
    again = curation.temperature_mixture(df, target_frac=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # global budget roughly honored (hash thresholds are Bernoulli-exact
    # in expectation; 504 docs → allow slack)
    n_kept = out.count()
    assert 0.35 * 504 < n_kept < 0.7 * 504


def test_rolling_anomaly_flags_planted_spike(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        temporal,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # steady 10.0..10.9 baseline, one 100.0 spike at i=15, steady after
    rows = [
        (i, t0 + dt.timedelta(minutes=i), "m",
         100.0 if i == 15 else 10.0 + (i % 10) / 10.0)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = temporal.rolling_anomaly(
        df, lookback=10, min_points=8, z=3
    ).collect()
    flagged = {r["event_id"] for r in got}
    assert 15 in flagged, "the planted spike must flag"
    # the row right AFTER the spike is judged against a window that now
    # contains the spike — steady values must not flag (spike inflates
    # variance, not just the mean)
    assert 16 not in flagged
    # nothing else flags
    assert flagged == {15}


def test_rolling_anomaly_plan_single_key_shuffle(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        temporal,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0, "m", 1.0) for i in range(4)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    plan = (
        temporal.rolling_anomaly(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one hash exchange on the key feeds both window frames; no joins
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_token_budget_epochs_caps_rare_sources(spark):
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        curation,
    )

    # head: 90k tokens; rare: 100 tokens.  Budget = corpus total.
    rows = [(i, "head", 900) for i in range(100)] + [(1000, "rare", 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["source"]: r
        for r in curation.token_budget_epochs(
            df, budget_tokens=90_100, max_epochs=4
        ).collect()
    }
    # sqrt weights: w_head ∝ 300, w_rare ∝ 10 → rare target ≈ 2907 tokens
    # over a 100-token source → 29 epochs uncapped → capped at 4
    assert got["rare"]["repetition_limited"] is True
    assert got["rare"]["effective_tokens"] == 400
    assert got["rare"]["epochs_milli"] > 4000
    assert got["head"]["repetition_limited"] is False
    assert got["head"]["epochs_milli"] < 1000  # head undershoots 1 epoch
    # exact integer replay of the head row
    import math
    w_h = math.floor(math.sqrt(90_000) * (1 << 20))
    w_r = math.floor(math.sqrt(100) * (1 << 20))
    tgt_h = (90_100 * w_h) // (w_h + w_r)
    assert got["head"]["target_tokens"] == tgt_h
