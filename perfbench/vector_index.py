"""Workload ``vector_index``: one IVF-PQ index lifecycle.

Set-up writes a seeded clustered corpus and query pool.  The run builds the
index fresh (``similarity.build_ivfpq_index``), then streams probe batches
through ``similarity.ivfpq_topk_against_index`` for ``--seconds``; half way
through that window it applies an index update — a seeded
``append_to_ivfpq_index`` batch followed by ``index_maintenance.
delete_from_index`` tombstones.  One probe and one update run untimed
before the window, so it measures warm code.  Every probe result is checked against a
numpy brute-force cosine top-k over the vectors live at that moment.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from . import common, gen

K = 10
PROBE_BATCH = 16
#: Index shape: 2048 vectors / modulus 64 → 32 inverted lists; the probe
#: reads 12 of them.  Build and probe otherwise run at the engine defaults.
BUILD_KW = {"modulus": 64, "n_subspaces": 8}
PROBE_KW = {"k": K, "nprobe": 12, "shortlist": 100}
#: Recall the engine reaches at these settings is ~0.9; below this floor a
#: probe counts as failed.
MIN_RECALL = 0.75
SCALE = f"vectors {gen.VEC_N}x{gen.VEC_DIM}"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def run(ctx: common.Context) -> dict:
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
        index_maintenance,
        similarity,
    )

    qid0 = gen.QUERY_ID_BASE

    def prepare(spark, rep_dir):
        inp = gen.vector_inputs(ctx.seed)
        paths = gen.write_vector_inputs(inp, rep_dir)
        frames = {k: spark.read.parquet(p) for k, p in paths.items()}
        n = frames["corpus"].count()
        if n != gen.VEC_N:
            raise RuntimeError(f"corpus load read {n} rows")
        return inp, frames

    (inp, frames), setup_s = common.repeated_setup(ctx, 3, prepare)

    idx = ctx.path("index")
    shutil.rmtree(idx, ignore_errors=True)

    live = {i: inp.corpus[i] for i in range(gen.VEC_N)}
    recalls: list[float] = []
    queries = frames["queries"]

    built = ctx.op(
        "build", "build_ivfpq_index", "similarity.build",
        lambda: similarity.build_ivfpq_index(frames["corpus"], idx, **BUILD_KW),
    )
    if built is None:
        raise RuntimeError("index build failed; nothing to probe")

    def probe(b: int, kind: str = "probe") -> None:
        lo = (b * PROBE_BATCH) % gen.VEC_QUERY_POOL
        batch = queries.filter(
            (queries.query_id >= qid0 + lo) & (queries.query_id < qid0 + lo + PROBE_BATCH)
        )
        rows = ctx.op(
            kind, "ivfpq_topk_against_index", "similarity.probe",
            lambda: similarity.ivfpq_topk_against_index(batch, idx, **PROBE_KW).collect(),
        )
        if rows is not None:
            check_probe(rows, lo)

    def check_probe(rows, lo: int) -> None:
        ids = np.fromiter(live.keys(), dtype=np.int64)
        mat = np.stack([live[i] for i in ids])
        got: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            got.setdefault(r["query_id"] - qid0, []).append((r["rank"], r["vec_id"]))
        ctx.check(sorted(got) == list(range(lo, lo + PROBE_BATCH)),
                  f"probe returned queries {sorted(got)[:3]}..., not batch at {lo}")
        hits = 0
        for q, res in got.items():
            ranks = sorted(r for r, _ in res)
            ctx.check(ranks == list(range(1, K + 1)), f"query {q}: ranks {ranks}")
            found = {v for _, v in res}
            ctx.check(found <= live.keys(), f"query {q}: returned a deleted or unknown id")
            truth = ids[np.argsort(-(mat @ inp.queries[q]), kind="stable")[:K]]
            hits += len(found & set(truth.tolist()))
        recall = hits / (K * max(1, len(got)))
        recalls.append(recall)
        ctx.check(recall >= MIN_RECALL, f"recall@{K} {recall:.3f} < {MIN_RECALL}")

    def update(u: int, kind: str = "update") -> None:
        # one user-visible update = append then delete; spans cover each call
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.rec.span("append_to_ivfpq_index", "similarity.append"):
                similarity.append_to_ivfpq_index(frames[f"append{u}"], idx)
            with ctx.rec.span("delete_from_index", "index_maintenance.delete"):
                index_maintenance.delete_from_index(frames[f"delete{u}"], idx)
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            ctx.fail(f"index update {u}: {type(exc).__name__}: {exc}")
            return
        ctx.ops.setdefault(kind, []).append(time.perf_counter() - t0)
        for i, v in zip(gen.append_ids(u), inp.appends[u]):
            live[int(i)] = v
        for i in inp.deletes[u]:
            live.pop(int(i), None)

    # The first probe and the first update after a build run code paths
    # the JVM has not compiled yet.  One of each runs before the window —
    # checked like any other, kept out of the latency figures — so the
    # window measures the steady state a long-lived session sees.
    with ctx.rec.span("warmup"):
        probe(0, "warmup")
        update(0, "warmup")

    # Probes fill the window; the timed index updates sit at evenly spaced
    # marks, each after at least one probe, and a probe follows the last.
    timed = list(range(1, gen.VEC_UPDATES))
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    marks = [t_start + ctx.seconds * (k + 1) / (len(timed) + 1) for k in range(len(timed))]
    b, done, since_update = 1, 0, 0
    with ctx.rec.span("window"):
        while True:
            now = time.perf_counter()
            if done < len(timed) and now >= marks[done] and since_update:
                update(timed[done])
                done += 1
                since_update = 0
                continue
            if now >= deadline and done == len(timed) and since_update:
                break
            probe(b)
            b += 1
            since_update += 1

    ctx.extra["recall_at_10"] = statistics.mean(recalls) if recalls else 0.0
    ctx.extra["index_bytes"] = _dir_bytes(idx)
    return {
        "setup_s": setup_s,
        "build_s": ctx.ops["build"][0],
        "read": {"probe": ctx.ops.get("probe", [])},
        "write": {"update": ctx.ops.get("update", [])},
        "storage": {"similarity.index_bytes": ctx.extra["index_bytes"]},
    }


def named_metrics(ctx: common.Context, res: dict) -> dict:
    """The workload's metrics under the names the layer map uses."""
    return {
        "index_build_s": res["build_s"],
        "probe_p50_s": statistics.median(res["read"]["probe"]),
        "probe_tail_s": common.tail(res["read"]["probe"]),
        "index_append_s": statistics.median(res["write"]["update"]),
        "recall_at_10": ctx.extra["recall_at_10"],
        "index_bytes": ctx.extra["index_bytes"],
    }
