"""The benchmark of record.

    python3 perfbench/run.py --workload vector_index --seed 1 --seconds 30 --trace 0

Runs one workload as one process with a single closed-loop client (each
operation is issued after the previous one returns) against Spark at
``local[nproc]``, checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics derived from spans.  The line
before it is a detail record: host fingerprint, the workload's own named
metrics with tail percentiles and sample counts, and — for a traced run —
the tracing overhead against an untraced run of the same seed.  Both are
also written under ``.perfbench_work/results/``.  See ``METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK_ROOT, "results")
#: A run that is still going after this many seconds is abandoned.
WATCHDOG_S = 160

END_TO_END = [
    ("setup_s", "s"), ("build_s", "s"), ("read_op_s", "s"),
    ("write_op_s", "s"), ("ops_per_s", "1/s"), ("peak_rss_mb", "MB"),
]
WORKLOADS = ("vector_index", "warehouse")


class Watchdog(BaseException):
    """Not an ``Exception``: per-operation error handling must not absorb it."""


def _alarm(signum, _frame):
    why = "terminated" if signum == signal.SIGTERM else f"exceeded {WATCHDOG_S} s"
    raise Watchdog(f"run {why}")


def typical(by_kind: dict[str, list[float]]) -> float:
    """Median latency of each operation kind, then the geometric mean over
    kinds: every kind weighs the same however many of it the window held."""
    meds = [statistics.median(d) for d in by_kind.values() if d]
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def end_to_end(res: dict, rss: float) -> dict[str, float]:
    ops = [d for cls in ("read", "write") for ds in res[cls].values() for d in ds]
    return {
        "setup_s": res["setup_s"],
        "build_s": res["build_s"],
        "read_op_s": typical(res["read"]),
        "write_op_s": typical(res["write"]),
        "ops_per_s": len(ops) / sum(ops),
        "peak_rss_mb": rss,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import medallion_data_warehouse_on_azure_with_databricks_pyspark_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2

    from perfbench import common, trace

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    # every scratch file Spark, the JVM and Python create lands in the run dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    ctx = common.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), work=work, rec=trace.Recorder(run_id, bool(args.trace)),
    )
    # on the watchdog or a SIGTERM, stop Spark and its JVM before exiting
    signal.signal(signal.SIGALRM, _alarm)
    signal.signal(signal.SIGTERM, _alarm)
    signal.alarm(WATCHDOG_S)
    t_proc = time.perf_counter()
    try:
        if args.workload == "vector_index":
            from perfbench import vector_index as wl
        else:
            from perfbench import warehouse as wl
        res = wl.run(ctx)
        fp = common.fingerprint(ctx, wl.SCALE)
        layers = {}
        if ctx.traced:
            jm = trace.collect_job_metrics(ctx.spark.sparkContext, ctx.rec)
            layers = trace.layer_metrics(ctx.rec, jm)
            layers.update(res.get("storage", {}))
            ctx.rec.dump(os.path.join(RESULTS, f"{run_id}.spans.jsonl"))
    except Watchdog as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        common.stop_session(ctx)
        shutil.rmtree(work, ignore_errors=True)
    rss = common.peak_rss_mb()

    e2e = end_to_end(res, rss)
    detail = {
        "fingerprint": fp,
        "run_id": run_id,
        "wall_s": time.perf_counter() - t_proc,
        "end_to_end": e2e,
        "named": wl.named_metrics(ctx, res),
        "op_failure_ratio": ctx.failed / max(1, ctx.attempted),
        "tails": {cls: common.tail([d for ds in res[cls].values() for d in ds])
                  for cls in ("read", "write")},
        "setup_reps_s": ctx.extra.get("setup_reps_s"),
        "phases_s": {s.name: s.duration for s in ctx.rec.spans if s.parent is None},
        "failures": ctx.failures[:20],
    }
    if ctx.traced:
        detail["tracing_overhead"] = tracing_overhead(fp, e2e)
        metrics = {n: {"value": float(layers.get(n, 0)), "unit": u}
                   for n, u in trace.per_layer_names()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    with open(os.path.join(RESULTS, f"{run_id}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if ctx.failed == 0 else 1


def tracing_overhead(fp: dict, traced: dict) -> dict:
    """Traced minus untraced end-to-end numbers, against the newest untraced
    result of this checkout with the same fingerprint (same seed)."""
    best = None
    for name in os.listdir(RESULTS):
        if not name.endswith(".json") or "-t0-" not in name:
            continue
        with open(os.path.join(RESULTS, name)) as f:
            other = json.load(f)
        if other.get("fingerprint") == fp:
            mtime = os.path.getmtime(os.path.join(RESULTS, name))
            if best is None or mtime > best[0]:
                best = (mtime, other)
    if best is None:
        return {"note": "no untraced result with this fingerprint yet"}
    base = best[1]["end_to_end"]
    return {k: traced[k] - base[k] for k in traced}


if __name__ == "__main__":
    sys.exit(main())
