"""Plumbing shared by the workloads: the Spark session, repeated set-up,
latency statistics, the host fingerprint and the result record."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import trace


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Context:
    """One benchmark run: its arguments, scratch directory, recorder and the
    op tallies every workload fills in."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    work: str                       # fresh per run, removed at the end
    rec: trace.Recorder
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    ops: dict[str, list[float]] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, name: str, layer: str, fn):
        """Run one closed-loop operation under a span; record its latency
        under ``kind``.  A raised error counts as a failed operation."""
        self.attempted += 1
        try:
            with self.rec.span(name, layer) as sp:
                out = fn()
        except Exception as exc:  # noqa: BLE001 — one bad op must not end the run
            self.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None
        self.ops.setdefault(kind, []).append(sp.duration)
        return out

    def check(self, ok: bool, what: str) -> None:
        """An output check; a failed one counts against ``op_failure_ratio``."""
        if not ok:
            self.fail(f"check failed: {what}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg[:400])


SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
}
#: A traced run keeps every job's stage metrics for the per-layer roll-up.
TRACED_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def start_session(ctx: Context):
    """The engine's own session builder at ``local[nproc]``; every scratch
    path Spark and the JVM use points into the run directory."""
    from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import session

    conf = {**SPARK_CONF, **(TRACED_CONF if ctx.traced else {})}
    conf["spark.sql.warehouse.dir"] = ctx.path("spark-warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData"
    )
    with ctx.rec.span("get_spark", "session"):
        spark = session.get_spark(
            app_name=f"perfbench-{ctx.workload}", master=f"local[{nproc()}]",
            extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.rec.attach(spark.sparkContext)
    return spark


def repeated_setup(ctx: Context, reps: int, prepare) -> tuple[object, float]:
    """Run the set-up ``reps`` times — a fresh SparkContext plus
    ``prepare(spark, rep_dir)`` each time — and keep the last.  Returns
    (what the last ``prepare`` returned, median set-up seconds).  The first
    repetition also launches the JVM; that time is reported separately."""
    times, out = [], None
    for rep in range(reps):
        if ctx.spark is not None:
            ctx.rec.attach(None)
            ctx.spark.stop()
            ctx.spark = None
        t0 = time.perf_counter()
        with ctx.rec.span(f"setup{rep}"):
            ctx.spark = start_session(ctx)
            rep_dir = ctx.path(f"setup{rep}")
            out = prepare(ctx.spark, rep_dir)
        times.append(time.perf_counter() - t0)
        if rep < reps - 1:
            shutil.rmtree(ctx.path(f"setup{rep}"), ignore_errors=True)
    ctx.extra["setup_reps_s"] = times
    return out, statistics.median(times[1:] if reps > 1 else times)


def stop_session(ctx: Context) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — TimeoutExpired: force it
                proc.kill()
                proc.wait()


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the largest exited child (the JVM,
    once :func:`stop_session` has waited for it)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) / 1024.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = (len(v) - 1) * p / 100.0
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (p50 at
    the least), with the percentile used and the sample count."""
    n = len(values)
    p = max(50.0, math.floor(100.0 * (n - 10) / n)) if n else 50.0
    return {"value": percentile(values, p) if values else float("nan"),
            "percentile": p, "samples": n}


def fingerprint(ctx: Context, sf: str) -> dict:
    import pyspark

    sc = ctx.spark.sparkContext if ctx.spark is not None else None
    return {
        "default_parallelism": sc.defaultParallelism if sc else None,
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "sf": sf,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "workload": ctx.workload,
    }
