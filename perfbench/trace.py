"""Span recorder and per-layer metrics, measured from outside the engine.

A span is (name, layer, start, end, parent, run id).  Spans live in memory
and are written out when the run ends.  With tracing on, each span runs
under its own Spark job group; after the run every job is attributed to
the innermost span that launched it (by job group, or — for jobs Spark
runs on its own threads, such as a streaming query's micro-batches — by
the span whose interval holds the job's submission time), and stage
metrics are read from the JVM ``AppStatusStore``.  This works with
``spark.ui.enabled=false``.

With tracing off the recorder only times spans; no job group is set and
the status store is never read.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Layers are the engine modules whose public functions the benchmark calls.
LAYERS = [
    "session", "bronze", "silver", "pipeline", "facts", "gold_query", "dedup",
    "versioned.write", "versioned.read", "versioned.changes", "versioned.dml",
    "merge", "scd", "matview", "similarity.build", "similarity.probe",
    "similarity.append", "index_maintenance.delete",
]
BASE_METRICS = ["calls", "busy_s", "jobs", "executor_cpu_s", "driver_gap_s"]
SHUFFLE_LAYERS = ["similarity.build", "similarity.probe", "merge", "scd",
                  "pipeline", "facts", "gold_query", "dedup"]
SPILL_LAYERS = ["similarity.build", "facts", "gold_query"]
TASK_LAYERS = ["similarity.build", "similarity.probe", "gold_query"]
STORAGE_METRICS = [
    "versioned.log_tail_files_read", "versioned.data_bytes",
    "versioned.log_bytes", "versioned.files", "similarity.index_bytes",
    "expectations.rows_failed", "expectations.rows_quarantined",
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    units = {"calls": "count", "busy_s": "s", "jobs": "count",
             "executor_cpu_s": "s", "driver_gap_s": "s"}
    out = [(f"{lay}.{m}", units[m]) for lay in LAYERS for m in BASE_METRICS]
    out += [(f"{lay}.shuffle_read_bytes", "B") for lay in SHUFFLE_LAYERS]
    out += [(f"{lay}.shuffle_write_bytes", "B") for lay in SHUFFLE_LAYERS]
    out += [(f"{lay}.spill_bytes", "B") for lay in SPILL_LAYERS]
    out += [(f"{lay}.tasks", "count") for lay in TASK_LAYERS]
    out += [(m, "B" if m.endswith("bytes") else "count") for m in STORAGE_METRICS]
    return out


@dataclass
class Span:
    span_id: int
    name: str
    layer: str | None
    start: float            # wall clock, seconds since the epoch
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Bind the SparkContext whose jobs spans should be tagged with."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, layer, 0.0, parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}:{sp.span_id}"
        if self.traced and self._sc is not None:
            self._sc.setJobGroup(group, f"{layer or '-'}:{name}")
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            self._stack.pop()
            if self.traced and self._sc is not None:
                outer = self._stack[-1] if self._stack else None
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self._sc.setJobGroup(
                        f"{self.run_id}:{outer.span_id}", f"{outer.layer or '-'}:{outer.name}"
                    )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_job_metrics(sc, rec: Recorder) -> dict[int, dict]:
    """Read every job the run launched from the status store and attribute
    it to a span.  Returns span_id → summed metrics of its own jobs."""
    from py4j.protocol import Py4JError, Py4JJavaError

    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(30_000)
    except Py4JError as exc:
        print(f"perfbench: listener bus not drained, metrics may lag: {exc}",
              file=sys.stderr)
    store = jsc.statusStore()
    by_group = {f"{rec.run_id}:{s.span_id}": s for s in rec.spans}
    leaves = sorted(
        (s for s in rec.spans if s.layer is not None), key=lambda s: s.start
    )
    jobs = store.jobsList(None)
    out: dict[int, dict] = {}
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        grp = jd.jobGroup()
        grp = grp.get() if grp.isDefined() else None
        sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        span = by_group.get(grp)
        if span is None and sub is not None:
            span = next((s for s in leaves if s.start <= sub <= s.end), None)
        if span is None:
            continue
        span.jobs.append(int(jd.jobId()))
        m = out.setdefault(span.span_id, {
            "jobs": 0, "tasks": 0, "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "intervals": [],
        })
        m["jobs"] += 1
        if sub is not None:
            m["intervals"].append((sub, done if done is not None else sub))
        stage_ids = jd.stageIds()
        for k in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(int(stage_ids.apply(k)))
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            m["tasks"] += int(st.numCompleteTasks())
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            m["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            m["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(rec: Recorder) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in rec.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - _union_length(kids.get(s.span_id, []))
            for s in rec.spans}


def layer_metrics(rec: Recorder, job_metrics: dict[int, dict]) -> dict[str, float]:
    """Roll span and job metrics up to ``<layer>.<metric>``."""
    selft = self_times(rec)
    agg = {lay: {"calls": 0, "busy_s": 0.0, "jobs": 0, "executor_cpu_s": 0.0,
                 "driver_gap_s": 0.0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
           for lay in LAYERS}
    for s in rec.spans:
        if s.layer is None:
            continue
        a = agg[s.layer]
        m = job_metrics.get(s.span_id)
        a["calls"] += 1
        a["busy_s"] += selft[s.span_id]
        job_time = 0.0
        if m:
            for k in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "executor_cpu_s"):
                a[k] += m[k]
            clipped = [(max(b, s.start), min(e, s.end)) for b, e in m["intervals"]]
            job_time = _union_length([(b, e) for b, e in clipped if e > b])
        a["driver_gap_s"] += max(0.0, s.duration - job_time)
    return {f"{lay}.{k}": v for lay, d in agg.items() for k, v in d.items()}
