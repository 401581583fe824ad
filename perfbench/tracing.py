"""Spans around the benchmark's calls into each layer, plus the Spark
stage and plan-node metrics of the jobs each span ran.

A span sets a Spark job group; a job belongs to the innermost span open
when it was submitted, so lazy work is charged to the eager call that
ran it. Spans live in memory; ``harvest`` reads the jobs of every group
back from the status store (works with ``spark.ui.enabled=false``) once
the timed phase is over, so reading metrics costs the timed phase
nothing but the job-group calls themselves.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

STAGE_LAYERS = (
    "market_views", "txn_sink", "etl_job",
    "curation_stream", "incremental_dedup", "ann_index",
)
STAGE_METRICS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s", "tasks",
    "task_skew", "shuffle_bytes", "spill_bytes", "python_worker_s",
)


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "group", "counts")

    def __init__(self, sid, name, layer, parent, group):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.group = group
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, layer, parent.id if parent else None,
                 f"{self.run_id}-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # ------------------------------------------------------------ harvest

    def harvest(self) -> dict[int, dict]:
        """Per span: its own jobs' stage totals and plan-node metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        exec_of_job = _executions_by_job(self.spark)
        span_of_job = {
            int(j): s.id for s in self.spans for j in tracker.getJobIdsForGroup(s.group)
        }
        out = {s.id: dict.fromkeys((*STAGE_METRICS, "jobs", "scan_rows", "scan_files"), 0.0)
               for s in self.spans}
        skews: dict[int, list[float]] = {s.id: [] for s in self.spans}
        execs: dict[int, set[int]] = {s.id: set() for s in self.spans}
        seen_stages: set[int] = set()
        # in job order, so a reused shuffle stage is charged to the job that ran it
        for jid in sorted(span_of_job):
            sid = span_of_job[jid]
            out[sid]["jobs"] += 1
            if jid in exec_of_job:
                execs[sid].add(exec_of_job[jid])
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage = int(it.next())
                if stage not in seen_stages:
                    seen_stages.add(stage)
                    _add_stage(store, stage, out[sid], skews[sid])
        for sid, acc in out.items():
            acc["task_skew"] = statistics.mean(skews[sid]) if skews[sid] else 0.0
            for e in execs[sid]:
                _add_plan_metrics(self.spark, e, acc)
        return out

    def write(self, path: str, wall: tuple[float, float], extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "run_id": self.run_id,
                "timed_phase": {"start": wall[0], "end": wall[1]},
                "spans": [
                    {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                     "start": s.start, "end": s.end, "run_id": self.run_id,
                     "counts": s.counts}
                    for s in self.spans
                ],
                **extra,
            }, f, indent=1)


def _executions_by_job(spark) -> dict[int, int]:
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {}
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        jit = e.jobs().keys().iterator()
        while jit.hasNext():
            out[int(jit.next())] = int(e.executionId())
    return out


def _add_stage(store, stage: int, acc: dict, skews: list) -> None:
    s = store.lastStageAttempt(stage)
    acc["executor_run_s"] += s.executorRunTime() / 1e3
    acc["executor_cpu_s"] += s.executorCpuTime() / 1e9
    acc["gc_s"] += s.jvmGcTime() / 1e3
    acc["tasks"] += s.numCompleteTasks()
    acc["shuffle_bytes"] += s.shuffleWriteBytes()
    acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    if s.numCompleteTasks() == 0:
        return
    tasks = store.taskList(stage, s.attemptId(), 1 << 30).iterator()
    runs = []
    while tasks.hasNext():
        t = tasks.next()
        acc["scheduler_delay_s"] += t.schedulerDelay() / 1e3
        m = t.taskMetrics()
        if m.isDefined():
            runs.append(m.get().executorRunTime())
    if len(runs) >= 2:
        med = statistics.median(runs)
        skews.append(max(runs) / med if med > 0 else 1.0)


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('100,000', 'total (min, med, max ...)\\n3.6 s
    (...)') as a number in seconds, bytes or units."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _add_plan_metrics(spark, execution: int, acc: dict) -> None:
    sql = spark._jsparkSession.sharedState().statusStore()
    values = {}
    it = sql.executionMetrics(execution).iterator()
    while it.hasNext():
        kv = it.next()
        values[int(kv._1())] = kv._2()
    nodes = sql.planGraph(execution).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        name = node.name()
        mets = node.metrics()
        for k in range(mets.size()):
            met = mets.apply(k)
            v = values.get(int(met.accumulatorId()))
            if v is None:
                continue
            val = parse_metric(v)
            label = met.name()
            if label == "time to run Python workers":
                acc["python_worker_s"] += val
                if "payload" in node.desc() or "price_change_pct_24h" in node.desc():
                    acc["rest_python_worker_s"] = acc.get("rest_python_worker_s", 0.0) + val
            elif name.startswith("Scan") and label == "number of output rows":
                acc["scan_rows"] += val
            elif name.startswith("Scan") and label == "number of files read":
                acc["scan_files"] += val


def union_seconds(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.seconds - union_seconds(kids.get(s.id, [])) for s in spans}
