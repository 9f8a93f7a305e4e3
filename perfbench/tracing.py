"""Spans and Spark status-store counters for the traced benchmark run.

Every operation gets a span; its children are ``construct`` and
``materialize``, and each of those has one child span per Spark job, with
start and end read from Spark's own status store.  All spans of one
operation share its trace id.  Spans stay in memory until the run writes
them out.

Counters come from two stores reached over py4j, scoped to one operation
phase by its job group (``sc.setJobGroup`` plus
``statusTracker().getJobIdsForGroup``) and by the SQL executions it started,
so a read never scans the whole application:

- ``AppStatusStore`` stage data: tasks, executor run/CPU/deserialize/GC
  time, shuffle bytes and fetch wait, spill, input bytes;
- ``SQLAppStatusStore`` metrics of scan nodes (files and rows read,
  metadata time) and of Python-evaluation nodes (worker start, init and
  run time, bytes sent and returned).
"""

from __future__ import annotations

import itertools
import re
import time
from collections import Counter
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: SQL metric name -> counter key, for Python-evaluation nodes.
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}
#: SQL metric name -> counter key, for scan nodes.
SCAN_METRICS = {
    "size of files read": "scan_bytes",
    "number of output rows": "scan_rows",
    "metadata time": "scan_metadata_ms",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``6,000``, ``2.7 KiB``, ``126 ms``
    or the per-task form ``total (min, med, max ...)\\n8.0 s (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME_MS.get(unit, 1.0)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class StatusReader:
    """Reads the counters of one job group from the status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def executions(self) -> int:
        return int(self.sql.executionsCount())

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_spans(self, job_ids: list[int]) -> list[tuple[int, float, float, list[int]]]:
        out = []
        for jid in job_ids:
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            end = done.get().getTime() / 1e3 if done.isDefined() else start
            out.append((jid, start, end, [int(s) for s in _seq(job.stageIds())]))
        return out

    def stage_counters(self, stage_ids) -> Counter:
        c: Counter = Counter()
        for sid in sorted(set(stage_ids)):
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # py4j error: a skipped stage has no attempt
                continue
            if str(s.status().toString()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["run_ms"] += s.executorRunTime()
            c["cpu_ns"] += s.executorCpuTime()
            c["deserialize_ms"] += s.executorDeserializeTime()
            c["gc_ms"] += s.jvmGcTime()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.inputBytes() > 0 and s.numTasks() == 1 and self.cores > 1:
                c["single_task_scan_stages"] += 1
        return c

    def sql_counters(self, first: int, last: int) -> Counter:
        c: Counter = Counter()
        if last <= first:
            return c
        for ex in _seq(self.sql.executionsList(first, last - first)):
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                scan = str(node.name()).startswith("Scan ")
                for m in _seq(node.metrics()):
                    name = str(m.name())
                    key = PY_METRICS.get(name) or (SCAN_METRICS.get(name) if scan else None)
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        c[key] += parse_metric(str(v.get()))
        return c


class Tracer:
    """Span recorder; ``enabled=False`` makes every call a no-op so the
    untraced passes run the exact same code path."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.reader = StatusReader(spark) if enabled else None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def span(self, trace_id: int, name: str, start: float, end: float, parent=None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({
            "trace_id": trace_id, "span_id": sid, "parent_id": parent,
            "name": name, "start": start, "end": end, **attrs,
        })
        return sid

    @contextmanager
    def phase(self, trace_id: int, name: str, out: dict):
        """Run one operation phase under its own job group; afterwards put
        its wall time in ``out[name + '_s']`` and, when tracing, its
        counters and job spans in ``out[name]``."""
        sc = self.reader.sc if self.enabled else None
        group = f"op{trace_id}.{name}"
        if sc is not None:
            sc.setJobGroup(group, group)
            first_exec = self.reader.executions()
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield
        finally:
            out[f"{name}_s"] = time.perf_counter() - p0
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                jobs = self.reader.job_spans(self.reader.jobs(group))
                c = self.reader.stage_counters(s for j in jobs for s in j[3])
                c.update(self.reader.sql_counters(first_exec, self.reader.executions()))
                c["jobs"] = len(jobs)
                c["wall_ms"] = (t1 - t0) * 1e3
                out[name] = c
                out.setdefault("_spans", []).append((name, t0, t1, jobs))

    def record_op(self, trace_id: int, op_name: str, rec: dict) -> None:
        """Turn the phases recorded in ``rec`` into operation -> phase ->
        Spark-job spans."""
        phases = rec.pop("_spans", [])
        if not self.enabled or not phases:
            return
        root = self.span(trace_id, op_name, phases[0][1], phases[-1][2], pass_no=rec["pass"])
        for name, t0, t1, jobs in phases:
            pid = self.span(trace_id, name, t0, t1, parent=root)
            for jid, s0, s1, stages in jobs:
                self.span(trace_id, f"job {jid}", s0, s1, parent=pid, stages=stages)
