"""Spans around the benchmark's calls into each library layer.

A span records name, start, end, parent and request id.  Each span runs
under its own Spark job group; when it ends, the jobs of that group are
read from the status store (readable with the UI off): jobs, stages,
tasks, executor CPU and run time, shuffle and I/O bytes, executor GC.
Spans stay in memory and are written once, when the run ends.

With tracing off, ``span`` yields at once and records nothing, so the
untraced run pays nothing for it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("exec_cpu_s", "executorCpuTime", 1e-9),
    ("exec_run_s", "executorRunTime", 1e-3),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_bytes", "shuffleReadBytes", 1),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    ("rows_read", "inputRecords", 1),
    ("bytes_read", "inputBytes", 1),
    ("bytes_written", "outputBytes", 1),
)
COUNTERS = ("jobs", "stages", "job_ms") + tuple(
    dict.fromkeys(name for name, _, _ in _STAGE_FIELDS)
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._next_id = 0
        self._seen_stages: set[int] = set()
        self.phase = ""

    def current(self) -> dict | None:
        """The innermost open span, or None when tracing is off."""
        return self._stack[-1] if self.enabled and self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else self._next_id,
            "group": f"perfbench-{self._next_id}",
            "phase": self.phase,
            **attrs,
        }
        self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc._jsc.clearJobGroup()
            rec.update(self._group_counts(rec["group"]))
            self.spans.append(rec)

    def _group_counts(self, group: str) -> dict:
        """Jobs and stage metrics of one job group.  A stage shared by
        several jobs (a reused shuffle) counts once, in the first span
        that ran it."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never attempted
                if stage.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                for name, getter, scale in _STAGE_FIELDS:
                    out[name] += getattr(stage, getter)() * scale
        return out

    def write(self, path: str, t_origin: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s["start"] - t_origin, 6)
                row["end"] = round(s["end"] - t_origin, 6)
                f.write(json.dumps(row) + "\n")
