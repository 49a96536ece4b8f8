"""Spans around the benchmark's calls into each engine layer.

A span has a name (the engine module it calls into), start, end, parent
and run id; spans are kept in memory and written out when the run ends.
When tracing is on, each span runs its Spark jobs under a job group of
its own, and :meth:`Tracer.stage_metrics` sums the stages of that group
from the status store (this works with the Spark UI disabled). A
streaming query runs its jobs under its run id as the job group, so the
same lookup covers a ``streaming_correlations`` invocation.

Self time of a span is its duration minus the part of it its child spans
cover.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_records": ("outputRecords", 1),
    "tasks": ("numTasks", 1),
}


class Tracer:
    def __init__(self, spark=None, enabled: bool = True) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.run_id = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"id": next(self._ids), "name": name, "run": self.run_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              **attrs}
        sp["group"] = f"perfbench-{sp['id']}"
        self._set_group(sp["group"])
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)
            self.spans.append(sp)

    @contextmanager
    def run(self, run_id: str, name: str = "run", **attrs):
        prev, self.run_id = self.run_id, run_id
        try:
            with self.span(name, **attrs) as sp:
                yield sp
        finally:
            self.run_id = prev

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def stage_metrics(self, group: str) -> dict:
        """Summed metrics of every stage the group's jobs ran."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {k: 0 for k in _STAGE_FIELDS}
        out["jobs"] = 0
        seen = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:   # skipped stage: never ran
                    continue
                for k, (getter, scale) in _STAGE_FIELDS.items():
                    out[k] += getattr(sd, getter)() * scale
        return out

    def self_times(self, run_id: str) -> dict[str, float]:
        """Self seconds per span name within one run."""
        spans = [s for s in self.spans if s["run"] == run_id]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
