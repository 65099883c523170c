"""Spans around the calls into each engine layer, with Spark job counts.

The tracer lives entirely in the benchmark: it records a span around
each benchmark call into a layer, and around the engine's own calls
into another layer's public function by swapping that module
attribute for a wrapper (the engine resolves those names at call time).
Nothing inside ``pulsar_spark`` changes.

Each span runs its Spark jobs under its own job-group id, so the jobs,
tasks and failed tasks a span launched are read back from Spark's
status tracker after the operation, and a span's counts never mix with
another span of the same name. Jobs land in the innermost open span.

Lazy engine functions (ones that return an unevaluated DataFrame) only
build a plan; their span holds that driver time, and the work lands in
the span of whichever action later runs it. The tracer never forces an
action.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._unharvested: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block when tracing is active. One
        client drives the engine, so a single stack serves both the main
        thread and the streaming callback thread (the main thread waits
        while a callback runs)."""
        if not self.active:
            yield None
            return
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "group": f"logbench-{os.getpid()}-{self._next_id}",
            "extra_groups": [],
        }
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            self.spans.append(rec)
            self._unharvested.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Record ``name`` around every call of ``module.attr``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def harvest(self) -> None:
        """Attach job, task and failed-task counts to the spans closed
        since the last harvest. Call outside any timed region: it first
        waits for Spark's listener bus to deliver the jobs' events."""
        if not self._unharvested:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self._unharvested:
            jobs = tasks = failed = 0
            for group in [rec["group"], *rec["extra_groups"]]:
                for job_id in tracker.getJobIdsForGroup(group):
                    jobs += 1
                    job = tracker.getJobInfo(job_id)
                    for stage_id in job.stageIds if job else []:
                        stage = tracker.getStageInfo(stage_id)
                        if stage is not None:
                            tasks += stage.numCompletedTasks + stage.numFailedTasks
                            failed += stage.numFailedTasks
            rec.update(jobs=jobs, tasks=tasks, failed_tasks=failed)
        self._unharvested.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        child = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child.get(r["id"], 0.0) for r in self.spans}

    def dump(self, path: str, t0: float) -> None:
        """Write the spans as JSON lines, times in seconds from ``t0``."""
        selfs = self.self_times()
        with open(path, "w") as fh:
            for r in self.spans:
                fh.write(json.dumps({
                    "name": r["name"], "start": r["start"] - t0, "end": r["end"] - t0,
                    "self": selfs[r["id"]], "id": r["id"], "parent": r["parent"],
                    "op": r["op"], "jobs": r.get("jobs"), "tasks": r.get("tasks"),
                    "failed_tasks": r.get("failed_tasks"),
                }) + "\n")
