"""Spans around calls into the program, with Spark stage metrics per span.

A span records its name, parent, start and end on the driver clock and,
when it closes, the Spark jobs and stages that ran inside it. Spark numbers
jobs and stages in the order it submits them, so a span owns the ids
between the scheduler's counters at its start and at its end (the
benchmark drives one operation at a time, so nothing else runs inside a
span's window); job groups are not enough on their own, because the
production extraction job submits its day jobs from a thread pool whose
threads do not inherit the caller's job group. Spans stay in memory;
``Tracer.dump`` writes them once, at the end of a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class StageReader:
    """Reads per-stage executor metrics from the live status store
    (works with the UI disabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._dag = sc._jsc.sc().dagScheduler()
        self._bus = sc._jsc.sc().listenerBus()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def _doubles(self, values):
        arr = self._gw.new_array(self._jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = float(v)
        return arr

    def watermark(self) -> tuple:
        """(next job id, next stage id)."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def stage_metrics(self, first_stage: int, end_stage: int) -> dict:
        """Sum the metrics of the completed stage attempts with ids in
        [first_stage, end_stage); task-time quantiles come from the stage
        with the most executor run time."""
        self._bus.waitUntilEmpty()  # the status store is fed asynchronously
        out = {
            "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_records": 0,
            "task_p50_s": 0.0, "task_max_s": 0.0,
        }
        empty, no_quantiles = self._jvm.java.util.ArrayList(), self._doubles([])
        heaviest = None
        for sid in range(first_stage, end_stage):
            attempts = self._store.stageData(sid, False, empty, False, no_quantiles)
            for s in (attempts.apply(i) for i in range(attempts.size())):
                if s.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["run_s"] += s.executorRunTime() / 1e3
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
                out["input_records"] += s.inputRecords()
                if heaviest is None or s.executorRunTime() > heaviest[2]:
                    heaviest = (sid, s.attemptId(), s.executorRunTime())
        if heaviest is not None:
            summary = self._store.taskSummary(heaviest[0], heaviest[1], self._doubles([0.5, 1.0]))
            if summary.isDefined():
                run = summary.get().executorRunTime()
                out["task_p50_s"] = run.apply(0) / 1e3
                out["task_max_s"] = run.apply(1) / 1e3
        return out


class Tracer:
    """In-memory spans of a traced run."""

    def __init__(self, spark):
        self.spans: list = []
        self._stack: list = []
        self._reader = StageReader(spark)

    @contextmanager
    def span(self, name: str):
        record = {"name": name, "parent": self._stack[-1] if self._stack else None}
        reader = self._reader
        jobs0, stages0 = reader.watermark()
        reader._sc.setJobGroup(name, name)
        self._stack.append(name)
        record["start"] = time.perf_counter()
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()
            reader._sc.setJobGroup(self._stack[-1] if self._stack else "perfbench", "")
            jobs1, stages1 = reader.watermark()
            record["jobs"] = jobs1 - jobs0
            record.update(reader.stage_metrics(stages0, stages1))
            record["wall_s"] = record["end"] - record["start"]
            self.spans.append(record)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
