"""In-memory spans around the benchmark's calls into the engine, plus the
Spark status counters of the jobs each span fired.

A traced span sets its own Spark job group (``setJobGroup``) for the calls
it wraps; after the operation ends — outside the timed region — ``collect``
drains the listener bus and reads, per span, the group's jobs
(``statusTracker``) and the completed stages' task, shuffle, spill,
executor-time and GC counters (``statusStore().lastStageAttempt``).
Spans are written out once, when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: counters read for each traced span
COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "run_ms", "cpu_ns",
            "gc_ms", "map_run_ms", "result_run_ms")


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    def collect(self) -> None:
        pass


class Tracer:
    """Records spans ``{id, name, parent, op, start, end, counts}``. A span
    inherits the operation id of its parent; ``start``/``end`` are seconds
    on ``time.perf_counter``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._uncollected: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op")}
        self.spans.append(rec)
        self._sc.setJobGroup(f"perfbench-{rec['id']}", name)
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._uncollected.append(rec)
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent['id']}",
                                     parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed before the tracer existed (session set-up)."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": None, "op": None, "start": start,
                           "end": end})

    def collect(self) -> None:
        """Attach job/stage counters to every span closed since the last
        call. Call between operations, outside any timer."""
        if not self._uncollected:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        for rec in self._uncollected:
            rec["counts"] = _group_counts(
                tracker, store, f"perfbench-{rec['id']}")
        self._uncollected = []

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _group_counts(tracker, store, group: str) -> dict[str, int]:
    out = dict.fromkeys(COUNTERS, 0)
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the status store
            continue
        if str(sd.status()) != "COMPLETE":  # SKIPPED: shuffle output reused
            continue
        write = sd.shuffleWriteBytes()
        run_ms = sd.executorRunTime()
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += write
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["run_ms"] += run_ms
        out["cpu_ns"] += sd.executorCpuTime()
        out["gc_ms"] += sd.jvmGcTime()
        out["map_run_ms" if write > 0 else "result_run_ms"] += run_ms
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for rec in spans:
        if rec["parent"] is not None:
            children.setdefault(rec["parent"], []).append(
                (rec["start"], rec["end"]))
    out = {}
    for rec in spans:
        covered, reach = 0.0, rec["start"]
        for start, end in sorted(children.get(rec["id"], ())):
            start, end = max(start, reach), min(end, rec["end"])
            if end > start:
                covered += end - start
                reach = end
        out[rec["id"]] = rec["end"] - rec["start"] - covered
    return out
