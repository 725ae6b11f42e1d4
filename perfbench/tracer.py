"""Spans around the calls into each layer, with the Spark counters of
the jobs each span launched.

Spans live in memory and are read once, when the run ends. Jobs are
attributed to a span through a job group that is set for the span's
duration and restored to the caller's group afterwards. Stage metrics
are read from Spark's status store as soon as each top-level span (one
catalog entry, one scheduled run) ends, because the store keeps only
the most recent 1,000 jobs and stages. Reading the counters launches no
Spark job.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes",
)

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)  # jobs this span launched itself
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def stage_counters(spark, job_ids) -> dict:
    """Sum the status-store metrics of the stages run by ``job_ids``.
    Waits for the listener bus first so the store holds every event of
    the finished jobs."""
    out = dict.fromkeys(COUNTER_KEYS, 0)
    job_ids = list(job_ids)
    out["jobs"] = len(job_ids)
    if not job_ids:
        return out
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in sorted(stage_ids):
        # Spark 4.1: stageData(id, details, taskStatus, withSummaries, quantiles)
        for sd in _seq(store.stageData(sid, False, no_tasks, False, no_quantiles)):
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
    return out


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Records spans when enabled; when disabled, ``span`` only runs
    the body, so untraced runs pay no counter reads."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._groups: list[list[str]] = []  # job groups of each span
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, run_id: str = ""):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
        parent = self._stack[-1] if self._stack else None
        if not run_id and parent is not None:
            run_id = self.spans[parent].run_id
        sp = Span(name, time.perf_counter(), parent=parent, run_id=run_id)
        first = len(self.spans)
        self.spans.append(sp)
        self._groups.append([f"perfbench-{next(self._ids)}"])
        self._stack.append(first)
        sc.setJobGroup(self._groups[first][0], name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            for k, v in zip(_GROUP_PROPS, saved):
                sc.setLocalProperty(k, v)
            if parent is None:
                # counters for the whole tree, read once it has ended, so
                # no span's wall includes the reading of another's
                tracker = sc.statusTracker()
                for i in range(first, len(self.spans)):
                    self.spans[i].counters = stage_counters(
                        self.spark,
                        [j for g in self._groups[i] for j in tracker.getJobIdsForGroup(g)],
                    )

    def adopt_group(self, group: str) -> None:
        """Count the jobs of another job group (a streaming query runs
        its micro-batches under its own) in the innermost open span."""
        if self.enabled and self._stack:
            self._groups[self._stack[-1]].append(group)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a traced wrapper; returns an undo
        callable. The program resolves these names at call time, so the
        wrapper sees every call made while it is installed."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if sp is not None and isinstance(result, int):
                    sp.attrs["result"] = result
                return result

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.wall for s in self.named(name))

    def children_wall(self, idx: int) -> float:
        return sum(s.wall for s in self.spans if s.parent == idx)

    def counter_totals(self) -> dict:
        """Counters of every span summed (each job is counted once, in
        the innermost span that launched it)."""
        out = dict.fromkeys(COUNTER_KEYS, 0)
        for s in self.spans:
            for k in COUNTER_KEYS:
                out[k] += s.counters.get(k, 0)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line; times are seconds since
        the first span started."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "run_id": s.run_id,
                    "parent": s.parent, "start": s.start - t0, "end": s.end - t0,
                    "counters": s.counters, **s.attrs,
                }) + "\n")
