"""Spans around layer calls, and the Spark work each layer caused.

Everything is observed from outside the package: a span brackets one call
into a layer's public function (plus the action that materializes its
output). In a traced run every span also sets its own Spark job group,
so the jobs the call submitted can be read back from the status tracker
and their stages from the status store. Nested spans (a checkpoint save
inside an operator) get their own group, so the operator's counts and
self time exclude them.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from lynxkite_spark.plans.checkpoint import CheckpointManager

LAYERS = (
    "derive",
    "operators.pagerank",
    "operators.components",
    "operators.labelprop",
    "operators.triangles",
    "plans.checkpoint",
)
STAGE_COUNTERS = (
    "spark_jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "gc_s",
    "failed_tasks",
)
MB = 1024 * 1024


@dataclass
class Span:
    layer: str
    group: str
    start: float
    parent: int | None
    end: float = 0.0
    children_s: float = 0.0
    persisted_after: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``traced`` it also tags Spark jobs per span.

    Untraced runs keep only two clock reads per span, so the end-to-end
    timings carry no tracing cost."""

    sc: object
    traced: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _seen_stages: set[int] = field(default_factory=set)

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{layer}#{len(self.spans)}"
        if self.traced:
            self.sc.setJobGroup(group, layer)
        idx = len(self.spans)
        self.spans.append(Span(layer, group, time.perf_counter(), parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            s = self.spans[idx]
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.duration
            if self.traced:
                s.persisted_after = len(self.sc._jsc.getPersistentRDDs())
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", self.spans[parent].group if parent is not None else None
                )

    def self_seconds(self) -> float:
        """Sum of all spans' self time: the share of the pass the layers cover."""
        return sum(s.duration - s.children_s for s in self.spans)

    def layer_metrics(self) -> dict[str, dict[str, float]]:
        """Per-layer time and Spark counters over the recorded spans. A
        stage is counted once, for the first span whose jobs list it (later
        jobs list reused shuffle stages too)."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            m = out[s.layer]
            m["busy_s"] += s.duration
            m["self_s"] += s.duration - s.children_s
            m["persisted_rdds_after"] = s.persisted_after
            if self.traced:
                self._add_stage_counters(s.group, m)
        return out

    def _add_stage_counters(self, group: str, m) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for job_id in tracker.getJobIdsForGroup(group):
            m["spark_jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: the stage never ran (skipped)
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                m["stages"] += 1
                m["tasks"] += st.numTasks()
                m["failed_tasks"] += st.numFailedTasks()
                m["task_cpu_s"] += st.executorCpuTime() / 1e9
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                m["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                m["spill_mb"] += st.diskBytesSpilled() / MB
                m["gc_s"] += st.jvmGcTime() / 1e3


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class TimedCheckpointManager(CheckpointManager):
    """The program's checkpoint store, timed from outside: every ``save``
    and ``load`` runs in a ``plans.checkpoint`` span and is counted."""

    def __init__(self, spark, root: str, tracer: Tracer):
        shutil.rmtree(root, ignore_errors=True)
        super().__init__(spark, root)
        self.tracer = tracer
        self.saves = 0
        self.save_s = 0.0
        self.loads = 0
        self.hits = 0
        self.load_s = 0.0
        self.bytes_written = 0

    def save(self, df, key, metrics=None):
        t = time.perf_counter()
        with self.tracer.span("plans.checkpoint"):
            out = super().save(df, key, metrics)
        self.save_s += time.perf_counter() - t
        self.saves += 1
        self.bytes_written += _tree_bytes(self._dir(key))
        return out

    def load(self, key):
        t = time.perf_counter()
        with self.tracer.span("plans.checkpoint"):
            out = super().load(key)
        self.load_s += time.perf_counter() - t
        self.loads += 1
        self.hits += out is not None
        return out
