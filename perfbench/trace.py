"""In-memory spans around calls into the engine's layers.

A span records its name, start, end and parent, and (when tracing is on)
tags the Spark jobs started inside it with a job group of its own, so the
stages those jobs ran can be read back from Spark's status store. With
tracing off, ``span`` only times the block: end-to-end numbers come from
such runs, and per-layer numbers from a separate traced run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = ("executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes", "stages")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    traced: bool = False
    stage: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; when tracing, also tag its Spark jobs.

        Streaming ``foreachBatch`` bodies run on a callback thread while
        the caller blocks in ``processAllAvailable``, so one stack serves
        both threads: spans never interleave."""
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, 0.0)
        s.traced = self.enabled
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            s.group = f"perfbench-{s.id}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", s.group)
        self._stack.append(s.id)
        self.spans.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.remove(s.id)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                self._pending.append(s)

    def record(self, name: str, dur: float) -> None:
        """Add a span timed elsewhere (no Spark jobs attached)."""
        now = time.perf_counter()
        s = Span(len(self.spans), name, None, now - dur, now, traced=self.enabled)
        self.spans.append(s)

    def reset(self) -> None:
        """Forget every span (those of the set-up included)."""
        self.spans.clear()
        self._stack.clear()
        self._pending.clear()

    def collect_stages(self) -> None:
        """Attach Spark stage metrics to every span closed since the last
        call. Called between operations, outside any timed block."""
        if not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        for s in self._pending:
            m = dict.fromkeys(STAGE_FIELDS, 0.0)
            for job in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info is not None else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted from the store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["executor_run_s"] += sd.executorRunTime() / 1000.0
                    m["gc_s"] += sd.jvmGcTime() / 1000.0
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    m["input_bytes"] += sd.inputBytes()
            s.stage = m
        self._pending.clear()

    # -- reductions ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.traced]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_time(self, name: str) -> float:
        """Median over ``name`` spans of duration minus child-span time."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        d = [s.dur - child.get(s.id, 0.0) for s in self.spans if s.name == name and s.traced]
        return statistics.median(d) if d else 0.0

    def stage_metrics(self, prefix: str, label: str) -> dict[str, float]:
        """``<label>.<field>``: stage totals of the spans whose name starts
        with ``prefix``, summed per operation (the parent span; a
        top-level span is its own operation), median over operations."""
        ops: dict[int, dict[str, float]] = {}
        for s in self.spans:
            if s.stage and s.name.startswith(prefix):
                op = ops.setdefault(s.id if s.parent is None else s.parent, dict.fromkeys(STAGE_FIELDS, 0.0))
                for f in STAGE_FIELDS:
                    op[f] += s.stage[f]
        return {
            f"{label}.{f}": statistics.median(o[f] for o in ops.values()) if ops else 0.0
            for f in STAGE_FIELDS
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"id": s.id, "name": s.name, "parent": s.parent,
                       "start": s.start, "end": s.end, "group": s.group,
                       "traced": s.traced, **s.stage}
                f.write(json.dumps(rec) + "\n")
