"""Spans and runtime counters, recorded from outside the program.

A span is (id, name, start, end, parent, unit): one per call into a
layer, with one ``unit`` id per wave, op or query. Spans stay in memory
and are written out once, at exit. With tracing off ``span`` records
nothing and samples no counter, so an untraced run times only the work.

Counters come from the Spark JVM through py4j: HotSpot's compilation
and GC MXBeans, Spark's ``CodegenMetrics``, and the status store's
per-stage task metrics, which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class JvmCounters:
    """Cumulative JIT seconds, GC seconds and codegen compiles."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def sample(self) -> dict[str, float]:
        return {
            "jvm.jit_s": self._jit.getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1e3,
            "spark.codegen_compiles": float(
                self._codegen.METRIC_COMPILATION_TIME().getCount()
            ),
        }


class StageLog:
    """Task metrics of the stages that ran between two marks."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        every = self._jvm.java.util.ArrayList()
        seq = self._store.stageList(every, False, False, self._no_quantiles, every)
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def mark(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def between(self, first: int, last: int) -> dict[str, float]:
        """Stages with ``first < stageId <= last``."""
        stages = [s for s in self._stages() if first < s.stageId() <= last]
        n = max(1, len(stages))
        return {
            "spark.stages": float(len(stages)),
            "spark.tasks_per_stage": sum(s.numTasks() for s in stages) / n,
            "spark.task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.shuffle_bytes": float(
                sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in stages)
            ),
            "spark.spill_bytes": float(
                sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
            ),
            "sources.readers.bytes_read": float(sum(s.inputBytes() for s in stages)),
            "sources.readers.records_read": float(sum(s.inputRecords() for s in stages)),
        }


class Tracer:
    """``enabled`` says the run is traced; ``active`` says spans are being
    recorded right now. Traced runs switch ``active`` off for every
    other steady unit, so one run measures its own tracing overhead."""

    def __init__(self, enabled: bool, counters: JvmCounters | None = None) -> None:
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self._counters = counters
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, unit: str | int | None = None, **attrs):
        """Record one span; yields a dict the caller may add fields to."""
        rec: dict = {}
        if not self.active:
            yield rec
            return
        rec.update(id=next(self._ids), name=name, unit=unit,
                   parent=self._stack[-1] if self._stack else None, **attrs)
        before = self._counters.sample() if self._counters else {}
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._counters:
                after = self._counters.sample()
                rec["counters"] = {k: after[k] - before[k] for k in after}
            self.spans.append(rec)

    def child(self, name: str, parent: dict, start: float, seconds: float,
              **attrs) -> None:
        """A span measured elsewhere (a streaming progress duration),
        attached under ``parent``."""
        if self.active:
            self.spans.append(dict(id=next(self._ids), name=name,
                                   unit=parent.get("unit"), parent=parent.get("id"),
                                   start=start, end=start + seconds, **attrs))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
