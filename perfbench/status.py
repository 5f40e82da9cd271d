"""Spark work counters read from the driver JVM's ``AppStatusStore``.

The status store is fed by the listener bus even with
``spark.ui.enabled=false``, so no REST server is needed. On PySpark 4.1
``stageList`` takes five arguments ``(List, bool, bool, double[], List)``;
it returns stages newest first. A ``StageCursor`` remembers the highest
stage id seen before a call and, after the call, sums only the stages
with a higher id. Reading right after each call means eviction under
``spark.ui.retainedStages`` can only drop stages older than the call.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class StageCounters:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "StageCounters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class StatusStore:
    """Thin reader over ``SparkContext.statusStore().stageList``."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        # wait until every event of the finished call has reached the
        # status listener, else the newest stages may be missing
        self._jsc.listenerBus().waitUntilEmpty()
        lst = self._jvm.java.util.ArrayList
        return self._store.stageList(lst(), False, False, self._no_quantiles, lst())

    def cursor(self) -> "StageCursor":
        stages = self._stages()
        return StageCursor(self, stages.apply(0).stageId() if stages.size() else -1)


class StageCursor:
    """Walks forward over stage ids: each ``take`` returns the counters
    of the stages submitted since the previous ``take``."""

    def __init__(self, store: StatusStore, after: int) -> None:
        self._store = store
        self.after = after

    def take(self) -> StageCounters:
        out = StageCounters()
        stages = self._store._stages()
        newest = self.after
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.after:
                break
            newest = max(newest, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += s.numCompleteTasks()
            out.failed_tasks += s.numFailedTasks()
            out.executor_run_s += s.executorRunTime() / 1000.0
            out.input_bytes += s.inputBytes()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
        self.after = newest
        return out
