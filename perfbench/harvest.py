"""Per-op counters read from Spark's own app status store.

Job, stage and SQL-execution ids only grow within an application, so the
entries of one op are those above a ``Mark`` taken just before it. They
are read newest-first from the status KVStore (the store behind
``SparkContext.statusStore()``, which also holds the SQL listener's
entries), so a harvest touches only the op's own entries however long
the session has run. This works with the UI disabled.

The engine's query hygiene (``functions/_hygiene.py::trim_status_store``)
deletes the previous query's entries before each declared query builds,
so ``harvest`` must run right after the op it describes.
"""

from __future__ import annotations

from dataclasses import dataclass

_JOB = "org.apache.spark.status.JobDataWrapper"
_STAGE = "org.apache.spark.status.StageDataWrapper"
_EXECUTION = "org.apache.spark.sql.execution.ui.SQLExecutionUIData"
_MB = 1 / (1 << 20)


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int


class Harvester:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore().store()
        self._cls = {
            name: sc._jvm.java.lang.Class.forName(name)
            for name in (_JOB, _STAGE, _EXECUTION)
        }
        self._cores = sc.defaultParallelism

    def _newer(self, cls: str, key, above: int) -> list:
        """Entries of ``cls`` whose id (``key(entry)``) is above ``above``,
        newest first."""
        out = []
        it = self._store.view(self._cls[cls]).reverse().closeableIterator()
        try:
            while it.hasNext():
                entry = it.next()
                if key(entry) <= above:
                    break
                out.append(entry)
        finally:
            it.close()
        return out

    def _top(self, cls: str, key) -> int:
        it = self._store.view(self._cls[cls]).reverse().max(1).closeableIterator()
        try:
            return key(it.next()) if it.hasNext() else -1
        finally:
            it.close()

    def mark(self) -> Mark:
        return Mark(
            self._top(_JOB, lambda w: w.info().jobId()),
            self._top(_STAGE, lambda w: w.info().stageId()),
            self._top(_EXECUTION, lambda e: e.executionId()),
        )

    def harvest(self, since: Mark, wall_s: float) -> dict[str, float]:
        """Counters of the jobs, stages and SQL executions that started
        after ``since``; ``wall_s`` is the op's wall time (busy fraction)."""
        jobs = [
            w.info()
            for w in self._newer(_JOB, lambda w: w.info().jobId(), since.job)
        ]
        stages = [
            s
            for s in (
                w.info()
                for w in self._newer(
                    _STAGE, lambda w: w.info().stageId(), since.stage
                )
            )
            if s.status().toString() != "SKIPPED"
        ]
        job_start = {}
        for j in jobs:
            t = j.submissionTime()
            if t.isDefined():
                job_start[j.jobId()] = t.get().getTime()
        plan_ms = 0
        for e in self._newer(_EXECUTION, lambda e: e.executionId(), since.execution):
            keys = e.jobs().keys().toSeq()
            starts = [
                job_start[k]
                for k in (keys.apply(i) for i in range(keys.size()))
                if k in job_start
            ]
            if starts:
                plan_ms += max(0, min(starts) - e.submissionTime())
        run_s = sum(s.executorRunTime() for s in stages) / 1e3
        return {
            "spark.plan_s": plan_ms / 1e3,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.jvm_gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) * _MB,
            "spark.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) * _MB,
            "spark.spill_mb": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ) * _MB,
            "spark.busy_frac": run_s / (wall_s * self._cores) if wall_s > 0 else 0.0,
            "input_records": sum(s.inputRecords() for s in stages),
        }
