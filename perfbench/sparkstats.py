"""Spark job/stage accounting read from outside the program.

Reads the Spark context's ``SparkStatusTracker`` (job group -> job ids
-> stage ids) and the JVM status store (per-stage task metrics).  Both are fed by
the listener bus and stay populated with ``spark.ui.enabled=false``,
which is how ``crypto_datalake_spark.session.get_spark`` builds the
session.  The listener bus is asynchronous, so every read first waits
for it to drain.
"""

from __future__ import annotations

#: deterministic fields: identical across runs of the same code and data
COUNT_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
#: timing fields: vary from run to run
TIME_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s")


def empty_cost() -> dict:
    return {**{k: 0 for k in COUNT_FIELDS}, **{k: 0.0 for k in TIME_FIELDS}}


def add_costs(total: dict, cost: dict) -> None:
    for k in COUNT_FIELDS + TIME_FIELDS:
        total[k] += cost[k]


class SparkStats:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def max_job_id(self) -> int:
        self.drain()
        ids = [j.jobId() for j in self._job_list()]
        return max(ids, default=-1)

    def _job_list(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def jobs_after(self, job_id: int) -> list[tuple[int, str | None]]:
        """(job id, job group or None) of every job newer than ``job_id``."""
        self.drain()
        out = []
        for j in self._job_list():
            if j.jobId() > job_id:
                g = j.jobGroup()
                out.append((j.jobId(), g.get() if g.isDefined() else None))
        return sorted(out)

    def group_job_ids(self, group: str) -> list[int]:
        self.drain()
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def cost(self, job_ids) -> dict:
        """Summed counts and task time of ``job_ids``.  Stages skipped
        because their shuffle output was reused count as neither stages
        nor tasks; a stage shared by two jobs counts once."""
        out = empty_cost()
        stage_ids = set()
        tracker = self._sc.statusTracker()
        for j in job_ids:
            out["jobs"] += 1
            stage_ids.update(tracker.getJobInfo(j).stageIds)
        for s in stage_ids:
            sd = self._store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        """(submitted, completed) wall-clock seconds of each finished job."""
        out = []
        for j in job_ids:
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out
