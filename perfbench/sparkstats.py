"""Per-job-group Spark metrics read from the driver's in-process
``AppStatusStore``.

The benchmark tags every stage call with ``sc.setJobGroup(group, …)``
and, right after the call returns, reads the store for that group's
jobs and their Spark stages.  The store keeps only the last 1,000 jobs
and stages, so it is read after EACH call, never once per run.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class GroupStats:
    jobs: int = 0
    spark_stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # summed task executorRunTime
    jvm_cpu_s: float = 0.0  # summed task executorCpuTime
    shuffle_bytes: int = 0  # read + write
    spill_bytes: int = 0  # memory + disk
    task_skew: float = 1.0  # max / median task run time, run-time weighted


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self.quantiles = q
        self.no_status = self.jvm.java.util.ArrayList()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> GroupStats:
        self.sc._jsc.clearJobGroup()
        # listener events are applied asynchronously; drain them first
        self.bus.waitUntilEmpty(60_000)
        out = GroupStats()
        weighted_skew = 0.0
        stage_ids: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out.jobs += 1
            stage_ids.update(_seq(self.store.job(job_id).stageIds()))
        for sid in sorted(stage_ids):
            for st in _seq(
                self.store.stageData(sid, False, self.no_status, False, self.quantiles)
            ):
                if st.status().toString() == "SKIPPED" or st.numTasks() == 0:
                    continue
                out.spark_stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                run_s = st.executorRunTime() / 1e3
                out.run_s += run_s
                out.jvm_cpu_s += st.executorCpuTime() / 1e9
                out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                weighted_skew += run_s * self._skew(sid, st.attemptId())
        if out.run_s > 0:
            out.task_skew = weighted_skew / out.run_s
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        dist = self.store.taskSummary(stage_id, attempt, self.quantiles)
        if dist.isEmpty():
            return 1.0
        rt = dist.get().executorRunTime()
        median, top = rt.apply(0), rt.apply(1)
        return top / median if median > 0 else 1.0
