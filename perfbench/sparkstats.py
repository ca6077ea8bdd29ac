"""Outside-in readers of Spark's own bookkeeping, from the driver process.

Nothing here registers a listener: stage totals come from the status
store that backs the (disabled) UI, reached through job groups, and SQL
executions from the SQL status store. Streaming queries tag their jobs
with the query's ``runId`` as job group; the query suite sets one group
per key and phase.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    run_ms: float = 0.0  # sum of executorRunTime
    shuffle_bytes: float = 0.0  # shuffle write bytes
    spill_bytes: float = 0.0  # memory + disk bytes spilled

    def add(self, other: "StageTotals") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.run_ms += other.run_ms
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes


@dataclass
class SqlExecution:
    id: int
    plan: str
    submit_ms: int
    complete_ms: int | None


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> StageTotals:
        out = StageTotals(jobs=len(job_ids))
        tracker = self.sc.statusTracker()
        seen = set()  # jobs share stages they reuse
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: it never ran an attempt
                out.stages += 1
                out.run_ms += sd.executorRunTime()
                out.shuffle_bytes += sd.shuffleWriteBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def group_totals(self, group: str) -> StageTotals:
        return self.stage_totals(self.group_jobs(group))

    def new_sql_executions(self) -> list[SqlExecution]:
        """SQL executions submitted since the previous call."""
        n = self._sql.executionsCount()
        if n <= self._sql_seen:
            return []
        seq = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            ct = e.completionTime()
            out.append(
                SqlExecution(
                    id=e.executionId(),
                    plan=e.physicalPlanDescription(),
                    submit_ms=e.submissionTime(),
                    complete_ms=ct.get().getTime() if ct.isDefined() else None,
                )
            )
        self._sql_seen = n
        return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
