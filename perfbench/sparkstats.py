"""Spark's own counters for one job group, read from outside the program.

Jobs, stages and tasks come from ``statusTracker``; shuffle, spill,
executor CPU and run time from the live ``AppStatusStore`` (populated with
the UI off); GC time from the JVM's JMX beans; compiles of generated code
from Spark's ``CodegenMetrics``; join output rows from the SQL status
store's plan graphs; the barrier count from the persistent-RDD registry.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    #: SQL "number of output rows" of every join node, largest first
    join_rows: list[int] = field(default_factory=list)


class SparkCounters:
    """Reads the counters of job groups set with ``setJobGroup``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores reflect all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def sql_mark(self) -> int:
        """Number of SQL executions so far; pass it to :meth:`group` so only
        executions started after the mark are scanned."""
        return int(self._sql().executionsCount())

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def group(self, group_id: str, sql_since: int = 0) -> GroupStats:
        self.settle()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = GroupStats()
        job_ids = set(tracker.getJobIdsForGroup(group_id))
        out.jobs = len(job_ids)
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in list(info.stageIds) if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — a skipped stage never ran
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.exec_s += sd.executorRunTime() / 1e3
                out.executor_cpu_s += sd.executorCpuTime() / 1e9
                out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                out.shuffle_read_mb += sd.shuffleReadBytes() / MB
                out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        out.join_rows = self._join_rows(job_ids, sql_since)
        return out

    def _join_rows(self, job_ids: set[int], since: int) -> list[int]:
        """Output rows of every join node in the SQL executions (started
        after mark ``since``) that ran any of ``job_ids``."""
        sql = self._sql()
        total = int(sql.executionsCount())
        execs = sql.executionsList(since, max(0, total - since))
        rows: list[int] = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            mine = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if "Join" not in node.name():
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        rows.append(int(str(v.get()).replace(",", "")))
        return sorted(rows, reverse=True)

    def jvm_gc_s(self) -> float:
        """GC seconds so far of the whole JVM (JMX).  In local mode the
        executor is the driver JVM; the status store's task-level GC time
        misses collections between tasks and rounds short ones to 0."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def codegen_compiles(self) -> int:
        """Generated classes compiled so far (whole-stage and expression
        code generation).  Spark counts a compile only when its code cache
        misses, so on a warm pass this counts cache evictions."""
        metrics = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    def persistent_rdd_ids(self) -> set[int]:
        """Ids of every persisted RDD (checkpoint barriers included), in
        one gateway round trip."""
        listed = self.sc._jsc.getPersistentRDDs().keySet().toString().strip("[]")
        return {int(x) for x in listed.split(",") if x.strip()}

    def cached_mb(self, rdd_ids: set[int]) -> float:
        """Cached size of those of ``rdd_ids`` still held by the block
        manager."""
        return sum(
            (i.memSize() + i.diskSize()) / MB
            for i in self._jsc.getRDDStorageInfo()
            if int(i.id()) in rdd_ids
        )
