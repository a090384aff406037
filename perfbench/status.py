"""Read job and stage metrics from Spark's in-process status store.

The store (``sc.statusStore()``) is filled by the listener bus even
with ``spark.ui.enabled=false``, but it retains only about 1,000 jobs,
so the benchmark reads it after every pass. A pass is the range of job
ids submitted while it ran: streaming micro-batches run under their
query's own job group, so a job group set by the caller would miss
them.

Spark 4.1's ``AppStatusStore.stageList(null)`` has no overload py4j can
match; ``jobsList(None)`` plus ``lastStageAttempt(stage_id)`` works.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class ExecStats:
    """Totals over the jobs of one pass. Times are seconds."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_gap_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    scan_task_s: float = 0.0
    output_mb: float = 0.0
    output_rows: int = 0
    # (submitted_ms, completed_ms) per job, epoch milliseconds
    job_times: list[tuple[int, int]] = field(default_factory=list)


def _ms(opt) -> int | None:
    """Scala ``Option[java.util.Date]`` -> epoch ms or None."""
    return opt.get().getTime() if opt.isDefined() else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Total length, in seconds, of the union of ms intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class StatusReader:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        """Wait until every posted event has reached the listeners."""
        self._sc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        jobs = self._sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def persistent_rdds(self) -> int:
        return self._sc.getPersistentRDDs().size()

    def stats_since(self, after_job_id: int) -> ExecStats:
        """Totals over every job with an id above ``after_job_id``."""
        self.drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        out = ExecStats()
        busy: list[tuple[int, int]] = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after_job_id:
                continue
            out.jobs += 1
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is not None and done is not None:
                out.job_times.append((sub, done))
            ids = job.stageIds()
            for k in range(ids.size()):
                s = store.lastStageAttempt(ids.apply(k))
                if str(s.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += s.numCompleteTasks() + s.numFailedTasks()
                out.failed_tasks += s.numFailedTasks()
                run_s = s.executorRunTime() / 1000.0
                out.task_s += run_s
                out.cpu_s += s.executorCpuTime() / 1e9
                out.gc_s += s.jvmGcTime() / 1000.0
                out.shuffle_read_mb += s.shuffleReadBytes() / MB
                out.shuffle_write_mb += s.shuffleWriteBytes() / MB
                out.spill_mb += s.diskBytesSpilled() / MB
                out.input_mb += s.inputBytes() / MB
                out.input_rows += s.inputRecords()
                if s.inputBytes() > 0:
                    out.scan_task_s += run_s
                out.output_mb += s.outputBytes() / MB
                out.output_rows += s.outputRecords()
                start, end = _ms(s.firstTaskLaunchedTime()), _ms(s.completionTime())
                if start is not None and end is not None:
                    busy.append((start, end))
        # time some job was in flight while none of its tasks could run:
        # job/stage submission, result handling and the driver work between
        out.sched_gap_s = max(0.0, _union_s(out.job_times) - _union_s(busy))
        return out
