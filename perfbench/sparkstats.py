"""Job, stage and task numbers read from Spark's status store through py4j.

The status store is populated with the UI off, so these reads work on the
engine's default session. Times from the store are JVM wall-clock
milliseconds, comparable with Python's `time.time()` on the same host.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.spans import union_length


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    intervals: list = field(default_factory=list)  # (start_s, end_s) per job
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def job_wall_s(self) -> float:
        return union_length(self.intervals)


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_job_id(spark) -> int:
    jobs = _store(spark).jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def job_ids_after(spark, after: int) -> list[int]:
    jobs = _store(spark).jobsList(None)
    return [j for j in (jobs.apply(i).jobId() for i in range(jobs.size())) if j > after]


def job_ids_for_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def collect(spark, job_ids) -> JobStats:
    """Aggregate the given jobs and the stages they ran (skipped stages are
    counted by neither stages nor tasks)."""
    store = _store(spark)
    out = JobStats()
    seen: set[int] = set()
    for jid in job_ids:
        try:
            j = store.job(jid)
        except Exception:  # evicted from the store's retention window
            continue
        out.jobs += 1
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out.intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.run_ms += st.executorRunTime()
            out.cpu_ms += st.executorCpuTime() / 1e6
            out.gc_ms += st.jvmGcTime()
            out.input_bytes += st.inputBytes()
            out.input_records += st.inputRecords()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
