"""Process and Spark status-store readings.

Job and stage figures come from the driver's ``AppStatusStore``, which
Spark fills with the UI disabled too. The benchmark raises its job and
stage retention (see ``run.SPARK_CONF``) so that no job of a pass is
evicted before it is read.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def jvm_pid(sc) -> int:
    """``spark-submit`` execs the JVM, so the launcher's pid is the JVM's."""
    return sc._gateway.proc.pid


def cpu_seconds(pid: int) -> float:
    """CPU time of ``pid`` plus this Python process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / CLK_TCK
    own = resource.getrusage(resource.RUSAGE_SELF)
    return jvm + own.ru_utime + own.ru_stime


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024


def job_count(sc) -> int:
    """Jobs run so far; job ids are dense from 0."""
    return sc._jsc.sc().statusStore().jobsList(None).size()


@dataclass
class StageStats:
    skipped: bool
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0


@dataclass
class JobStats:
    id: int
    group: str | None
    start_ms: int
    end_ms: int
    stage_ids: list[int] = field(default_factory=list)


def read_jobs(sc, first: int, end: int) -> tuple[list[JobStats], dict[int, StageStats]]:
    """Jobs with ids in ``[first, end)`` and every stage they name."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs: list[JobStats] = []
    stages: dict[int, StageStats] = {}
    for jid in range(first, end):
        data = store.job(jid)
        group = data.jobGroup()
        sub, done = data.submissionTime(), data.completionTime()
        job = JobStats(
            jid,
            group.get() if group.isDefined() else None,
            sub.get().getTime() if sub.isDefined() else 0,
            done.get().getTime() if done.isDefined() else 0,
            list(tracker.getJobInfo(jid).stageIds),
        )
        jobs.append(job)
        for sid in job.stage_ids:
            if sid not in stages:
                stages[sid] = _stage(store, sid)
    return jobs, stages


def _stage(store, sid: int) -> StageStats:
    try:
        s = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: the stage never ran
        return StageStats(skipped=True)
    if s.status().toString() == "SKIPPED":
        return StageStats(skipped=True)
    return StageStats(
        skipped=False,
        tasks=s.numCompleteTasks(),
        run_s=s.executorRunTime() / 1e3,
        cpu_s=s.executorCpuTime() / 1e9,
        gc_s=s.jvmGcTime() / 1e3,
        shuffle_read_mb=s.shuffleReadBytes() / MB,
        shuffle_write_mb=s.shuffleWriteBytes() / MB,
        spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
        input_mb=s.inputBytes() / MB,
        input_rows=s.inputRecords(),
        output_mb=s.outputBytes() / MB,
    )
