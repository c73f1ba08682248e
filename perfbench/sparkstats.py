"""Per-operation Spark accounting read from the JVM status store.

Each traced operation runs under its own job group; afterwards the
jobs of that group, their stages and their tasks are read from
``SparkContext.statusStore()`` (this works with the UI disabled).
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, field


@dataclass
class OpSpark:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ms: float = 0.0
    job_wall_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_memory_bytes: int = 0
    peak_concurrent_tasks: int = 0
    job_ids: list = field(default_factory=list, repr=False)
    task_intervals: list = field(default_factory=list, repr=False)


def peak_overlap(intervals: list[tuple[float, float]]) -> int:
    """Largest number of [start, end) intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    cur = best = 0
    for _, d in events:  # at equal times the end (-1) sorts first
        cur += d
        best = max(best, cur)
    return best


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def read_job(store, jid: int, out: OpSpark) -> None:
    """Add one job's stages and tasks to ``out``. Skipped stages (their
    output was reused from an earlier job) count as no work."""
    job = store.job(jid)
    out.jobs += 1
    out.job_ids.append(jid)
    sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
    if sub is not None and done is not None:
        out.job_wall_ms += done.getTime() - sub.getTime()
    sids = job.stageIds()
    for i in range(sids.size()):
        try:
            st = store.lastStageAttempt(sids.apply(i))
        except Exception:  # py4j: stage never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out.stages += 1
        out.tasks += st.numTasks()
        out.failed_tasks += st.numFailedTasks()
        out.task_run_ms += st.executorRunTime()
        out.task_cpu_ms += st.executorCpuTime() / 1e6
        out.input_bytes += st.inputBytes()
        out.input_records += st.inputRecords()
        out.shuffle_read_bytes += st.shuffleReadBytes()
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.peak_exec_memory_bytes = max(out.peak_exec_memory_bytes, st.peakExecutionMemory())
        tl = store.taskList(st.stageId(), st.attemptId(), 1 << 30)
        for k in range(tl.size()):
            td = tl.apply(k)
            t0 = td.launchTime().getTime()
            # executor-side busy interval; the task's recorded duration
            # also covers result fetching, after its slot was released
            tm = _opt(td.taskMetrics())
            busy = (tm.executorDeserializeTime() + tm.executorRunTime() + tm.resultSerializationTime()
                    if tm is not None else _opt(td.duration(), 0))
            out.task_intervals.append((t0, t0 + busy))


def read_jobs(spark, job_ids) -> OpSpark:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = OpSpark()
    for jid in job_ids:
        read_job(store, jid, out)
    out.peak_concurrent_tasks = peak_overlap(out.task_intervals)
    return out


def read_group(spark, group: str) -> OpSpark:
    """Aggregate every job run under job group ``group``."""
    return read_jobs(spark, spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def ungrouped_jobs(spark, since: int = 0) -> list[int]:
    """Ids >= ``since`` of the jobs run outside any job group."""
    return sorted(j for j in spark.sparkContext.statusTracker().getJobIdsForGroup(None) if j >= since)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver: this Python process plus the
    JVM it drives (VmHWM of each)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _hwm_kb(jvm_pid(spark))) / 1024.0


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, utime+stime+cutime+cstime in clock ticks) of one
    process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def cpu_s(spark) -> float:
    """CPU seconds used so far by the driver: this Python process, the
    JVM and every process under the JVM (Python workers; a worker that
    exited is in its parent's children time). Time the hypervisor gave
    to other guests (steal) is not in it, unlike wall time."""
    root = jvm_pid(spark)
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _proc_stat(pid)) is not None:
            procs[int(pid)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def retained_mb(spark) -> float:
    """Memory the driver holds on to: this Python process's resident
    set plus the JVM's heap after a full collection and its non-heap
    (metaspace, code cache). Unlike the high-water mark it does not
    depend on when the collector happened to run."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    java = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    with open("/proc/self/statm") as f:
        py = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return (java + py) / (1 << 20)
