"""One counter helper for every span: Spark's AppStatusStore, read once and
cut into time windows, plus peak RSS from ``/proc``.

The benchmark drives the program as one closed-loop client, so every Spark
stage submitted inside a span's [start, end) was caused by that span (or a
child of it). Diffing the store around a call and cutting one read of it at
the call's boundaries therefore give the same counters; the single read keeps
py4j traffic out of the timed region. The store read is ported from the plan
audit's stage-list helper (``stageList`` over ``statusStore()``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Stage:
    stage_id: int
    attempt: int
    start: float  # epoch seconds, stage submission
    end: float  # epoch seconds, stage completion
    tasks: int
    failed_tasks: int
    run_s: float  # executor run time, summed over tasks
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int


@dataclass(frozen=True)
class Job:
    job_id: int
    start: float
    end: float


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_store(spark) -> tuple[list[Stage], list[Job]]:
    """Every submitted stage attempt and job in the live AppStatusStore.
    Skipped stages (never submitted) carry no work and are left out."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    doubles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    seq = store.stageList(empty, False, False, doubles, empty)
    stages = []
    for i in range(seq.size()):
        s = seq.apply(i)
        start = _opt_ms(s.submissionTime())
        if start is None:
            continue
        end = _opt_ms(s.completionTime())
        stages.append(
            Stage(
                stage_id=s.stageId(),
                attempt=s.attemptId(),
                start=start,
                end=end if end is not None else start,
                tasks=s.numTasks(),
                failed_tasks=s.numFailedTasks(),
                run_s=s.executorRunTime() / 1000.0,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1000.0,
                shuffle_write_bytes=s.shuffleWriteBytes(),
            )
        )
    jseq = store.jobsList(None)
    jobs = []
    for i in range(jseq.size()):
        j = jseq.apply(i)
        start = _opt_ms(j.submissionTime())
        if start is None:
            continue
        end = _opt_ms(j.completionTime())
        jobs.append(Job(j.jobId(), start, end if end is not None else start))
    return stages, jobs


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def window_counters(stages, jobs, lo: float, hi: float, cores: int) -> dict:
    """Spark counters of the work submitted in [lo, hi)."""
    st = [s for s in stages if lo <= s.start < hi]
    wall = max(hi - lo, 1e-9)
    task_s = sum(s.run_s for s in st)
    busy = union_length([(s.start, s.end) for s in stages], lo, hi)
    return {
        "spark.jobs": sum(1 for j in jobs if lo <= j.start < hi),
        "spark.stages": len(st),
        "spark.tasks": sum(s.tasks for s in st),
        "spark.task_s": task_s,
        "spark.cpu_s": sum(s.cpu_s for s in st),
        "spark.gc_s": sum(s.gc_s for s in st),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
        "spark.failed_tasks": sum(s.failed_tasks for s in st),
        "spark.core_busy_share": task_s / (wall * cores),
        "spark.driver_only_s": wall - busy,
    }


# -- memory ------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        if int(fields[1]) == pid:
            kids.append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM this process launched (``spark-submit`` execs
    java in place, so the launcher's pid is the JVM's)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> dict:
    """High-water RSS (``VmHWM``) of the driver JVM, and of this Python
    process plus every Python worker under the JVM, in MB. Workers are
    reused across tasks, so reading at the end of a run sees each one's peak."""
    pid = jvm_pid(spark)
    jvm_kb = _status_kb(pid, "VmHWM") if pid else 0
    py_kb = _status_kb(os.getpid(), "VmHWM")
    if pid:
        py_kb += sum(_status_kb(p, "VmHWM") for p in _descendants(pid))
    return {
        "memory.jvm_peak_rss_mb": jvm_kb / 1024.0,
        "memory.python_peak_rss_mb": py_kb / 1024.0,
    }
