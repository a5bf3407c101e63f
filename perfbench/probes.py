"""Outside-in readers: Spark's status store, /proc, and on-disk bytes.

Nothing here changes what the program does; it only reads what Spark and
the kernel already record.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager


# -- Spark status store -------------------------------------------------------
def _opt(v):
    """A Scala Option (or plain value) from py4j as a Python value."""
    if hasattr(v, "isDefined"):
        return v.get() if v.isDefined() else None
    return v


class SparkStages:
    """Aggregates stage metrics of the jobs a call started.

    A job group is set around each call (it names the jobs), but jobs are
    attributed by job id: every job submitted between the call's start and
    end belongs to it. Group tags alone would miss jobs the package submits
    from its own worker threads, which do not inherit the caller's group.
    The benchmark runs one call at a time that starts Spark jobs; the serving
    path it overlaps with in ``ingest_while_serving`` starts none."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def _job_ids(self) -> list[int]:
        jobs = self.store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def mark(self) -> int:
        return max(self._job_ids(), default=-1)

    @contextmanager
    def group(self, name: str, skew_windows: list | None = None):
        """Tag the jobs started inside with ``name``; yields a dict that is
        filled with the aggregated stage metrics on exit. ``task_skew`` is
        taken over the jobs inside ``skew_windows`` ((after, upto] job-id
        ranges) when the call fills it, else over all the call's jobs."""
        out: dict = {}
        before = self.mark()
        self.sc.setJobGroup(name, name)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.collect(before, skew_windows))

    def stages(self, after_job: int, upto_job: float = float("inf")) -> list:
        jobs = self.store.jobsList(None)
        sids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if after_job < j.jobId() <= upto_job:
                it = j.stageIds().iterator()
                while it.hasNext():
                    sids.add(int(it.next()))
        out = []
        for sid in sorted(sids):
            try:
                out.append(self.store.lastStageAttempt(sid))
            except Exception:  # a stage that never ran has no attempt
                continue
        return out

    def task_seconds(self, stage) -> list[float]:
        tl = self.store.taskList(stage.stageId(), stage.attemptId(), 100_000)
        out = []
        for i in range(tl.size()):
            d = _opt(tl.apply(i).duration())
            if d is not None:
                out.append(d / 1000.0)
        return out

    def collect(self, after_job: int, skew_windows=None) -> dict:
        """Summed stage metrics of jobs with id > ``after_job``; task_skew
        is max/median task time over multi-task stages."""
        stages = self.stages(after_job)
        agg = dict(executor_run_s=0.0, executor_cpu_s=0.0, jvm_gc_s=0.0,
                   shuffle_write_bytes=0, shuffle_read_bytes=0,
                   spill_bytes=0, tasks=0)
        for s in stages:
            agg["executor_run_s"] += s.executorRunTime() / 1000.0
            agg["executor_cpu_s"] += s.executorCpuTime() / 1e9
            agg["jvm_gc_s"] += s.jvmGcTime() / 1000.0
            agg["shuffle_write_bytes"] += s.shuffleWriteBytes()
            agg["shuffle_read_bytes"] += s.shuffleReadBytes()
            agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            agg["tasks"] += s.numCompleteTasks()
        picked = [s for lo, hi in (skew_windows or [])
                  for s in self.stages(lo, hi)]
        durations = [d for s in (picked or stages) if s.numTasks() > 1
                     for d in self.task_seconds(s)]
        agg["task_skew"] = (max(durations) / statistics.median(durations)
                            if durations and statistics.median(durations) > 0
                            else 1.0)
        return agg

    @contextmanager
    def windows(self, obj, method: str):
        """Record the job-id range of every call to ``obj.method`` (patched
        on this one instance) made inside the block."""
        found: list = []
        orig = getattr(obj, method)

        def timed(*a, **kw):
            lo = self.mark()
            try:
                return orig(*a, **kw)
            finally:
                found.append((lo, self.mark()))

        setattr(obj, method, timed)
        try:
            yield found
        finally:
            delattr(obj, method)


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# -- /proc ----------------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo, seen = [pid or os.getpid()], []
    while todo:
        for c in _children(todo.pop()):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pids() -> list[int]:
    return [p for p in descendants() if _comm(p) == "java"]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in jvm_pids())
    return kb / 1024.0


def write_bytes() -> int:
    """Bytes this process tree has sent to storage so far (/proc/<pid>/io).
    Processes that already exited are not counted."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total
