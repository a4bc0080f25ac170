"""Measurement probes: host memory bandwidth, JVM peak RSS and
Python-worker CPU read from /proc, Spark task metrics per job group,
and a call counter around ``CheckpointFS``.

Everything here observes the engine from outside: it times calls into
the public functions and reads what Spark's status store and the
kernel already record.  No module of ``gsearch_spark`` is edited.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import numpy as np

_C = np.uint64(0x100000001B3)
_S13 = np.uint64(13)
_TICK = os.sysconf("SC_CLK_TCK")


def memcopy_gbps(n_elems: int = 8_000_000, iters: int = 3,
                 reps: int = 3) -> float:
    """Streaming bandwidth of one core, in GB/s of array processed.

    Same integer-hash kernel as the DRAM regime of
    ``tools/host_capacity.py`` (``a = a * C ^ (a >> 13)``), at a 64 MB
    working set so it stays out of cache without a large footprint.
    Median of ``reps`` timings."""
    rates = []
    for _ in range(reps):
        a = np.arange(n_elems, dtype=np.uint64)
        t0 = time.perf_counter()
        for _ in range(iters):
            a = a * _C ^ (a >> _S13)
        rates.append(n_elems * 8 * iters / (time.perf_counter() - t0) / 1e9)
    return float(np.median(rates))


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies of all CPUs so far, from /proc/stat.  The
    steal share of an interval is the CPU time the hypervisor gave to
    other guests: on a shared host it shows beside each number."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current()
               .pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _proc_table() -> "dict[int, tuple[int, int]]":
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state; ppid is fields[1]; utime..cstime are 11..14
        out[int(name)] = (int(fields[1]),
                          sum(int(x) for x in fields[11:15]))
    return out


def python_worker_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JVM's descendant processes (the
    pyspark daemon and its forked Python workers).  A worker's own
    times cover it while it lives; once reaped they move into its
    parent's child times, so the sum counts each worker once."""
    table = _proc_table()
    children: "dict[int, list[int]]" = {}
    for p, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(p)
    total, stack = 0, list(children.get(pid, ()))
    while stack:
        p = stack.pop()
        total += table[p][1]
        stack.extend(children.get(p, ()))
    return total / _TICK


class JobGroups:
    """Runs calls under their own Spark job group and sums the task
    metrics of the jobs that group ran.  Threads the engine starts with
    ``inheritable_thread_target`` inherit the group, so side chains are
    counted with the call that started them."""

    def __init__(self, spark, detailed: bool):
        self.sc = spark.sparkContext
        self.detailed = detailed
        self._n = 0

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench:{name}:{self._n}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, gid: str) -> "dict[str, float]":
        """jobs, tasks, task_s (executor run time), cpu_s (executor CPU),
        shuffle_bytes (shuffle write) and spill_bytes of one group.  All
        but ``jobs`` stay 0 unless ``detailed``: they take a few py4j
        calls per stage, over a second per add."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(gid))
        out = {"jobs": float(len(job_ids)), "tasks": 0.0, "task_s": 0.0,
               "cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
        if not self.detailed:
            return out
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # evicted or never submitted (skipped)
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
        return out


_FS_METHODS = ("exists", "mkdirs", "delete", "rename", "move_children",
               "list_children", "create_atomic", "write_text", "read_text")


class FSCalls:
    """Counts calls into ``CheckpointFS`` metadata methods and the time
    they take, while installed.  Nested calls (one method using another)
    count once, at the outer call."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._saved: "dict[str, object]" = {}

    def _wrap(self, fn):
        def wrapped(*args, **kwargs):
            depth = getattr(self._depth, "n", 0)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth.n = depth
                if depth == 0:
                    dt = time.perf_counter() - t0
                    with self._lock:
                        self.calls += 1
                        self.seconds += dt
        return wrapped

    @contextmanager
    def installed(self):
        from gsearch_spark.fs import CheckpointFS
        for name in _FS_METHODS:
            self._saved[name] = getattr(CheckpointFS, name)
            setattr(CheckpointFS, name, self._wrap(self._saved[name]))
        try:
            yield self
        finally:
            for name, fn in self._saved.items():
                setattr(CheckpointFS, name, fn)
            self._saved.clear()


def dir_bytes(path: str) -> int:
    """Bytes under a directory, or of a single file."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
