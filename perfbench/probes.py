"""Read-only probes into the running system, from outside the engine.

Everything here reads what Spark and the OS already keep: the JVM status
store (job and stage metrics; it is filled with the UI disabled), the
Python status tracker (job ids per job group), the block manager's RDD
storage report, the JVM's garbage-collector beans, and ``/proc``.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession

MB = 1024.0 * 1024.0


def jvm_pid(spark: SparkSession) -> int | None:
    """Pid of the driver JVM that pyspark launched (``spark-submit``
    execs into ``java``, so the launcher's pid is the JVM's)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of the driver JVM."""
    return _vm_hwm_kb("self") / 1024.0, (_vm_hwm_kb(pid) if pid else 0) / 1024.0


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and every process below it, reaped children
    included."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / _HZ


def _cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the CPUs this process may run on."""
    cpus = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    busy = steal = total = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *vals = line.split()
            if name in cpus:
                # user nice system idle iowait irq softirq steal
                v = [int(x) for x in vals[:8]]
                total += sum(v)
                steal += v[7]
                busy += sum(v) - v[3] - v[4] - v[7]
    return busy, steal, total


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_ref_ms() -> float:
    """Best of three timings of a fixed single-threaded Python loop: how
    fast a core is right now. Contention that steal time does not show,
    such as a busy sibling hyperthread on the host, makes it read high."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return 1e3 * best


class MachineLoad:
    """How busy the machine was while the run measured: the share of its
    CPUs' time that went to processes outside the run and to the hypervisor
    (steal), the 1-minute load average and the speed of a core at both ends.
    A run with a high share or a slow core competed for the CPUs and its
    times read high."""

    def __init__(self):
        self.ref0 = _cpu_ref_ms()
        self.wall0 = time.perf_counter()
        self.own0 = _tree_cpu_s(os.getpid())
        self.jiffies0 = _cpu_jiffies()
        self.load0 = _load1()

    def finish(self) -> dict[str, float]:
        """Call while every process of the run is still alive."""
        busy1, steal1, total1 = _cpu_jiffies()
        own = _tree_cpu_s(os.getpid()) - self.own0
        wall = time.perf_counter() - self.wall0
        busy0, steal0, total0 = self.jiffies0
        cores = len(os.sched_getaffinity(0))
        foreign = ((busy1 - busy0) / _HZ - own) / (wall * cores)
        return {
            "load1_start": self.load0,
            "load1_end": _load1(),
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "foreign_cpu_share": max(0.0, foreign),
            "own_cpu_s": own,
            "cpu_ref_ms_start": self.ref0,
            "cpu_ref_ms_end": _cpu_ref_ms(),
        }


def gc_seconds(spark: SparkSession) -> float:
    """Cumulative GC time of the driver JVM (which also runs the local
    executor's tasks)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1e3


def drain_listener_bus(spark: SparkSession) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def next_job_id(spark: SparkSession) -> int:
    """The id the next submitted job will get; job ids are dense."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def group_job_ids(spark: SparkSession, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group) or [])


@dataclass
class ExecTotals:
    """Summed task metrics of a set of jobs (each stage counted once)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "ExecTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def exec_totals(spark: SparkSession, job_ids: list[int]) -> ExecTotals:
    """Job/stage/task metrics of ``job_ids`` from the JVM status store.
    Call :func:`drain_listener_bus` first."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = ExecTotals(jobs=len(job_ids))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never submitted
            continue
        if str(st.status().toString()) != "COMPLETE":
            continue
        out.stages += 1
        out.tasks += st.numCompleteTasks()
        out.executor_run_s += st.executorRunTime() / 1e3
        out.executor_cpu_s += st.executorCpuTime() / 1e9
        out.input_mb += st.inputBytes() / MB
        out.shuffle_read_mb += (st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()) / MB
        out.shuffle_write_mb += st.shuffleWriteBytes() / MB
        out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


def pinned_storage(spark: SparkSession) -> tuple[int, float]:
    """(RDDs holding blocks, MB they hold in memory and on disk): the
    ``localCheckpoint`` pins and any persisted frames still alive."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n, size = 0, 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size / MB


_LOG_RECORD = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ([A-Z]+) ")


def count_error_lines(log_path: str) -> int:
    """Lines of ERROR-level records in the JVM log: each record's first
    line plus the exception and stack-trace lines that follow it."""
    n = 0
    in_error = False
    try:
        with open(log_path, errors="replace") as f:
            for line in f:
                m = _LOG_RECORD.match(line)
                if m:
                    in_error = m.group(1) == "ERROR"
                n += in_error
    except OSError:
        pass
    return n
