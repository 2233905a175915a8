"""What Spark did for one benchmark op, read from the driver's status store.

The runner reads the DAG scheduler's job counter before and after each
op, drains the listener bus, and then asks the status store
(``AppStatusStore``; works with ``spark.ui.enabled=false``) for those
jobs and their stages. A single closed-loop client means every job in
that range belongs to the op.

The reuse guard is built on the same numbers: a timed op must skip no
stage whose output an earlier op wrote, and must scan and
shuffle-write exactly the bytes its warm-up run did. Anything else
means it reused shuffle files, checkpoint blocks or cached data from
an earlier op.
"""

from __future__ import annotations

import os
import resource
import time
from dataclasses import dataclass, fields

from pyspark.sql import SparkSession


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0

    def add(self, other: "ExecStats") -> None:
        for f in fields(self):
            setattr(self, f.name,
                    getattr(self, f.name) + getattr(other, f.name))


class StatusReader:
    """Reads job and stage data for a range of job ids."""

    def __init__(self, spark: SparkSession, skew: bool = False) -> None:
        jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._skew = skew
        gw = spark.sparkContext._gateway  # noqa: SLF001
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def collect(self, job_lo: int, job_hi: int) -> ExecStats:
        """Stats for jobs ``job_lo <= id < job_hi``. Stages shared by
        several jobs of the op are counted once."""
        out = ExecStats(jobs=job_hi - job_lo)
        if job_hi <= job_lo:
            return out
        self._bus.waitUntilEmpty(30_000)
        seen: set[int] = set()
        computed: set[int] = set()     # RDD ids of stages run in the op
        skipped: list[tuple] = []
        worst_run = -1
        worst_sid = None
        for jid in range(job_lo, job_hi):
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                status = str(sd.status())
                rdds = tuple(sorted(int(sd.rddIds().apply(k))
                                    for k in range(sd.rddIds().size())))
                if status == "SKIPPED":
                    tasks = self._store.taskList(sid, 0, 1 << 20)
                    if tasks.size() == 0:
                        skipped.append(rdds)
                        continue
                    # A job that starts after this op already ran the
                    # stage re-registers it and, at its end, overwrites
                    # the stage's record as SKIPPED with no metrics.
                    # The tasks are still stored: rebuild from them.
                    run = self._add_tasks(out, tasks)
                elif status == "COMPLETE":
                    out.tasks += int(sd.numCompleteTasks())
                    run = float(sd.executorRunTime())
                    out.run_ms += run
                    out.cpu_ms += sd.executorCpuTime() / 1e6
                    out.gc_ms += float(sd.jvmGcTime())
                    out.scan_bytes += int(sd.inputBytes())
                    out.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                    out.shuffle_read_bytes += int(sd.shuffleReadBytes())
                    out.spill_bytes += int(sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
                else:
                    continue
                computed.update(rdds)
                out.stages += 1
                if run > worst_run:
                    worst_run, worst_sid = run, (sid, int(sd.attemptId()))
        # A stage skipped because another job of the same op already
        # wrote its shuffle (same RDDs) is sharing inside the op; only a
        # stage whose output came from an earlier op is reuse.
        out.stages_skipped = sum(computed.isdisjoint(r) for r in skipped)
        if self._skew and worst_sid is not None:
            out.task_skew = self._task_skew(*worst_sid)
        return out

    @staticmethod
    def _add_tasks(out: ExecStats, tasks) -> float:
        run = 0.0
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if not m.isDefined():
                continue
            m = m.get()
            out.tasks += 1
            run += float(m.executorRunTime())
            out.cpu_ms += m.executorCpuTime() / 1e6
            out.gc_ms += float(m.jvmGcTime())
            out.scan_bytes += int(m.inputMetrics().bytesRead())
            out.shuffle_write_bytes += int(m.shuffleWriteMetrics()
                                           .bytesWritten())
            sr = m.shuffleReadMetrics()
            out.shuffle_read_bytes += int(sr.remoteBytesRead()
                                          + sr.localBytesRead())
            out.spill_bytes += int(m.memoryBytesSpilled()
                                   + m.diskBytesSpilled())
        out.run_ms += run
        return run

    def _task_skew(self, sid: int, attempt: int) -> float:
        """max / median task run time of one stage (1.0 = no skew)."""
        dist = self._store.taskSummary(sid, attempt, self._quantiles)
        if not dist.isDefined():
            return 0.0
        q = dist.get().executorRunTime()
        med, top = float(q.apply(0)), float(q.apply(1))
        return top / med if med > 0 else 1.0


def catalyst_phases(jdf) -> dict[str, float]:
    """analysis / optimization / planning ms of a Dataset's
    QueryExecution (``QueryPlanningTracker``)."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set of the driver: this Python process plus the
    JVM it drives."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    py_kb = _vm_hwm_kb("self") or resource.getrusage(
        resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


_TICK_MS = 1e3 / os.sysconf("SC_CLK_TCK")


def _process_clock(pid: int) -> int:
    """Linux clock id of a process's CPU clock (CPUCLOCK_SCHED, whole
    thread group): what ``clock_getcpuclockid(pid)`` returns."""
    return ((~pid) << 3) | 2


def driver_cpu_ms() -> float:
    """CPU ms of this Python process and its reaped children."""
    st = _stat(os.getpid())
    reaped = (int(st[13]) + int(st[14])) * _TICK_MS if st else 0.0
    return time.process_time() * 1e3 + reaped


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


# HotSpot's JIT compiler and code-cache sweeper threads (names are cut
# to 15 characters by the kernel)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


class CpuClock:
    """CPU time of the benchmark's process tree, split four ways: this
    Python driver, the Spark JVM without its JIT compiler, the JIT
    compiler, and the JVM's descendants (the PySpark daemon and its
    Python workers).

    Each live process is read through its CPU clock (nanoseconds, every
    thread, exited ones too); processes already reaped count through
    their parent's cumulative child time. On a kernel with paravirtual
    steal accounting, time the hypervisor gave to other guests is not
    in any of these clocks, so the sum measures the work the program
    did, not how busy the shared host was.

    The JIT compiler threads are read apart (``/proc/<jvm>/task``)
    because they compile in the background long after warm-up, at a
    rate set by the JVM's compile queue, not by the op running.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.jvm = int(spark._jvm.java.lang.ProcessHandle  # noqa: SLF001
                       .current().pid())
        self.workers: set[int] = set()
        self._names: dict[str, str] = {}       # JVM tid -> thread name
        self._jit: dict[str, float] = {}       # live JIT tid -> ms seen
        self._jit_gone = 0.0                   # ms of exited JIT threads
        self.rescan()

    def rescan(self) -> float:
        """Find the JVM's descendants; return the CPU ms of those not
        seen before (started since the last scan). Call outside timed
        intervals: it reads /proc for every process on the machine."""
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    kids.setdefault(int(st[1]), []).append(int(name))
        found, todo = set(), [self.jvm]
        while todo:
            for k in kids.get(todo.pop(), ()):
                found.add(k)
                todo.append(k)
        born = sum(self._read(p) for p in found - self.workers)
        self.workers = found
        return born

    @staticmethod
    def _read(pid: int) -> float:
        """ms of CPU: the process's clock plus its reaped children."""
        try:
            own = time.clock_gettime(_process_clock(pid)) * 1e3
        except OSError:
            return 0.0
        st = _stat(pid)
        reaped = (int(st[13]) + int(st[14])) * _TICK_MS if st else 0.0
        return own + reaped

    def _jit_ms(self) -> float:
        """CPU ms of the JVM's JIT threads, exited ones included."""
        task = f"/proc/{self.jvm}/task"
        live: dict[str, float] = {}
        for tid in os.listdir(task):
            name = self._names.get(tid)
            if name is None:
                try:
                    with open(f"{task}/{tid}/comm") as fh:
                        name = self._names[tid] = fh.read().strip()
                except OSError:
                    continue
            if name.startswith(_JIT_THREADS):
                try:
                    with open(f"{task}/{tid}/schedstat") as fh:
                        live[tid] = int(fh.read().split()[0]) / 1e6
                except OSError:
                    pass
        self._jit_gone += sum(v for t, v in self._jit.items()
                              if t not in live)
        self._jit = live
        return self._jit_gone + sum(live.values())

    def now(self) -> tuple[float, float, float, float]:
        """(driver, jvm without JIT, JIT, workers) CPU ms so far."""
        py = driver_cpu_ms()
        jvm = self._read(self.jvm)
        jit = self._jit_ms()
        return (py, jvm - jit, jit,
                sum(self._read(p) for p in self.workers))
