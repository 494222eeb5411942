"""Measurement probes: Spark session lifecycle, task metrics from the status
store, and memory and CPU time of the Spark processes from ``/proc``.

Task metrics are the ones Spark already keeps per stage in its status store
(``AppStatusStore``, populated with ``spark.ui.enabled=false`` too), grouped
by the job group each span sets, so reading them costs no extra Spark job.
"""

from __future__ import annotations

import bisect
import os
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, fields

from pyspark import SparkContext


def start_session():
    """``session.get_spark()`` with its defaults, timed: JVM launch, context
    and the Python-worker prewarm. Returns ``(spark, wall seconds, CPU
    seconds)``; the CPU is this process's plus the JVM tree's, which started
    with the session (``tree_cpu_s``)."""
    from log_parser_mind_spark.session import get_spark

    t0, c0 = time.perf_counter(), time.process_time()
    spark = get_spark()
    wall, cpu = time.perf_counter() - t0, time.process_time() - c0
    return spark, wall, cpu + tree_cpu_s(jvm_pid())


def stop_session(spark) -> None:
    """Stop the context, shut down the py4j gateway and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    return SparkContext._gateway.proc.pid


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@dataclass
class StageTotals:
    cpu_s: float = 0.0
    run_s: float = 0.0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_records: int = 0
    stages: int = 0

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def stage_totals(spark) -> dict[str | None, StageTotals]:
    """Σ task metrics of the stages that ran, per job group (``None`` for
    jobs started outside any group). A stage skipped because its shuffle
    output was reused is not counted again."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # events reach the store asynchronously
    store = sc._jsc.sc().statusStore()
    stages = {}
    for s in _seq(store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)):
        if s.status().toString() in ("COMPLETE", "FAILED"):
            t = StageTotals(
                cpu_s=s.executorCpuTime() / 1e9,
                run_s=s.executorRunTime() / 1e3,
                tasks=s.numTasks(),
                shuffle_bytes=s.shuffleWriteBytes(),
                input_records=s.inputRecords(),
                stages=1,
            )
            stages.setdefault(s.stageId(), StageTotals()).add(t)
    out: dict = {}
    seen: set[int] = set()
    for j in _seq(store.jobsList(None)):
        tot = out.setdefault(_opt(j.jobGroup()), StageTotals())
        for sid in _seq(j.stageIds()):
            if sid in stages and sid not in seen:
                seen.add(sid)
                tot.add(stages[sid])
    return out


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process exited between listing and reading
    return 0


def _cpu_s(pid: int, reaped: bool = False) -> float | None:
    """User+system CPU seconds of ``pid``; with ``reaped``, plus those of its
    children that have exited and been waited for."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return sum(int(f) for f in fields[11:15 if reaped else 13]) / _CLK_TCK


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process tree over its whole life so far: every live
    process, and every child one of them has reaped (the JVM's count
    includes the launcher that ``spark-class`` runs before it execs java)."""
    return sum(_cpu_s(p, reaped=True) or 0.0 for p in _descendants(root_pid))


_CLK_TCK = os.sysconf("SC_CLK_TCK")


class ProcSampler:
    """Polls ``/proc`` for a process tree: the JVM and the Python workers it
    forks. Memory is the sum of the processes' proportional set size, so
    pages a forked worker shares with its parent count once; ``peak_mb`` is
    the largest sum seen. CPU is user+system time of the tree (a process
    that exits keeps its last reading), recorded as a timeline so
    ``cpu_between`` can charge any interval. Process CPU time excludes time
    the hypervisor stole from the VM, unlike wall time."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self.timeline: list[tuple[float, float]] = []
        self._cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        pids = _descendants(self.root_pid)
        for pid in pids:
            cpu = _cpu_s(pid)
            if cpu is not None:
                self._cpu[pid] = cpu
        self.timeline.append((time.perf_counter(), sum(self._cpu.values())))
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._poll()

    def __enter__(self):
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def cpu_at(self, t: float) -> float:
        """Tree CPU seconds at ``time.perf_counter()`` value ``t``,
        interpolated between the polls around it."""
        tl = self.timeline
        i = bisect.bisect_left(tl, (t,))
        if i == 0:
            return tl[0][1]
        if i == len(tl):
            return tl[-1][1]
        (t0, c0), (t1, c1) = tl[i - 1], tl[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def cpu_between(self, t0: float, t1: float) -> float:
        return self.cpu_at(t1) - self.cpu_at(t0)


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
