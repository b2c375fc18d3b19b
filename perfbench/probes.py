"""Measurements taken from outside the package: ``/proc`` for the process
tree (driver, JVM, Python workers) and Spark's own status store for job,
stage and task metrics."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, utime+stime ticks, cutime+cstime ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is stat field 3 (state); utime..cstime are fields 14-17
    own = int(fields[11]) + int(fields[12])
    return int(fields[1]), comm, own, int(fields[13]) + int(fields[14])


def _rss_bytes(pid: int, shared: bool) -> int:
    """Resident memory of ``pid``. For a process that shares pages with
    others in the tree (a Python worker shares its daemon's), PSS: shared
    pages are divided among the sharers, so summing over the tree counts
    each page once. For the others, VmRSS. PSS comes from smaps_rollup,
    which walks the process's page tables under its memory-map lock: about
    15 ms for a 2 GB JVM, during which the JVM cannot map memory, so it is
    read only where it differs from RSS."""
    path, key = (f"/proc/{pid}/smaps_rollup", "Pss:") if shared else (f"/proc/{pid}/status", "VmRSS:")
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_ticks() -> list[int]:
    """The VM's CPU time counters (``cpu`` line of /proc/stat), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the VM's CPU time between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests (steal, the eighth counter)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


@dataclass
class TreeSample:
    rss: dict[str, int] = field(default_factory=dict)  # role -> bytes
    cpu: dict[str, float] = field(default_factory=dict)  # role -> seconds
    pids: set[int] = field(default_factory=set)


def sample_tree(root: int) -> TreeSample:
    """RSS and CPU of ``root`` and its descendants, by role: ``driver``
    (the root), ``jvm`` (java processes) and ``python`` (Python workers and
    their daemon). A worker's CPU moves into its parent's cutime/cstime
    once reaped, so summing all four counters over live processes keeps
    finished workers' CPU."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out = TreeSample()
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        todo.extend(kids.get(pid, []))
        _ppid, comm, own, reaped = procs[pid]
        role = "driver" if pid == root else ("jvm" if comm == "java" else "python")
        # a JVM's reaped children are launcher shells, not Python workers
        ticks = own if role == "jvm" else own + reaped
        out.pids.add(pid)
        out.rss[role] = out.rss.get(role, 0) + _rss_bytes(pid, role == "python")
        out.cpu[role] = out.cpu.get(role, 0.0) + ticks / _TICK
    return out


class TreeSampler:
    """Background thread recording the peak RSS of the process tree, in
    total and by role."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak: dict[str, int] = {}
        self.seen_pids: set[int] = set()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="perfbench-rss")

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.record(sample_tree(self.root))
            self._stop.wait(self.interval_s)

    def record(self, s: TreeSample) -> None:
        with self._lock:
            self.peak_total = max(self.peak_total, sum(s.rss.values()))
            for role, b in s.rss.items():
                self.peak[role] = max(self.peak.get(role, 0), b)
            self.seen_pids |= s.pids

    def reset(self) -> None:
        """Forget the peaks recorded so far."""
        with self._lock:
            self.peak = {}
            self.peak_total = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    return alive


# --- Spark status store ----------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class StageStats:
    start: float
    end: float
    tasks: list[float]  # task durations, s
    run_s: float
    cpu_s: float
    shuffle_write: int


@dataclass
class JobStats:
    start: float
    end: float
    stages: list[StageStats]


class SparkStatus:
    """Reads job/stage/task metrics for a job group from the driver's
    ``AppStatusStore``, and SQL executions from its ``SQLAppStatusStore``
    (both populated whether or not the web UI is enabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        self.sql_store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors,
        which in local mode also run the executor's tasks."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def sql_executions(self, lo: float, hi: float) -> list[tuple[float, float]]:
        """(submission, completion) of each finished Spark SQL execution
        submitted within ``[lo, hi]``: query planning, adaptive re-planning
        and the jobs, as Spark's SQL status store records them."""
        out = []
        lst = self.sql_store.executionsList()
        for i in range(lst.size()):
            e = lst.apply(i)
            start = e.submissionTime() / 1000.0
            end = e.completionTime()
            if end.isDefined() and lo <= start <= hi:
                out.append((start, end.get().getTime() / 1000.0))
        return out

    def group(self, group: str) -> list[JobStats]:
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            ids = j.stageIds()
            stages = [self._stage(ids.apply(k)) for k in range(ids.size())]
            out.append(
                JobStats(
                    _opt_ms(j.submissionTime()),
                    _opt_ms(j.completionTime()),
                    [s for s in stages if s is not None],
                )
            )
        out.sort(key=lambda j: j.start)
        return out

    def _stage(self, stage_id: int) -> StageStats | None:
        tl = self.store.taskList(stage_id, 0, 1_000_000)
        n = tl.size()
        if n == 0:  # skipped stage (its shuffle output was reused)
            return None
        durs, starts, ends = [], [], []
        run = cpu = 0.0
        shuffle = 0
        for k in range(n):
            t = tl.apply(k)
            launch = t.launchTime().getTime() / 1000.0
            dur = t.duration().get() / 1000.0 if t.duration().isDefined() else 0.0
            durs.append(dur)
            starts.append(launch)
            ends.append(launch + dur)
            m = t.taskMetrics()
            if m.isDefined():
                m = m.get()
                run += m.executorRunTime() / 1000.0
                cpu += m.executorCpuTime() / 1e9
                shuffle += m.shuffleWriteMetrics().bytesWritten()
        return StageStats(min(starts), max(ends), durs, run, cpu, shuffle)
