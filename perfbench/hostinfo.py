"""Host context and process-tree memory for one benchmark run.

Host facts (CPU count, steal, versions) are recorded as run metadata, not
as metrics. Peak RSS covers this Python process, the Spark JVM it
launches and the Python workers the JVM forks: a background thread sums
the resident set of the whole process tree rooted at this process.
"""

from __future__ import annotations

import os
import platform
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    """CPUs this process may run on (what `nproc` prints when
    OMP_NUM_THREADS is unset)."""
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings, in percent."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 else 0.0


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited while we looked
        return None


def _processes() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, statm, cmdline) for every visible process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        statm = _read(f"/proc/{name}/statm")
        cmdline = _read(f"/proc/{name}/cmdline")
        if stat is None or statm is None or cmdline is None:
            continue
        # comm (field 2) may hold spaces; ppid is the 2nd field after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        procs[int(name)] = (ppid, statm, cmdline)
    return procs


def tree_rss_bytes(root: int) -> int:
    """RSS summed over the process tree under `root`. A child that reads
    exactly like its parent (same command line and memory counters) has
    not exec'd yet: the JVM starts helper commands through vfork, whose
    child shares the JVM's memory, so counting it would count the JVM
    twice."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _statm, _cmd) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if pid not in procs:
            continue
        ppid, statm, cmd = procs[pid]
        parent = procs.get(ppid)
        if pid != root and parent is not None and parent[1:] == (statm, cmd):
            continue
        total += int(statm.split()[1]) * _PAGE
    return total


class PeakRss:
    """Samples the RSS of this process tree every `interval` seconds until
    stopped; `peak_mb` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self._peak = max(self._peak, tree_rss_bytes(root))
            if self._stop.wait(self._interval):
                return

    @property
    def peak_mb(self) -> float:
        return max(self._peak, tree_rss_bytes(os.getpid())) / 2**20
