"""Host readings from /proc: process-tree RSS, CPU steal share, load, and
the environment record that goes with every result.

psutil is not a dependency of the project, so everything here reads the
Linux /proc files directly.
"""

from __future__ import annotations

import os
import platform
import threading


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


def cpu_seconds(pid: int) -> float:
    """User + system CPU of a process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds used so far by a process tree (this process by default).
    Time spent waiting for a core while other tenants run is not counted."""
    return sum(cpu_seconds(p) for p in process_tree(root or os.getpid()))


def tree_rss_bytes(root: int) -> int:
    return sum(rss_bytes(p) for p in process_tree(root))


class RssSampler:
    """Samples the summed RSS of a process tree on a background thread and
    keeps the peak. ``with RssSampler() as s: ...; s.peak_mb``."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit(root: str) -> str:
    """The commit of the checkout, read from .git without running git; a
    checkout exported without .git reports ``unknown``."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def environment(root: str, spark=None) -> dict:
    """Host and software record: cores, RAM, versions, commit and (given a
    session) the effective Spark configuration."""
    import pyarrow
    import pyspark

    env = {
        "cores": cores(),
        "mem_total_gib": round(mem_total_gib(), 2),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": _git_commit(root),
    }
    if spark is not None:
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        env["spark_conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
    return env
