"""Host description and process-tree resource accounting.

The process tree is this python process and every descendant: the JVM
that ``pyspark`` launches, its python worker daemon and the workers it
forks. CPU and resident memory are read from ``/proc`` so the JVM and
the workers count, not just the driver interpreter.
"""

from __future__ import annotations

import os
import platform
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command field may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live tree, including reaped children
    (a worker that exited is charged to the parent that waited for it)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state): utime..cstime are fields 14-17
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


class PeakRss:
    """Samples the tree's resident memory on a thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) / 1024
    return out


def _cgroup_mem_limit_mb() -> float | None:
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:
            return int(raw) / 1e6
        return None  # "max" or the v1 no-limit sentinel
    return None


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def usable_mem_mb() -> float:
    mem = _meminfo_mb()["MemTotal"]
    limit = _cgroup_mem_limit_mb()
    return min(mem, limit) if limit else mem


def describe(spark) -> dict:
    """Host and effective-session description for the run artifact.

    The benchmark sets no CPU affinity; the affinity it reports is read
    back from the kernel, so a pinned launcher shows up as such."""
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "cpus_affinity": sorted(os.sched_getaffinity(0)),
        "cpus": usable_cpus(),
        "cpu_pinned": False,
        "cpu_pinned_reason": "the benchmark sets no CPU affinity",
        "mem": {**_meminfo_mb(), "cgroup_limit_mb": _cgroup_mem_limit_mb()},
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "conf": {
            "master": conf.get("spark.master"),
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions", None),
            "ActiveProcessorCount": jvm.java.lang.Runtime.getRuntime().availableProcessors(),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        },
    }
