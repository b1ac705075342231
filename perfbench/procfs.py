"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the Python driver (this process), the Spark JVM it launches,
and the ``pyspark.daemon`` Python workers the JVM forks.  Each process is
put in one of three roles:

* ``driver``   -- this process;
* ``jvm``      -- descendants of the driver that are not under a Python worker
  daemon (the SparkSubmit JVM and its launch scripts);
* ``pyworker`` -- the ``pyspark.daemon`` process and everything below it.

CPU is ``utime + stime + cutime + cstime`` of every live process, so the CPU
of a worker that has exited and been reaped is still counted, in its
parent's ``cutime``.
"""

from __future__ import annotations

import os
import threading

ROLES = ("driver", "jvm", "pyworker")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def _stat(pid: str) -> tuple[int, float, float] | None:
    """(parent pid, cpu seconds, rss MB) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state (field 3 of stat); utime..cstime are fields 14-17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE_MB


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot
    (the ``steal`` column of ``/proc/stat``): time the benchmark waited for
    other tenants of a shared host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def snapshot(root: int | None = None) -> dict[str, dict[str, float]]:
    """Per-role ``cpu_s`` and ``rss_mb`` of the tree under ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {role: {"cpu_s": 0.0, "rss_mb": 0.0} for role in ROLES}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        if role == "jvm" and "pyspark.daemon" in _cmdline(pid):
            role = "pyworker"
        _, cpu, rss = procs[pid]
        out[role]["cpu_s"] += cpu
        out[role]["rss_mb"] += rss
        child_role = "jvm" if role == "driver" else role
        stack.extend((c, child_role) for c in children.get(pid, ()))
    return out


def tree_rss(snap: dict) -> float:
    return sum(snap[r]["rss_mb"] for r in ROLES)


def tree_cpu(snap: dict) -> float:
    return sum(snap[r]["cpu_s"] for r in ROLES)


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                out[int(name)] = st[0]
    return out


def _under(pid: int, root: int, parents: dict[int, int]) -> bool:
    while pid in parents and pid not in (0, 1):
        pid = parents[pid]
        if pid == root:
            return True
    return False


def descendants(root: int | None = None) -> list[int]:
    """PIDs of every live process below ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    parents = _parents()
    return sorted(pid for pid in parents if _under(pid, root, parents))


def foreign_spark_jvms(root: int | None = None) -> list[int]:
    """PIDs of SparkSubmit JVMs on the host that are not in this process tree."""
    root = os.getpid() if root is None else root
    parents = _parents()
    return sorted(
        pid for pid in parents
        if pid != root and not _under(pid, root, parents)
        and "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
    )


class PeakSampler:
    """Background thread that samples the tree every ``interval`` seconds and
    keeps the peak RSS of the whole tree and of each role."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_tree_mb = 0.0
        self.peak_role_mb = {role: 0.0 for role in ROLES}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-procfs", daemon=True)

    def sample(self) -> dict:
        snap = snapshot()
        with self._lock:
            self.peak_tree_mb = max(self.peak_tree_mb, tree_rss(snap))
            for role in ROLES:
                self.peak_role_mb[role] = max(self.peak_role_mb[role], snap[role]["rss_mb"])
        return snap

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
