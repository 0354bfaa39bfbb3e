"""Process-tree CPU and memory from ``/proc`` (psutil is not available).

The tree is the benchmark's own process and every descendant: the
Spark driver JVM and the Python worker daemon with its workers.
CPU time counts each live process's user + system time plus the time
of children it has reaped, so a worker that exits between two reads
moves its time into its parent's count instead of losing it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin1")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("latin1")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int, ppid: int, root: int) -> str:
    """'root', 'jvm' (the root's java child), 'worker' (the PySpark
    daemon and its workers) or 'other'.  'other' covers the JVM's
    short-lived helper forks: until they exec they share the JVM's
    whole heap, and counting their RSS would count the heap twice."""
    if pid == root:
        return "root"
    cmd = _cmdline(pid)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "worker"
    if ppid == root and "java" in cmd:
        return "jvm"
    return "other"


class Snapshot:
    """CPU seconds of a process tree, and resident MiB of its root, JVM
    and Python workers, at one instant.  ``kinds`` caches each pid's
    :func:`_kind`."""

    def __init__(self, root: int, kinds: dict[int, str] | None = None):
        kinds = {} if kinds is None else kinds
        self.cpu_s = 0.0
        self.rss_mb = 0.0
        self.worker_rss_mb = 0.0
        for pid in descendants(root):
            st = _stat(pid)
            if st is None:
                continue
            # fields after ')' start at index 0 = state; utime is field
            # 14 of /proc/pid/stat, i.e. index 11 here
            self.cpu_s += sum(int(x) for x in st[11:15]) / _TICK
            if pid not in kinds:
                kinds[pid] = _kind(pid, int(st[1]), root)
            if kinds[pid] == "other":
                continue
            rss = int(st[21]) * _PAGE / 2**20
            self.rss_mb += rss

            if kinds[pid] == "worker":
                self.worker_rss_mb += rss


class Sampler:
    """Samples this process's tree on a background thread between
    :meth:`start` and :meth:`stop`; :meth:`stop` returns
    ``(cpu_s, peak_rss_mb, peak_worker_rss_mb)`` over the interval."""

    interval = 0.1  # s

    def __init__(self):
        self.root = os.getpid()
        self._kinds: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.peak_rss_mb = 0.0
        self.peak_worker_rss_mb = 0.0

    def _sample(self) -> Snapshot:
        snap = Snapshot(self.root, self._kinds)
        self.peak_rss_mb = max(self.peak_rss_mb, snap.rss_mb)
        self.peak_worker_rss_mb = max(self.peak_worker_rss_mb,
                                      snap.worker_rss_mb)
        return snap

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self.peak_rss_mb = self.peak_worker_rss_mb = 0.0
        self._stop.clear()
        self._cpu0 = self._sample().cpu_s
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        cpu = self._sample().cpu_s - self._cpu0
        return cpu, self.peak_rss_mb, self.peak_worker_rss_mb


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives the
    timeout."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _stat(p) is not None]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in alive:
        while _alive(pid) and time.monotonic() < deadline + 10:
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
