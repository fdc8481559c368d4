"""CPU and RSS of the benchmark's whole process tree, read from /proc.

The tree is this Python process, the Spark JVM it launches and the
Python workers the JVM forks. Workers come and go during a pass, so
summing ``utime + stime`` over the live tree loses a worker's CPU the
moment it exits and the reading can go backwards. Instead each live
process contributes its own time plus ``cutime + cstime``: the time of
children it has already reaped. When a worker exits and its parent
reaps it, its CPU moves from its own entry into the parent's reaped
total, so the tree total stays continuous.

A snapshot lists the tree, reads every ``stat`` and lists the tree
again; it is retried until both listings agree, so an exit between
the reads cannot drop or double a process. A snapshot that still reads
lower than an earlier one is counted in ``backwards`` and the caller
treats the pass it falls in as a failed measurement.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    """(ppid, cpu_s incl. reaped children, rss_bytes) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parens: split after the
    # last ')'
    rest = raw[raw.rindex(b")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    rss_pages = int(rest[21])
    return ppid, (utime + stime + cutime + cstime) / _TICK, rss_pages * _PAGE


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return sorted(out)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class ProcessTree:
    """Consistent CPU snapshots and a background peak-RSS sampler."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.backwards = 0
        self.peak_rss_mb = 0.0
        self.workers_peak_rss_mb = 0.0
        self._last_cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._worker_pids: dict = {}

    def snapshot(self) -> tuple:
        """(cpu_s, rss_mb, workers_rss_mb) of the tree, read consistently."""
        for _ in range(20):
            pids = _tree(self.root)
            stats = {p: _read_stat(p) for p in pids}
            if None in stats.values() or _tree(self.root) != pids:
                continue
            cpu = sum(s[1] for s in stats.values())
            rss = sum(s[2] for s in stats.values()) / 2**20
            wrss = sum(s[2] for p, s in stats.items()
                       if self._is_worker(p)) / 2**20
            return cpu, rss, wrss
        raise RuntimeError("process tree kept changing during 20 reads")

    def pids(self) -> list:
        return _tree(self.root)

    def _is_worker(self, pid: int) -> bool:
        hit = self._worker_pids.get(pid)
        if hit is None:
            # forked workers keep the daemon's command line
            hit = "pyspark.daemon" in _cmdline(pid)
            self._worker_pids[pid] = hit
        return hit

    def cpu(self) -> float:
        """Tree CPU seconds; counts a reading below the last one."""
        cpu, rss, wrss = self.snapshot()
        with self._lock:
            if cpu < self._last_cpu - 1e-9:
                self.backwards += 1
            self._last_cpu = max(self._last_cpu, cpu)
            self._note_rss(rss, wrss)
        return cpu

    def _note_rss(self, rss: float, wrss: float) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        self.workers_peak_rss_mb = max(self.workers_peak_rss_mb, wrss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                _cpu, rss, wrss = self.snapshot()
            except RuntimeError:
                continue
            with self._lock:
                self._note_rss(rss, wrss)

    def start(self) -> "ProcessTree":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0)
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0
