"""Host facts recorded with every run, and the peak-RSS sampler.

Numbers from different hosts must never be compared, so each run prints
nproc, the host-probe aggregate scaling, and the pyspark and Java versions.
``psutil`` is not installed; RSS is read from /proc.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    every ``interval`` seconds until stopped; ``peak_mb`` is the maximum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def host_probe(root: str, procs: int) -> float:
    """Aggregate scaling of ``scripts/host_probe.py``'s workload at
    ``procs`` processes: procs * wall(1) / wall(procs). Run before the JVM
    or any thread starts, so the fork context is safe."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    try:
        from host_probe import work
    finally:
        sys.path.pop(0)
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(procs)
    try:
        t0 = time.perf_counter()
        pool.map(work, range(1))
        one = time.perf_counter() - t0
        t0 = time.perf_counter()
        pool.map(work, range(procs))
        many = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return procs * one / many


def versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "python": sys.version.split()[0],
    }
