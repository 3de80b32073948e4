"""Host facts, heap sizing and the process-tree RSS sampler."""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fd:
        for line in fd:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def heap_mb(available_mb: int) -> int:
    """Driver heap for local mode: a quarter of MemAvailable, so Python
    workers, the page cache and other tenants keep the rest, capped at
    2 GiB (the benchmark's inputs are a few MB) and floored at 1 GiB;
    rounded down to 256 MiB so small MemAvailable drift keeps one size."""
    return max(1024, min(2048, available_mb // 4 // 256 * 256))


def memcpy_gbps(mb: int = 64, reps: int = 3) -> float:
    """Best-of-`reps` single-stream copy bandwidth right now."""
    import numpy as np

    a = np.ones(mb * 1024 * 1024 // 8)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        b = a.copy()
        best = min(best, time.perf_counter() - t0)
        del b
    return mb / 1024 / best


def ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fd:
            # the command name may contain spaces; fields follow the last ')'
            return int(fd.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fd:
            return int(fd.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_mb(root: int) -> float:
    """RSS of `root` and all its descendants: the benchmark's Python, the
    driver JVM and the Spark Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = ppid(d)
            if pp is not None:
                children.setdefault(pp, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(children.get(pid, []))
    return total / 1024


class RssSampler:
    """Peak process-tree RSS, sampled from /proc on a background thread
    between start() and stop()."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.every_s)

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        return self.peak_mb


def du_bytes(path: str) -> int:
    """On-disk bytes of a file tree (apparent sizes of regular files)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total
