"""Host telemetry owned by the benchmark: session sizing from /proc/meminfo,
CPU steal from /proc/stat, a memory-bandwidth canary, and a peak-RSS
sampler over the driver JVM and its Python workers."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

#: Cores the benchmark gives Spark: the host's, capped at 4 so a larger
#: host measures the same configuration.
MAX_CORES = 4


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap() -> str:
    """Driver heap: a quarter of physical memory, between 1 and 2 GiB — the
    inputs are small, and the machine's memory is shared."""
    mib = meminfo_kb("MemTotal") // 1024 // 4
    return f"{max(1024, min(2048, mib))}m"


def steal_ticks() -> int:
    """Cumulative steal ticks over all CPUs (field 8 of the cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def steal_ms(ticks: int) -> float:
    return ticks * 1000.0 / os.sysconf("SC_CLK_TCK")


def canary_gbps(reps: int = 5) -> float:
    """Best-of-``reps`` copy bandwidth over a 64 MiB buffer, in GB/s
    (read + write bytes). A low value flags a noisy neighbour."""
    src = np.ones(8 << 20, dtype=np.float64)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return 2 * src.nbytes / best / 1e9


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    """Summed VmRSS of ``root_pid`` and all its descendants, in MiB."""
    kids = _children()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds in a
    background thread while the ``with`` block runs; ``peak_mb`` holds the
    maximum seen."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
