"""Host facts and process-tree memory, read from /proc.

Nothing here gates a run: the host record (cores, RAM, ambient steal, a
CPU-speed probe) is written next to every result so a slow run can be told
apart from a slow host afterwards.
"""

from __future__ import annotations

import os
import threading
import time
import zlib


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        # the command name may contain spaces; fields resume after ')'
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb() -> int:
    """Driver heap sized from the host: a quarter of RAM, within [1, 8] GiB.

    MemTotal, not MemAvailable, so the setting is the same on every run on
    one host and does not follow other tenants' load."""
    return max(1024, min(8192, meminfo_mb()["MemTotal"] // 4))


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def ambient_steal_pct(secs: float = 0.5) -> float:
    """Hypervisor steal while this process is idle: other tenants' load."""
    t0, s0 = _cpu_jiffies()
    time.sleep(secs)
    t1, s1 = _cpu_jiffies()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def cpu_speed_mb_s() -> float:
    """Single-core speed: MB/s through a fixed zlib round trip."""
    buf = bytes(range(256)) * (2 << 20 >> 8)
    t0 = time.perf_counter()
    n = len(zlib.decompress(zlib.compress(buf, 6)))
    return n / (time.perf_counter() - t0) / 1e6


def host_record() -> dict:
    mem = meminfo_mb()
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "ambient_steal_pct": ambient_steal_pct(),
        "cpu_speed_mb_s": cpu_speed_mb_s(),
    }


def descendants(root: int) -> list[int]:
    """``root`` and every process below it (driver JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's summed RSS in a background thread while
    armed; ``peak_mb()`` returns the high-water mark since ``arm()``."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._peak = 0
        self._armed = False
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="peak-rss")
        self._thread.start()

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self._interval):
            if self._armed:
                rss = _tree_rss_bytes(root)
                with self._lock:
                    self._peak = max(self._peak, rss)

    def arm(self) -> None:
        with self._lock:
            self._peak = _tree_rss_bytes(os.getpid())
        self._armed = True

    def peak_mb(self) -> float:
        self._armed = False
        with self._lock:
            self._peak = max(self._peak, _tree_rss_bytes(os.getpid()))
            return self._peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
