"""Process-tree CPU and memory, and the host regime, read from /proc.

The benchmark process launches the Spark JVM, which launches the
Python workers; all of them together are "the process tree". CPU is
utime+stime of every live process in the tree plus what each has
collected from children it reaped. Peak memory is the tree's anonymous
resident memory (``RssAnon``: heap, stacks, native buffers; mapped
files left out), sampled by a background thread while the timed phase
runs.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of the tree, including reaped children."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("RssAnon:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak tree RSS between ``start()`` and ``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._done.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return float("nan")


class HostRegime:
    """Diagnostics stamped on every run (not gated): steal jiffies over
    the run, load averages, CPU count and available memory."""

    def __init__(self):
        self._steal0 = _steal_jiffies()

    def stamp(self) -> dict:
        with open("/proc/loadavg") as f:
            load1, load5 = (float(x) for x in f.read().split()[:2])
        return {
            "steal_jiffies": _steal_jiffies() - self._steal0,
            "load1": load1,
            "load5": load5,
            "nproc": os.cpu_count(),
            "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        }
