"""Host context and memory: load, steal, a CPU canary, and the peak RSS
of this process tree.

Load figures are context for the reader of a run. No metric is scaled by
them: a canary-scaled headline moves with the canary's own noise, and a
run on a loaded box should read slower, not be corrected."""

from __future__ import annotations

import hashlib
import os
import threading
import time


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, idle, steal) jiffies of the whole box from /proc/stat."""
    with open("/proc/stat") as fh:
        p = [int(x) for x in fh.readline().split()[1:9]]
    idle = p[3] + p[4]
    return sum(p) - idle, idle, p[7]


def canary_mops(n: int = 100_000) -> float:
    """Fixed single-threaded Python work, in million hashes per second."""
    t0 = time.perf_counter()
    h = 0
    for i in range(n):
        h ^= hashlib.md5(b"canary %d" % i).digest()[0]
    return n / (time.perf_counter() - t0) / 1e6


class LoadContext:
    """Load average, steal share and canary over a run."""

    def __init__(self):
        self.load_start = loadavg()
        self.canary_start = canary_mops()
        self._ticks = cpu_ticks()

    def finish(self) -> dict:
        busy, idle, steal = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        total = max(busy + idle, 1)
        return {"loadavg_start": self.load_start, "loadavg_end": loadavg(),
                "cpu_busy_frac": round(busy / total, 4),
                "cpu_steal_frac": round(steal / total, 4),
                "canary_mops_start": round(self.canary_start, 4),
                "canary_mops_end": round(canary_mops(), 4)}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name may contain spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0  # a kernel thread or a zombie


def tree_peak_rss_bytes(root: int) -> int:
    """Summed peak resident set size of ``root`` and all its living
    descendants. Each process's own peak comes from the kernel, so a
    short spike counts whether or not a sample falls on it.

    A child of the JVM that still runs the java executable is skipped: the
    JVM forks itself to run shell commands (file permissions on local
    writes), and until the fork execs it reports the whole JVM heap as its
    own resident set, which would double the sum for a moment."""
    kids = _children_map()
    total = 0
    todo = [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        todo.extend((k, exe) for k in kids.get(pid, ()))
        try:
            total += _peak_rss_bytes(pid)
        except OSError:  # the process ended while we read it
            continue
    return total


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the process tree's summed peak RSS on a background thread
    and keeps the largest sum. Use as a context manager; the thread is
    joined on exit."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_peak_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
