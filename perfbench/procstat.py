"""Process-tree CPU and memory from /proc, host steal time and a CPU
calibration loop. Linux only; no third-party modules."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """User+sys CPU seconds of this process's tree, reaped children
    included (utime + stime + cutime + cstime of every live member)."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def cpu_s_of(pid: int) -> float:
    """User+sys CPU seconds of one process (its own threads only)."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / _TICK if f else 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def steal_s() -> float:
    """Host-wide CPU steal seconds so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def cpu_calib_ms(reps: int = 5) -> float:
    """Median wall ms of a fixed pure-Python loop: a slow host shows
    here, a slow program does not."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t) * 1000)
    times.sort()
    return times[len(times) // 2]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pid(root: int) -> int | None:
    """The java process in the tree under ``root``."""
    javas = [p for p in tree_pids(root) if _comm(p) == "java"]
    return javas[0] if javas else None


class MemorySampler:
    """Samples the process tree's resident memory on a thread and keeps
    the peaks: ``peak`` (whole tree), ``peak_jvm`` (the java process) and
    ``peak_python`` (number of Python processes besides this one)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = python = 0
        for pid in tree_pids():
            f = _stat_fields(pid)
            if not f:
                continue
            rss = int(f[21]) * _PAGE
            total += rss
            comm = _comm(pid)
            if comm == "java":
                self.peak_jvm = max(self.peak_jvm, rss)
            elif comm.startswith("python") and pid != os.getpid():
                python += 1
        self.peak = max(self.peak, total)
        self.peak_python = max(self.peak_python, python)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
