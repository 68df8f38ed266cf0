"""Host facts read from /proc: memory size, CPU steal, process age, and the
summed RSS of this process's descendants (the Spark driver JVM and its
Python workers)."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_age_s() -> float:
    """Seconds since this process was exec'd (for a setup clock that starts
    at process start, not at the first line of Python)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / CLK_TCK)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_by_pid(pids: list[int]) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            pass  # exited between listing and reading
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Background sampler of the summed RSS of the descendant JVM and
    Python processes.
    Only samples while ``active`` is set, so set-up and oracle work do not
    count toward the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        #: RSS (MB) by process name at the moment of the peak
        self.peak_parts: dict[str, float] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.interval_s):
            if not self.active.is_set():
                continue
            if n % 10 == 0:  # rescanning /proc costs more than reading statm
                pids = [p for p in descendants(me) if _counted(_comm(p))]
            n += 1
            rss = rss_by_pid(pids)
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                parts: dict[str, float] = {}
                for pid, b in rss.items():
                    name = _comm(pid)
                    parts[name] = parts.get(name, 0.0) + b / 2**20
                self.peak_parts = parts


def _counted(comm: str) -> bool:
    """The driver JVM and the Python workers. A child the JVM forks to run
    a shell command shares the JVM's pages until it execs, and carries the
    forking thread's name; counting it would add the JVM's RSS twice."""
    return comm == "java" or comm.startswith("python")


def reap_descendants(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left after the
    timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while _alive(p):
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
