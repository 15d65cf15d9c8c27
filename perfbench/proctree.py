"""The benchmark's process tree: whole-tree RSS, teardown, host gauge.

``getrusage`` cannot see a live JVM or the Python workers it forks, so
peak memory is sampled from ``/proc`` for this process and every
descendant: Spark driver JVM, daemon-forked Python workers, the MCP
server.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import zlib

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """``(state, ppid, start_time)`` of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return None
    # fields from 3 (state) on follow the parenthesised command name
    fields = stat[stat.rfind(b")") + 2:].split()
    return fields[0], int(fields[1]), int(fields[19])


def descendants(root: int) -> list:
    """PIDs of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _stat(int(entry))
            if stat is not None:
                children.setdefault(stat[1], []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for pid in children.get(stack.pop(), ()):
            out.append(pid)
            stack.append(pid)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class TreeRssSampler:
    """Background thread sampling the summed RSS of this process tree.
    ``peak_mb`` is the largest sum seen and ``peak_detail`` its MB by
    process name; ``seen`` maps every descendant PID observed to its
    start time, so teardown can wait for each of them to end."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_detail: dict = {}
        self.samples = 0
        self.seen: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        root = os.getpid()
        pids = descendants(root)
        for pid in pids:
            if pid not in self.seen:
                stat = _stat(pid)
                if stat is not None:
                    self.seen[pid] = stat[2]
        rss = {p: _rss_bytes(p) for p in [root, *pids]}
        total = sum(rss.values())
        self.samples += 1
        if total > self.peak_bytes:
            self.peak_bytes = total
            detail: dict = {}
            for pid, b in rss.items():
                name = _comm(pid)
                detail[name] = detail.get(name, 0) + b / (1024 * 1024)
            self.peak_detail = detail

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def wait_gone(seen: dict, timeout_s: float = 30.0) -> list:
    """Wait until none of the processes in ``seen`` (pid -> start time)
    is alive; SIGKILL what outlives ``timeout_s``.  A PID reused by
    another process does not count.  Returns the PIDs killed."""
    pids = dict(seen)
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p: t for p, t in pids.items() if _alive(p, t)}
        if pids:
            time.sleep(0.05)
    killed = []
    for pid, start in pids.items():
        if _alive(pid, start):
            os.kill(pid, 9)
            killed.append(pid)
    return killed


def _alive(pid: int, start_time: int) -> bool:
    stat = _stat(pid)
    # a zombie has ended; only its parent's reap is missing
    return stat is not None and stat[2] == start_time and stat[0] != b"Z"


def host_control_ms(units: int = 20) -> float:
    """Host speed gauge, for information only: the best of three timings
    of a fixed stdlib-only unit (sha256 and zlib over 64 KiB plus a
    pure-Python loop), in ms per unit.  It moves with the host's
    single-thread speed, never with the code under test."""
    block = bytes(range(256)) * 256
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for _ in range(units):
            acc += hashlib.sha256(block).digest()[0] + len(zlib.compress(block, 6))
            for j in range(20_000):
                acc += j & 7
        best = min(best, (time.perf_counter() - t0) * 1000.0 / units)
    return best
