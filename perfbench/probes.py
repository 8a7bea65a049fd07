"""Host-side measurements: host context, process-tree RSS and latency tails.

Everything here reads ``/proc`` of the benchmark's own process tree: the
Spark driver JVM is a child of this Python process and the PySpark worker
daemon (with its forked workers) is a child of the JVM, so the descendants
of ``os.getpid()`` are exactly the JVM and the Python workers.
"""

from __future__ import annotations

import math
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # state and ppid follow the parenthesised command name
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the summed RSS of this process's descendants on a thread.

    Use as a context manager around the timed phase; ``peak_bytes`` holds
    the largest sum seen.
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, rss_bytes(descendants(os.getpid())))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it. With too few samples for any such
    percentile, returns the maximum and 100.0 so the caller can still
    report the sample count beside it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0
    k = n - beyond - 1  # index of the highest sample with `beyond` above it
    return xs[k], math.floor(100.0 * (k + 1) / n)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> int:
    """Wait until every process in ``pids`` has exited (they may have been
    re-parented away from this process by then); SIGKILL whatever is left
    after ``timeout_s``. Returns the number that had to be killed."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return 0
        time.sleep(0.2)
    left = [p for p in pids if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in left) and time.time() < deadline + 10:
        time.sleep(0.2)
    return len(left)
