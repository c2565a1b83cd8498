"""Process-tree readings from /proc: the benchmark process, the driver
JVM it launched, and the JVM's Python workers."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1], *rest.split()]


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def python_worker_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the Python processes below the JVM, including
    workers that already exited and were reaped by the pyspark daemon."""
    me = root or os.getpid()
    total = 0
    for pid in descendants(me):
        st = _stat(pid)
        if pid == me or st is None or not st[0].startswith("python"):
            continue
        # fields 14-17 (1-based): utime stime cutime cstime
        total += sum(int(x) for x in st[12:16])
    return total / _TICK


class PeakRss:
    """Samples the tree's RSS in a background thread while active."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
