"""Process-tree CPU and memory from ``/proc`` (``psutil`` is not installed).

The tree is this process and every descendant: the Spark driver JVM the
session launches and the Python workers it forks.  CPU is user+sys of the
live members plus what they have reaped from exited children (``cutime``,
``cstime``), so short-lived workers are still counted once their parent
waits for them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, /proc/<pid>/stat fields after the name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode()
        except OSError:  # exited between listdir and open
            continue
        close = raw.rindex(")")
        out[int(name)] = (raw[raw.index("(") + 1:close], raw[close + 2:].split())
    return out


def _children(stats) -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for pid, (_, f) in stats.items():
        children.setdefault(int(f[1]), []).append(pid)  # f[1] is the ppid
    return children


def _tree(stats, root: int) -> list[list[str]]:
    """Stat fields of ``root`` and its descendants.

    A child caught between fork and exec (the JVM spawning a helper
    process) still maps its parent's whole heap and would count it twice.
    Such a child's RSS equals its parent's, so a child within 1% of its
    parent's RSS is skipped; its own children are not.  A Python worker
    forked from the worker daemon matches only until its first allocations,
    which are immediate."""
    children = _children(stats)
    out, todo = [], [(root, None)]
    while todo:
        pid, parent_rss = todo.pop()
        if pid not in stats:
            continue
        f = stats[pid][1]
        rss = int(f[21])  # pages
        if parent_rss is None or abs(rss - parent_rss) * 100 > parent_rss:
            out.append(f)
        todo.extend((c, rss) for c in children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of the tree rooted at ``root`` (default: us)."""
    procs = _tree(_stats(), root or os.getpid())
    # fields after the name: utime=11, stime=12, cutime=13, cstime=14
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in procs) / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    procs = _tree(_stats(), root or os.getpid())
    return sum(int(f[21]) for f in procs) * _PAGE  # f[21]: rss, in pages


def descendant_pids(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: us), excluding ``root``."""
    children = _children(_stats())
    out, todo = [], list(children.get(root or os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class PeakRss:
    """One background thread sampling the tree's summed RSS; ``take()``
    returns the largest sample since the previous ``take()``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> float:
        """Peak MB since the last call (or since start), then reset."""
        now = tree_rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, now), now
        return peak / (1 << 20)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
