"""Process-tree accounting from /proc: peak resident memory and shutdown.

The benchmark's process owns a whole tree (the Spark JVM it launches and
the Python UDF workers the JVM forks).  Peak memory is the peak SUM of
resident set sizes over that tree, sampled on a background thread.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _parent_map()
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:  # exited
        return None


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree, each address space counted once.  The JVM
    spawns helper commands through vfork, and until the child execs it
    reports the parent's address space: identical statm lines are one
    address space (distinct ones never match in all seven fields)."""
    spaces = {_statm(p) for p in [root, *descendants(root)]}
    spaces.discard(None)
    return sum(int(line.split()[1]) for line in spaces) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds until
    :meth:`stop`; ``peak_mb`` is the largest sample seen."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has exited; only its parent's wait is outstanding
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout`` seconds.  Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return []
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return killed
