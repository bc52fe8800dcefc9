"""Peak summed RSS of a process tree, sampled from /proc.

The tree of a benchmark run is the driver Python process, the JVM it
launched and the Python workers the JVM forks. Only /proc/<pid>/statm
is read, so a sample costs about a millisecond.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
#: Seconds between two samples of the tree.
INTERVAL = 0.1


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


def _tree(root: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) of ``root`` and every descendant."""
    kids, out, todo = _children(), [(root, None)], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append((c, pid))
            todo.append(c)
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid, _parent in _tree(root)[1:]]


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_rss(root: int) -> dict[int, int]:
    """RSS in bytes of every live process of the tree, by pid. A child
    whose memory counters equal its parent's is a vfork/posix_spawn
    child that has not exec'd yet: it shares the parent's address
    space, so it is left out rather than counted twice."""
    statm: dict[int, str] = {}
    tree = _tree(root)
    for pid, _parent in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            continue
    return {
        pid: int(statm[pid].split()[1]) * PAGE
        for pid, parent in tree
        if pid in statm and statm[pid] != statm.get(parent)
    }


class RssSampler:
    """Samples ``tree_rss(root)`` every ``INTERVAL`` seconds on a
    thread between ``start`` and ``stop``; ``peak`` is in bytes."""

    def __init__(self, root: int):
        self.root, self.peak = root, 0
        self.peak_procs = 0  # processes in the tree at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss(self.root)
            if sum(rss.values()) > self.peak:
                self.peak, self.peak_procs = sum(rss.values()), len(rss)
            if self._stop.wait(INTERVAL):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
