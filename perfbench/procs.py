"""Process-tree helpers: peak memory of this process and all its
descendants (the Python process, the Spark JVM and its Python workers),
and waiting for every descendant to end."""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            return fh.read().decode("ascii", "replace").rsplit(")", 1)[-1].split()
    except OSError:
        return None  # the process ended while we looked


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (one pass over /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            rest = _stat(entry)
            if rest and len(rest) > 1 and rest[0] != "Z":
                children.setdefault(int(rest[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_memory_bytes(root: int) -> int:
    """Resident memory of the tree, each page counted once: the sum of the
    processes' proportional set sizes (shared pages split among sharers).
    A child that still shares its parent's address space (the moment
    between a JVM's vfork and exec) is skipped, as its pages are the
    parent's."""
    total = 0
    for pid in [root, *descendants(root)]:
        rest = _stat(pid)
        if rest is None:
            continue
        parent = _stat(rest[1]) if pid != root else None
        # stat fields after the name: vsize is the 21st, rss the 22nd
        if parent and rest[20:22] == parent[20:22]:
            continue
        total += _pss_bytes(pid)
    return total


class PeakMemory:
    """Samples the process tree's memory on a background thread every
    ``interval`` seconds until ``stop``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-memory", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> PeakMemory:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def reap_children(timeout: float = 60.0) -> None:
    """Wait for every descendant to end; after ``timeout`` seconds, send
    SIGTERM and then SIGKILL to what is left."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    sig = None
    while True:
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
