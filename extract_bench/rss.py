"""Peak resident memory of a process tree, sampled from ``/proc``.

One daemon thread walks the descendants of a root pid (the benchmark's own
Python driver → the py4j JVM → the PySpark daemon → its Python workers) and
sums their resident set sizes.  ``psutil`` is not needed.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1  # memory grows over hundreds of ms; a walk costs ~2 ms


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """*root* and every live process below it.

    A child of the JVM that still runs the JVM's own binary is the JVM
    mid-way through spawning a process (``posix_spawn`` shares the parent's
    memory until ``exec``); counting it would count the JVM twice.
    """
    children = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        exe = _exe(pid)
        for child in children.get(pid, ()):
            if not (exe.endswith("/java") and _exe(child) == exe):
                todo.append(child)
    return out


def rss_by_pid(pids) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                out[pid] = int(fh.read().split()[1]) * PAGE
        except OSError:
            continue  # exited since the walk
    return out


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Context manager: peak summed RSS of this process's tree while open."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_bytes = 0
        self.peak_breakdown: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = rss_by_pid(descendants(self.root))
        total = sum(rss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_breakdown = {}
            for pid, b in rss.items():
                key = "runner" if pid == self.root else _name(pid)
                self.peak_breakdown[key] = self.peak_breakdown.get(key, 0) + b / (1024 * 1024)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
