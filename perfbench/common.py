"""Helpers shared by the benchmark's modules."""

from __future__ import annotations

import os
import sys
import threading
from dataclasses import dataclass


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


@dataclass
class Run:
    """One run of a workload and its output check."""

    wall: float  # seconds
    attempted: int  # checked outputs: 1 per dedup run, 1 per query
    failed: int  # of those, raised or failed the check
    recall: float
    precision: float
    note: str  # the check's details, for the log


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / 1e6


class RssPeak:
    """Peak summed RSS of one process and all its descendants (the JVM and
    the Python workers it forks), sampled from /proc on a thread."""

    INTERVAL_S = 0.1

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
