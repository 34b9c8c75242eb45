"""Process-tree helpers: peak resident memory and descendant listing."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, exclude: set[int] = frozenset()) -> list[int]:
    """``pid`` and every process below it, minus ``exclude`` subtrees."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_start_time() -> float:
    """Wall-clock start of this process (epoch seconds), from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat", encoding="utf-8") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="utf-8") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / ticks


class PeakRss:
    """Samples the summed RSS of this process tree (driver, JVM, Python
    workers) every ``INTERVAL`` seconds on a background thread;
    ``exclude`` drops subtrees that are not the system under test (the
    loopback site server)."""

    INTERVAL = 0.25

    def __init__(self, exclude: set[int] = frozenset()):
        self.exclude = set(exclude)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(rss_kb(p) for p in descendants(os.getpid(), self.exclude))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
