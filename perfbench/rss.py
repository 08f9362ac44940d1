"""Peak summed RSS of this process, the JVM the session launches and the
Python workers the JVM forks, sampled from /proc on a background
thread."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``, its children (the JVM) and every Python
    process below them (the pyspark daemon and its workers). Other
    descendants are skipped: the JVM starts helper commands through
    vfork, and until their exec the child reports the JVM's own
    memory, which would count the heap twice."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append((int(name), comm))
    counted = [root]
    for pid, _ in children.get(root, ()):
        counted.append(pid)
        todo = [pid]
        while todo:
            for child, comm in children.get(todo.pop(), ()):
                if comm.startswith("python"):
                    counted.append(child)
                    todo.append(child)
    total = 0
    for pid in counted:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """``with PeakRss() as p: ...`` then ``p.peak_mb``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
