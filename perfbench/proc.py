"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return data[data.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 1e6


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    thread; ``peak`` is the largest sample since ``start()``."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def start(self) -> "PeakRss":
        self.peak = rss_mb(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, rss_mb(self.root))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return max(self.peak, rss_mb(self.root))
