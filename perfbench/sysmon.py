"""Host signals recorded with every result: core count, affinity set,
hypervisor steal per iteration, and peak RSS of the process tree; and
the single-core pin for in-process timing."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager


def affinity() -> list[int]:
    return sorted(os.sched_getaffinity(0))


@contextmanager
def one_core():
    """Run the calling thread on the lowest core of its affinity set.
    The cores of a virtual machine can differ in speed by a third, and
    in-process timing that migrates between them varies twice as much
    as timing that stays on one core."""
    cores = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(cores)})
    try:
        yield
    finally:
        os.sched_setaffinity(0, cores)


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_frac(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants (the
    Spark JVM and the Python workers it forks).  A JVM child whose
    executable is still ``java`` was spawned but has not exec'd yet; it
    reports the JVM's own pages, so it is not counted twice."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        children = kids.get(pid, ())
        if children and _exe(pid) == "java":
            children = [c for c in children if _exe(c) != "java"]
        stack.extend(children)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS on a background thread while
    active; ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
