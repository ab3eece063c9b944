"""Peak memory of the Spark driver JVM and its Python workers, sampled
from /proc by a background thread of the benchmark process, and the
lifetime of those processes: the run adopts and waits for all of them.

Python workers are forked from one daemon and share its pages, so their
resident sets overlap: summing RSS counts the shared pages once per
worker alive at that moment. Each process is therefore counted by its
proportional set size (PSS, shared pages split among their sharers),
which adds up to the memory the process tree really holds.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    # utime, stime, cutime, cstime: fields 14 to 17, 12 to 15 after the ')'
    return sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])


def descendants_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every descendant of this
    process, including their children that have exited and been reaped."""
    return sum(_cpu_ticks(p) for p in descendants(os.getpid())) / _TICKS


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants_pss() -> int:
    """Summed proportional set size, in bytes, of every descendant of
    this process."""
    return sum(_pss(p) for p in descendants(os.getpid()))


class PeakMemory:
    """Context manager: the largest ``descendants_pss`` seen while open."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, descendants_pss())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, descendants_pss())


def adopt_orphans() -> None:
    """Make this process the parent of its descendants' orphans. Spark's
    Python worker daemon is a child of the JVM and outlives it for a
    moment; adopted, it is waited for by ``wait_children`` instead of
    being left running when the run ends."""
    if ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def wait_children(grace_s: float = 30.0) -> None:
    """Wait until every child of this process, adopted orphans included,
    has ended; kill every descendant still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)
