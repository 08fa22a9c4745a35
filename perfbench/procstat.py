"""CPU seconds and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own driver process, the JVM it launches and
the Python workers that JVM starts.  Python workers come and go while a
workload runs; a worker that exits is reaped by its parent (the worker
daemon), and the kernel then adds the worker's CPU time to the parent's
``cutime``/``cstime``.  So the tree total at any instant is

    sum over live processes of (utime + stime + cutime + cstime)

and a worker that exited between two readings is still counted, through
its parent.  Peak memory is the largest summed RSS of the Python
processes seen by a background sampling thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_INTERVAL = 0.05  # seconds between RSS samples


def _stat_fields(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of ``/proc/<pid>/stat``, read
    in one go so the name and the counters belong to the same instant."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces; the fields
    # after it start at field 3 (state)
    return (raw[raw.index("(") + 1:raw.rindex(")")],
            raw[raw.rindex(")") + 2:].split())


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree, exited children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / _TICK


def python_rss_mb(root: int) -> float:
    """Summed resident MB of the tree's Python processes: the driver
    ``root`` and the Python workers.  The JVM is left out: G1 sizes its
    heap by its own policy, so its RSS says little about the program."""
    total = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None and (pid == root or st[0].startswith("python")):
            total += int(st[1][21])  # field 24 = rss pages
    return total * _PAGE / 1e6


class RssSampler:
    """Samples `python_rss_mb` every ``_INTERVAL`` seconds on a daemon
    thread; ``peak_mb`` is the largest sum since the last ``reset``."""

    def __init__(self, root: int):
        self.root = root
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(_INTERVAL):
            self.sample()

    def sample(self) -> None:
        mb = python_rss_mb(self.root)
        with self._lock:
            self._peak = max(self._peak, mb)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
        self.sample()

    @property
    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
