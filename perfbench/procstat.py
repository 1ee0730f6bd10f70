"""CPU time and resident memory of this process and its descendants.

Reads ``/proc`` (Linux): the benchmark's driver Python, the JVM it
launches and the Python workers the JVM forks all sit in one process
tree. CPU time includes children already reaped by a live parent
(``cutime``/``cstime``), so short-lived workers are not lost.

Kernels built without ``CONFIG_PROC_CHILDREN`` have no
``/proc/<pid>/task/<tid>/children``, so the tree is found from each
process's parent pid. A :class:`Tree` reads the ``stat`` file only of
the processes in the tree and of pids it has not seen before: a
process outside the tree stays outside (its parent pid only changes
when it is re-parented to init), so the cost of a sample does not grow
with unrelated processes on the machine.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK, int(fields[21]) * _PAGE


class Tree:
    """Snapshots of one process tree: pid -> (cpu seconds, rss bytes)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._outside: set[int] = set()
        self._lock = threading.Lock()  # the RSS sampler shares the caches

    def snapshot(self) -> dict[int, tuple[float, int]]:
        with self._lock:
            pids = {int(n) for n in os.listdir("/proc") if n.isdigit()}
            self._outside &= pids
            stats = {}
            for pid in pids - self._outside:
                st = _stat(pid)
                if st is not None:
                    stats[pid] = st
            children: dict[int, list[int]] = {}
            for pid, (ppid, _, _) in stats.items():
                children.setdefault(ppid, []).append(pid)
            out: dict[int, tuple[float, int]] = {}
            todo = [self.root]
            while todo:
                pid = todo.pop()
                if pid in stats:
                    out[pid] = stats[pid][1:]
                    todo.extend(children.get(pid, ()))
            self._outside |= stats.keys() - out.keys()
            return out

    def cpu_since(self, start: dict[int, tuple[float, int]]) -> float:
        """CPU seconds the tree used since the ``start`` snapshot.

        A process in ``start`` that has since been reaped is counted
        through its parent's ``cutime``/``cstime``, which add its whole
        life; its CPU before ``start`` is taken off again. (A process
        that was re-parented to init before it ended is not counted
        after it left the tree.)"""
        now = self.snapshot()
        used = sum(cpu - start.get(pid, (0.0, 0))[0] for pid, (cpu, _) in now.items())
        return used - sum(cpu for pid, (cpu, _) in start.items() if pid not in now)


class PeakRss:
    """Samples the tree's summed RSS on a background thread."""

    def __init__(self, tree: Tree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.peak = max(self.peak, sum(rss for _, rss in self.tree.snapshot().values()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
