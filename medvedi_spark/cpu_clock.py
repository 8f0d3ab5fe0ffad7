"""The CPU clock of the benchmarks: CPU seconds used by this process and
every process below it (the driver JVM and its Python workers), exited
ones included. Unlike wall time, it leaves out the time the host gives to
other guests. Linux only: it reads ``/proc``.

A process's ``utime + stime`` counts its own threads, and its
``cutime + cstime`` the children it has waited for. The pyspark daemon
sets ``SIGCHLD`` to ``SIG_IGN``, so the kernel reaps its Python workers
without adding their CPU to anyone's ``cutime``: a one-shot reading of
the tree loses a worker's whole lifetime CPU when the worker exits, and a
timed span across such an exit can read negative. :class:`TreeClock`
polls the tree from a background thread and, when a process whose parent
ignores ``SIGCHLD`` is gone, keeps the ticks it last saw of it. What such
a process uses after the last poll before its exit (at most one poll
interval per thread) is not counted, nor is a process that lives less
than one interval; an exit no longer lowers a reading.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TCK = os.sysconf("SC_CLK_TCK")
_POLL_S = 0.05  # about 2 ms of CPU a poll on a host with 100 processes
_SIGCHLD_BIT = 1 << (signal.SIGCHLD - 1)


def _ignores_sigchld(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) & _SIGCHLD_BIT)
    except OSError:  # exited meanwhile
        pass
    return False


class TreeClock:
    """``with TreeClock() as clock:`` then ``clock.seconds()`` around the
    work; the difference of two readings is the CPU the tree used between
    them. The polling thread's own CPU is left out."""

    def __init__(self) -> None:
        self._root = os.getpid()
        self._lock = threading.Lock()
        # (pid, start time) -> (ticks, whether its parent ignores SIGCHLD)
        self._live: dict[tuple[int, int], tuple[int, bool]] = {}
        self._gone = 0  # ticks of exited processes that nobody waited for
        self._own_s = 0.0  # CPU seconds of the polling thread
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-clock", daemon=True)

    def __enter__(self) -> "TreeClock":
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def seconds(self) -> float:
        self._poll()
        with self._lock:
            ticks = self._gone + sum(t for t, _ in self._live.values())
            return ticks / _TCK - self._own_s

    def _run(self) -> None:
        while not self._stop.wait(_POLL_S):
            self._poll()
            with self._lock:
                self._own_s = time.thread_time()

    def _poll(self) -> None:
        with self._lock:
            kids: dict[int, list[int]] = {}
            stat: dict[int, tuple[int, int]] = {}
            for entry in os.listdir("/proc"):
                if not entry.isdigit():
                    continue
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:  # exited meanwhile
                    continue
                kids.setdefault(int(fields[1]), []).append(int(entry))
                # start time; utime stime cutime cstime
                stat[int(entry)] = (int(fields[19]), sum(int(f) for f in fields[11:15]))
            live: dict[tuple[int, int], tuple[int, bool]] = {}
            todo = [(self._root, False)]
            while todo:
                pid, reaped_unseen = todo.pop()
                if pid not in stat:
                    continue
                start, ticks = stat[pid]
                live[(pid, start)] = (ticks, reaped_unseen)
                children = kids.get(pid, ())
                if children:
                    ignores = _ignores_sigchld(pid)
                    todo.extend((c, ignores) for c in children)
            for key, (ticks, reaped_unseen) in self._live.items():
                if key not in live and reaped_unseen:
                    self._gone += ticks
            self._live = live
