"""Process-tree CPU time and resident memory, read from ``/proc``.

The tree is this process plus every descendant: the driver JVM, the
pyspark daemon and its Python workers. CPU time counts ``utime+stime``
of live processes plus ``cutime+cstime``, which holds the time of
children their parent has already reaped (a Python worker that exited).

RSS leaves out processes younger than ``MIN_AGE_S``. The JVM starts
short-lived helpers (Hadoop's local file system runs ``ls`` and
``chmod``) through ``posix_spawn``; until the helper execs, it shares
the JVM's address space and ``/proc`` reports the JVM's whole RSS for
it, which would read as a spike of one JVM's size.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIN_AGE_S = 0.5


def _stat(pid: int) -> tuple[int, int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages, start tick),
    None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the last ')'
    fields = s[s.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(fields[21]), int(fields[19])


def tree(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    """pid -> (cpu ticks, rss pages, start tick since boot) for ``root``
    and all its descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    return sum(t for t, _, _ in tree().values()) / _TICK


def rss_mb() -> float:
    with open("/proc/uptime") as f:
        born_by = (float(f.read().split()[0]) - MIN_AGE_S) * _TICK
    return sum(r for _, r, start in tree().values() if start <= born_by) * _PAGE / 2**20


class Sampler:
    """Samples process-tree RSS on a background thread while active.

    ``with sampler.window() as w:`` yields a dict that holds, on exit,
    ``cpu_s`` and ``peak_rss_mb`` of the process tree over the window."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self.period_s):
                v = rss_mb()
                with self._lock:
                    self._peak = max(self._peak, v)
                time.sleep(self.period_s)

    def window(self) -> "_Window":
        return _Window(self)

    def close(self) -> None:
        self._stop.set()
        self._active.clear()
        self._thread.join(timeout=5)


class _Window:
    def __init__(self, sampler: Sampler):
        self.s = sampler
        self.result: dict[str, float] = {}

    def __enter__(self) -> dict[str, float]:
        with self.s._lock:
            self.s._peak = rss_mb()
        self._cpu0 = cpu_seconds()
        self.s._active.set()
        return self.result

    def __exit__(self, *exc) -> None:
        self.s._active.clear()
        cpu1 = cpu_seconds()
        with self.s._lock:
            peak = max(self.s._peak, rss_mb())
        self.result["cpu_s"] = cpu1 - self._cpu0
        self.result["peak_rss_mb"] = peak


def stop_tree(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL the ones still alive at the
    deadline and wait again. Used after the JVM was asked to stop."""
    import signal

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                # a zombie has exited; its parent reaps it
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.time() + timeout_s
    while (left := {p for p in pids if alive(p)}) and time.time() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while {p for p in left if alive(p)} and time.time() < deadline:
        time.sleep(0.1)
