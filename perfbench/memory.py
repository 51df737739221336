"""Process-tree accounting: summed PSS and CPU time of a root process and
its descendants.

PSS (proportional set size, ``/proc/<pid>/smaps_rollup``) charges each
shared page to its sharers in equal parts.  A child the JVM forks before
``exec`` shares every page with the JVM, so summed RSS counts the JVM
twice while summed PSS counts it once.
"""
from __future__ import annotations

import ctypes
import os
import signal
import threading
import time


def tree_pids(root: int) -> list[int]:
    """``root`` followed by all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass  # exited between listing and reading
    return out


def adopt_orphans() -> None:
    """Make this process a child subreaper (Linux ``prctl``): a descendant
    whose parent exits is re-parented here instead of to init, so
    :func:`reap_descendants` still finds and waits for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: descendants are still reaped while parented here


def reap_descendants(grace: float = 10.0, limit: float = 40.0) -> None:
    """SIGTERM every live descendant of this process, SIGKILL those still
    alive after ``grace`` seconds, and wait until each has ended (giving up
    after ``limit`` seconds, so the caller still exits in bounded time)."""
    me = os.getpid()
    deadline, give_up = time.time() + grace, time.time() + limit
    sig = signal.SIGTERM
    while True:
        pids = tree_pids(me)[1:]
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        while True:  # reap what has ended; re-parented orphans included
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not tree_pids(me)[1:] or time.time() > give_up:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``'s live tree, including children
    it has already reaped (so a worker that exits is still counted once).
    Time the hypervisor steals from the VM is not in it."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _field_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def pss_kb(pid: int) -> int:
    return _field_kb(pid, "Pss:")


def rss_kb(pid: int) -> int:
    return _field_kb(pid, "Rss:")


class PssSampler:
    """Samples the summed PSS of ``root``'s tree every ``interval`` seconds
    from a daemon thread.  Peaks are taken only while a window is open
    (:meth:`open_window` / :meth:`close_window`), so the caller decides the
    amount of work the peak is taken over.  The CPU time spent sampling is
    kept in ``cpu_s``."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak_mb = self.root_peak_mb = self.child_peak_mb = 0.0
        self.children_max = 0
        self.samples = 0
        self.cpu_s = self.window_s = 0.0
        self._window = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def open_window(self) -> None:
        self._opened = time.perf_counter()
        self._window = True

    def close_window(self) -> None:
        if self._window:
            self.sample()
            self._window = False
            self.window_s += time.perf_counter() - self._opened

    def sample(self) -> None:
        if not self._window:
            return
        c0 = time.thread_time()
        pids = tree_pids(self.root)
        root = pss_kb(pids[0]) / 1024
        child = sum(pss_kb(p) for p in pids[1:]) / 1024
        with self._lock:
            self._record(root, child, len(pids) - 1)
            self.cpu_s += time.thread_time() - c0

    def _record(self, root: float, child: float, n_children: int) -> None:
        self.samples += 1
        self.peak_mb = max(self.peak_mb, root + child)
        self.root_peak_mb = max(self.root_peak_mb, root)
        self.child_peak_mb = max(self.child_peak_mb, child)
        self.children_max = max(self.children_max, n_children)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
