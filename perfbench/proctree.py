"""CPU time and resident memory of a process tree, read from ``/proc``.

Spark's own task metrics (``executorCpuTime``) count JVM task threads
only; the pandas-UDF kernels run in forked Python workers that those
metrics never see. This sampler walks the whole tree under one root
process — here the benchmark's own driver process, whose descendants
are the JVM, the pyspark daemon and every Python worker — and sums:

- CPU: ``utime + stime`` of each live process plus ``cutime + cstime``,
  the time of its already-reaped children, so workers that exit
  mid-run are still counted, once;
- RSS: resident pages of each live process, sampled by a background
  thread so a per-window peak can be read.

It also stops the tree: :func:`become_subreaper` keeps orphaned
descendants (a pyspark worker whose daemon exited first) re-parented to
the root instead of init, so :func:`stop_tree` can signal every one of
them and reap each until none is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # process exited between listdir and open
        return None
    # field 2 (comm) may contain spaces; everything after its ')' is fixed
    return data[data.rindex(")") + 2 :].split()


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields from field 3 on) for ``root`` and its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        pid = int(name)
        stats[pid] = st
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants(root: int) -> list[int]:
    return [pid for pid, st in _tree(root) if pid != root and st[0] != "Z"]


def stop_tree(root: int | None = None, grace: float = 15.0) -> list[int]:
    """Stop every descendant of ``root`` (default: this process) and wait
    until each has ended and, when it is ours, been reaped.

    Sends SIGTERM, then SIGKILL to whatever is still alive after
    ``grace`` seconds. Returns the pids that had to be killed."""
    root = os.getpid() if root is None else root
    killed: list[int] = []
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, grace)):
        pids = _live_descendants(root)
        if not pids:
            break
        if sig == signal.SIGKILL:
            killed = pids
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while _live_descendants(root) and time.monotonic() < deadline:
            _reap()
            time.sleep(0.05)
    # zombies left by the signals above: reap until the tree is empty
    deadline = time.monotonic() + grace
    while len(_tree(root)) > 1 and time.monotonic() < deadline:
        _reap()
        time.sleep(0.05)
    return killed


class ProcTree:
    """CPU seconds and sampled peak RSS of the tree under ``root``.

    Use as a context manager: a daemon thread samples RSS every
    ``interval`` seconds until exit. ``cpu_s()`` is a point reading;
    ``reset_peak()``/``peak_rss_mb()`` bracket a measured window.
    """

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        # fields from 3 on: utime, stime, cutime, cstime sit at 14-17 (1-based)
        ticks = sum(
            int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
            for _pid, st in _tree(self.root)
        )
        return ticks / _TICK

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            rss = sum(_rss_bytes(pid) for pid, _st in _tree(self.root))
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def __enter__(self) -> "ProcTree":
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
