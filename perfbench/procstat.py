"""Process-tree CPU time and Python-worker memory, read from /proc.

The benchmark's driver process launches the Spark JVM, and the JVM forks
the Python worker daemon and its workers. ``tree_cpu_s`` sums user and
system time over that whole tree, including the time of children already
reaped (``cutime``/``cstime``), so a worker that exits between two reads
does not take its CPU time with it. ``RssSampler`` polls the summed RSS of
the Python processes below the JVM in a background thread and keeps the
peak.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot: the time the
    hypervisor ran something else while this VM's CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(argv0).startswith(b"python")


def python_worker_rss_mb(root: int | None = None) -> float:
    """Summed RSS of the Python processes below the JVM (daemon + workers)."""
    rss = 0
    me = root or os.getpid()
    for pid in descendants(me):
        if pid == me or not _is_python(pid):
            continue
        st = _stat(pid)
        if st is not None:
            rss += int(st[21]) * _PAGE  # field 24: rss in pages
    return rss / 1e6


class RssSampler:
    """Background poller of ``python_worker_rss_mb``; ``peak_mb`` is the max."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_worker_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
