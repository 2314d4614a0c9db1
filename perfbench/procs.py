"""Process accounting from /proc: CPU seconds of a whole process tree and
the peak resident set of its Python workers.

CPU: the tree is this process and every live descendant. Each member
contributes utime+stime of itself plus cutime+cstime of the children it
has reaped, so a worker that exits inside a measured interval is still
counted once it is reaped by a live member of the tree (the Spark Python
daemon reaps its forked workers; the JVM reaps the daemon). Summing the
same quantity over the tree at two instants and subtracting gives the
CPU spent in between.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
POLL_S = 0.2  # RSS poll interval


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    fields = data[data.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK


def _table() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict[int, tuple[int, float]] | None = None) -> list[int]:
    """root and every live descendant of it."""
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree under ``root`` (default: self)."""
    table = _table()
    root = os.getpid() if root is None else root
    return sum(table[p][1] for p in descendants(root, table) if p in table)


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_workers(root: int | None = None) -> list[int]:
    """Python processes under ``root`` other than ``root`` itself: the
    Spark daemon and its forked workers, or a multiprocessing pool."""
    root = os.getpid() if root is None else root
    out = []
    for pid in descendants(root):
        if pid == root:
            continue
        argv0 = _cmdline(pid).split(b"\0", 1)[0]
        if b"python" in os.path.basename(argv0):
            out.append(pid)
    return out


class RssSampler:
    """Background poll of the peak RSS (VmHWM) of every Python worker in
    this process tree. VmHWM is the kernel's own high-water mark, so a
    poll only has to catch each worker once before it exits."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        for pid in python_workers():
            self.peak_mb = max(self.peak_mb, _hwm_mb(pid))

    def _run(self) -> None:
        while not self._stop.wait(POLL_S):
            self.poll()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.poll()


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree: a descendant
    whose parent exits is re-parented here instead of to init, so
    ``stop_descendants`` still finds it and can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """Terminate every process under this one, then kill what is left,
    and return only when each has ended and been reaped."""
    import signal
    import time

    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        deadline = time.monotonic() + wait_s
        sent: set[int] = set()
        while True:
            _reap()
            live = [p for p in descendants(me) if p != me]
            if not live:
                return
            if time.monotonic() > deadline:
                break
            for pid in set(live) - sent:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
                sent.add(pid)
            time.sleep(0.05)
