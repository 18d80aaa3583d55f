"""Process-tree bookkeeping for the benchmark: who we started, how much memory
they hold, and proof that every one of them is gone before we exit.

Linux-only (reads /proc). The benchmark makes itself a child subreaper, so a
Spark Python worker orphaned by the JVM's exit is re-parented to the
benchmark instead of to init: it stays inside our tree, we can wait for it,
and we reap it ourselves.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> tuple[int, str] | None:
    """(ppid, state) of a live pid, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()  # comm may contain spaces
    return int(fields[1]), fields[0]


def descendants(root: int | None = None) -> set[int]:
    """Live (non-zombie) descendants of `root` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st and st[1] != "Z":
            children.setdefault(st[0], []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class TreeMonitor:
    """Samples the summed RSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = rss_bytes(os.getpid()) + sum(rss_bytes(p) for p in descendants())
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeMonitor":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_tree_gone(timeout_s: float) -> list[int]:
    """Wait until every descendant has exited; kill what is still alive at
    the deadline and return those pids. After become_subreaper() every
    process started below us, orphaned or not, remains a descendant."""
    deadline = time.monotonic() + timeout_s
    while True:
        reap_zombies()
        alive = descendants()
        if not alive:
            return []
        if time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 10
    while descendants() and time.monotonic() < end:
        reap_zombies()
        time.sleep(0.05)
    reap_zombies()
    return sorted(alive)
