"""Process-tree helpers read from /proc: summed RSS and waiting for exit."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _parent_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants: the Python driver, the driver JVM and its Python
    workers."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            rss = rss_bytes([me, *descendants(me)])
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the
    deadline, then wait for those too."""
    deadline = time.monotonic() + timeout_s
    left = list(pids)
    while left and time.monotonic() < deadline:
        left = [p for p in left if _alive(p)]
        if left:
            time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own unreaped child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
