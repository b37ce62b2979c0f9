"""CPU time and resident memory of this process and all its
descendants (driver Python, the JVM, Python workers), read from
``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system seconds of ``pids``, reaped children included."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:  # utime, stime, cutime, cstime
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's RSS every 50 ms while
    :attr:`active`; :meth:`take_peak` returns and resets the peak seen."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.active = False
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            if not self.active:
                continue
            if n % 10 == 0:  # re-list the tree every tenth sample
                pids = tree_pids()
            n += 1
            rss = tree_rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak
