"""Process-tree resource accounting from /proc (no psutil).

The tree is this Python driver, the JVM it launches and the Python
workers the JVM forks. ``TreeSampler`` polls the tree's proportional
set size (PSS) on a background thread to find the peak; ``tree_cpu_s``
reads the tree's accumulated CPU time (own + reaped children).

PSS, not RSS: the Python workers are forked from one daemon and share
most of their pages, and a helper process the JVM forks briefly shows
the whole JVM as its own RSS, so a sum of RSS counts those pages twice.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces and parens: split after the
        # last ')' — the ppid is then the second field
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[bytes] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(b")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime summed over the live tree.
    Reaped children are counted through their parent's c-fields, so
    short-lived Python workers are not lost once the daemon reaps them."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5); f[0] is field 3 (state)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited
        pass
    return 0


def tree_pss_bytes(root: int | None = None) -> int:
    return sum(_pss_bytes(pid) for pid in tree_pids(root))


class TreeSampler:
    """Peak process-tree PSS, polled every ``interval`` seconds. One
    poll walks the page tables of a multi-GB JVM (tens of ms of CPU,
    under the JVM's mm lock), so polls are sparse; the pre-touched heap
    keeps the peak from hiding between them."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pss = tree_pss_bytes()
            with self._lock:
                self._peak = max(self._peak, pss)
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """The peak since the previous call (or the start), then reset."""
        pss = tree_pss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, pss), 0
        return peak

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole machine from /proc/stat. On a
    VM, steal is time a vCPU could run but the host ran something
    else: a noisy window on a shared host shows as a high share."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)
