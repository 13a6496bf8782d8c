"""Host record and process-tree memory, read from /proc."""

from __future__ import annotations

import os
import threading


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostRecord:
    """nproc, load average and CPU steal over the life of the record."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()
        self._cpu_start = _cpu_times()

    def finish(self) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu_start, end)]
        total = sum(delta[:8]) or 1
        return {
            "nproc": self.nproc,
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg(),
            "steal_share": delta[7] / total if len(delta) > 7 else 0.0,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, skip: int | None = None) -> list[int]:
    """Every process under ``pid``, less ``skip`` and the processes under it."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            if c != skip:
                out.append(c)
                todo.append(c)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _unexeced_fork(pid: int) -> bool:
    """A JVM child caught between fork and exec (the JVM starting the
    Python daemon) shows the JVM's pages; counting it would count the
    JVM twice.  Python workers are forks of the Python daemon that never
    exec, so only children of a java process are skipped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{ppid}/comm") as fh:
            parent = fh.read().strip()
    except OSError:
        return True
    return parent == "java" and _cmdline(pid) == _cmdline(ppid)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak of the summed resident size of this process and all its
    descendants (the Spark JVM and its Python workers), less the process
    ``skip`` (the checker process), sampled by a background thread."""

    def __init__(self, skip: int | None = None, period_s: float = 0.25) -> None:
        self._skip = skip
        self._peak_kb = 0
        self.at_peak: list[int] = []  # MB per process at the peak
        self._stop = threading.Event()
        self._period = period_s
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        me = os.getpid()
        parts = [(p, _rss_kb(p)) for p in [me] + descendants(me, self._skip)
                 if not _unexeced_fork(p)]
        kb = sum(k for _p, k in parts)
        if kb > self._peak_kb:
            self._peak_kb = kb
            self.at_peak = sorted((k // 1024 for _p, k in parts), reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self._peak_kb / 1024.0
