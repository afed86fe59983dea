"""Process-tree CPU and memory, and host weather, read from /proc.

The measured process tree is this Python process plus every descendant:
the driver JVM that PySpark launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat_fields(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_usage() -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over the tree. CPU includes each
    process's reaped children, so short-lived workers still count."""
    cpu, rss = 0, 0
    for p in tree_pids():
        st = _stat_fields(p)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17 (index 11-14 here)
        cpu += sum(int(x) for x in st[11:15])
        rss += int(st[21])
    return cpu / _TICK, rss * _PAGE / 2**20


def process_start_time() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK


class Sampler:
    """Samples the tree's CPU and RSS every quarter second on a background
    thread, so the peak RSS and the CPU at any instant of the run can be
    read afterwards."""

    def __init__(self):
        self.samples: list[tuple[float, float, float]] = []  # (t, cpu_s, rss_mb)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.25)

    def sample(self) -> tuple[float, float, float]:
        s = (time.time(), *tree_usage())
        self.samples.append(s)
        return s

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def cpu_at(self, t: float) -> float:
        """Tree CPU seconds at wall time ``t``, linearly interpolated."""
        prev = self.samples[0]
        for s in self.samples:
            if s[0] >= t:
                if s[0] == prev[0]:
                    return s[1]
                return prev[1] + (s[1] - prev[1]) * (t - prev[0]) / (s[0] - prev[0])
            prev = s
        return prev[1]

    def peak_rss_mb(self) -> float:
        return max(s[2] for s in self.samples)


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def weather(start: list[int]) -> dict:
    """Host weather since ``start`` (a ``cpu_times()`` reading): the steal
    share of all CPU time, the 1-minute load average and the CPU count.
    Recorded for diagnosis only; runs are never filtered on it."""
    end = cpu_times()
    d = [b - a for a, b in zip(start, end)]
    return {
        "steal_frac": d[7] / max(1, sum(d)),
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }
