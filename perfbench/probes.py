"""Process-tree CPU and memory, and host context, read from ``/proc``.

The process tree is this Python driver, the Spark driver JVM it launched and
the Python workers the JVM forks. CPU counts the live processes' own time
plus the time of children they have reaped, so the total only grows while
the tree's root is alive.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every descendant."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Summed peak RSS (``VmHWM``) of the tree's live processes. The kernel
    keeps each peak, so short-lived children the JVM spawns, whose RSS
    briefly shows the parent's pages, cannot inflate the figure."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from ``/proc/stat``. The guest
    fields are already counted in user and nice, so only the first eight
    fields are summed."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def speed_probe_s() -> float:
    """Seconds a fixed single-threaded interpreter loop takes, the best of
    three. On a shared host the same code can run markedly slower at one
    time than another without any steal showing; this reading shows it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best


class HostWindow:
    """Steal share, load average and interpreter speed over a window —
    annotations that make a run taken on a noisy or slow host visible; they
    never change a metric."""

    def __init__(self) -> None:
        self._j0 = cpu_jiffies()
        self._load0 = loadavg()
        self._probe0 = speed_probe_s()

    def close(self) -> dict:
        steal1, total1 = cpu_jiffies()
        steal0, total0 = self._j0
        span = max(1, total1 - total0)
        return {
            "steal_frac": round((steal1 - steal0) / span, 6),
            "loadavg_start": self._load0,
            "loadavg_end": loadavg(),
            "speed_probe_s": [self._probe0, speed_probe_s()],
            "ncpu": os.cpu_count(),
        }
