"""Process-tree CPU and memory, and host contention, read from /proc.

The engine runs in three kinds of process: the driver Python process,
the JVM it launches, and the Python workers the JVM forks for pandas
UDFs. CPU and RSS are summed over the whole tree rooted at the driver,
so work moved between those processes still shows up.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while being read
        return None
    if ")" not in raw:
        return None
    # the command name may contain spaces and parentheses; it ends at
    # the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the process tree.

    Each process counts its own time plus that of its children it has
    already reaped (cutime/cstime), so Python workers that exited
    during a job are still counted once, through their parent.
    """
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14..17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):  # the process ended while being read
            pass
    return total * _PAGE / 2**20


def host_ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already included in user/nice
    return vals[7], sum(vals[:8])


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class Contention:
    """Host contention over an interval: steal fraction and 1-min load."""

    def __init__(self) -> None:
        self._steal0, self._total0 = cpu_times()

    def read(self) -> dict:
        steal, total = cpu_times()
        dt = total - self._total0
        return {
            "steal_frac": (steal - self._steal0) / dt if dt > 0 else 0.0,
            "loadavg1": loadavg1(),
        }


class RssSampler:
    """Peak summed RSS of the process tree while active.

    A measurement thread that only reads /proc every ``interval``
    seconds; it submits no work to the engine.
    """

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
