"""Statistics for benchmark results: median, the sample-supported tail, and
resident memory summed over a process tree."""

from __future__ import annotations

import os
import statistics
import threading

# a tail percentile is only reported where this many samples lie beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that has at least ``beyond`` samples above it.

    With ``n`` sorted samples, the sample at 0-based index ``i`` has
    ``n - 1 - i`` samples beyond it, so the answer is index ``n - 1 - beyond``
    and its percentile is ``100 * (i + 1) / n``. With too few samples for
    such a percentile at or above the median (fewer than ``2 * beyond + 1``)
    the median is returned and ``supported`` is False.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(values)
    if n < 2 * beyond + 1:
        return {
            "value": median(values),
            "percentile": 50.0,
            "beyond": n // 2,
            "n": n,
            "supported": False,
        }
    i = n - 1 - beyond
    return {
        "value": s[i],
        "percentile": round(100.0 * (i + 1) / n, 1),
        "beyond": n - 1 - i,
        "n": n,
        "supported": True,
    }


# ------------------------------------------------------------ memory (/proc)


def _read_ppid(proc: str, pid: str) -> int | None:
    try:
        with open(os.path.join(proc, pid, "stat")) as fh:
            s = fh.read()
        # comm may contain spaces and parens: fields resume after the last ')'
        return int(s[s.rindex(")") + 2 :].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def _read_rss_kb(proc: str, pid: str) -> int:
    try:
        with open(os.path.join(proc, pid, "status")) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0  # kernel threads and processes that just exited have none


def tree_pids(root_pid: int, proc: str = "/proc") -> list[int]:
    """``root_pid`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            ppid = _read_ppid(proc, name)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int, proc: str = "/proc", exclude=()) -> float:
    """Resident memory summed over ``root_pid`` and its descendants — for
    a PySpark driver that is the driver Python, the JVM it launched, and
    the JVM's Python workers — leaving out the processes in ``exclude``."""
    pids = [p for p in tree_pids(root_pid, proc) if p not in exclude]
    return sum(_read_rss_kb(proc, str(p)) for p in pids) / 1024.0


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread; ``peak`` is the
    largest sum seen. Use as a context manager so the thread always ends."""

    def __init__(self, root_pid: int, interval_s: float = 0.25, proc: str = "/proc"):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.proc = proc
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> float:
        now = tree_rss_mb(self.root_pid, self.proc)
        self.peak = max(self.peak, now)
        return now

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
