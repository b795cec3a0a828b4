"""Host state and memory of the benchmark's process tree, read from /proc.

Nothing here gates a run: the readings are reported next to the
metrics so a reader can tell a slow host from a slow program.
"""

from __future__ import annotations

import os
import threading
import time


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields[:8]]
    return sum(vals), vals[7]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it in the parent tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size of one process (0 if it has gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Summed PSS of a process tree. Pages shared by several processes
    (the blob packs every Python worker maps) count once in total,
    where an RSS sum would count them once per process."""
    return sum(pss_kb(p) for p in descendants(root)) / 1024.0


class Sampler:
    """Background thread that records the peak tree PSS and the 1-minute
    load average while it runs."""

    def __init__(self, root: int, interval_s: float = 1.0) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.loads: list[float] = []
        self.sample_s: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            t0 = time.perf_counter()
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self.sample_s.append(time.perf_counter() - t0)
            self.loads.append(_load1())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class HostWindow:
    """CPU steal share and load average between ``start`` and ``finish``."""

    def start(self) -> None:
        self._t0 = _cpu_ticks()
        self._load0 = _load1()

    def finish(self) -> dict:
        total1, steal1 = _cpu_ticks()
        total0, steal0 = self._t0
        d = max(total1 - total0, 1)
        return {
            "steal_pct": round(100.0 * (steal1 - steal0) / d, 2),
            "load1_start": self._load0,
            "load1_end": _load1(),
        }


def memcpy_gb_s(n_bytes: int = 64 << 20, repeats: int = 3) -> float:
    """Best-of-``repeats`` single-thread copy bandwidth."""
    import numpy as np

    a = np.ones(n_bytes, dtype=np.uint8)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return n_bytes / best / 1e9


def loop_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-core Python loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0
