"""Host health and memory sampling from /proc.

Host health is reported next to the metrics and never used to drop or
retry a run.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

def host_health() -> dict:
    """1-minute load average, the seconds to first-touch 64 MB, and the
    CPU seconds the hypervisor has taken from this machine since boot
    (steal, summed over all CPUs)."""
    t0 = time.perf_counter()
    a = np.ones(8 * 1024 * 1024)   # 64 MB of float64
    dt = time.perf_counter() - t0
    del a
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"loadavg_1m": os.getloadavg()[0],
            "first_touch_64mb_s": round(dt, 4),
            "cpu_steal_s": steal}


def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    kids = {}
    for pid, ppid in _children().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    """Summed proportional resident set (PSS) of ``root`` and all its
    descendants: the driver, the JVM it launched and the JVM's Python
    workers. PSS, not plain RSS: the workers are forked from one daemon
    and share its pages, which a plain RSS sum would count once per
    worker, moving with however many idle workers happen to be alive."""
    pids = [root] + descendants(root)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background thread sampling ``tree_rss_mb`` of this process;
    ``take()`` returns the peak since the previous ``take()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_mb(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def take(self) -> float:
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
