"""Measurement helpers: percentiles, peak PSS of the process tree, box probes."""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values: list[float], p: float) -> float:
    """The p-th percentile (nearest rank), refused unless at least
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    beyond = n - int(np.ceil(p / 100.0 * n))
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{p:g} of {n} samples has {beyond} beyond it, needs {MIN_BEYOND}")
    return sorted(values)[int(np.ceil(p / 100.0 * n)) - 1]


def highest_tail(values: list[float], candidates=(99, 95, 90, 75)) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile the sample supports."""
    for p in candidates:
        try:
            return p, tail_percentile(values, p)
        except ValueError:
            continue
    return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pss_mb(pids: list[int]) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # the process ended between listing and reading
    return total_kb / 1024.0


class PeakPss:
    """Samples the PSS of this process and its descendants (the JVM and
    the Python workers) from a daemon thread; ``peak_mb`` is the maximum."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, pss_mb(descendants(os.getpid())))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def box_probe() -> dict[str, float]:
    """Fixed pure-Python and numpy work, timed: drift in these is the box,
    not the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    t1 = time.perf_counter()
    a = np.random.default_rng(0).random(1_000_000)
    np.sort(a)
    t2 = time.perf_counter()
    return {"py_loop_ms": (t1 - t0) * 1000, "numpy_ms": (t2 - t1) * 1000}
