"""Process-tree CPU and memory read from /proc, plus host diagnostics.

The tree is this process and every descendant: the Spark JVM and
its Python workers.  CPU is utime+stime (plus the reaped-children fields)
summed over the tree; memory is summed resident set size.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
RSS_PERIOD_S = 0.1  # RSS sampling period
PID_REFRESH_S = 1.0  # how often the sampler re-lists the process tree
GEMM_PROBE_S = 0.2  # length of the host GEMM probe
GEMM_N = 192  # its matrix size


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _descendants(table: dict[int, tuple[int, int]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {root}, [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            if child not in tree:
                tree.add(child)
                todo.append(child)
    return tree


def tree_pids() -> set[int]:
    return _descendants(_proc_table(), os.getpid())


def tree_cpu_s() -> float:
    table = _proc_table()
    pids = _descendants(table, os.getpid())
    return sum(table[p][1] for p in pids if p in table) / _CLK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread.

    The pid set is refreshed once a second; in between only the known
    pids' ``statm`` files are read, which keeps the sampler's own CPU
    (counted in the tree) small.
    """

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.peak_by_pid: dict[int, float] = {}  # the tree at its peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, refreshed = tree_pids(), time.monotonic()
        while True:
            if time.monotonic() - refreshed > PID_REFRESH_S:
                pids, refreshed = tree_pids(), time.monotonic()
            by_pid = {p: _rss_mb(p) for p in pids}
            total = sum(by_pid.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_pid = total, by_pid
            if self._stop.wait(RSS_PERIOD_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already included in user/nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def gemm_probe_gflops() -> float:
    """Single-core float32 GEMM rate: a host diagnostic, never used to
    rescale or discard a measurement."""
    n = GEMM_N
    rng = np.random.default_rng(0)
    a = rng.random((n, n), dtype=np.float32)
    b = rng.random((n, n), dtype=np.float32)
    reps, t0 = 0, time.perf_counter()
    while True:
        a @ b
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= GEMM_PROBE_S:
            return 2.0 * n**3 * reps / elapsed / 1e9


def describe(pids) -> dict[int, str]:
    """pid -> the first 80 characters of its command line."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out[pid] = f.read().replace(b"\0", b" ").decode(errors="replace")[:80]
        except OSError:
            out[pid] = "?"
    return out
