"""Summary statistics and process-tree accounting read from ``/proc``.

Everything here is plain Python so the rules can be tested without Spark:
the tail-percentile rule, the warm-up trend check, and the CPU / resident
memory sums over a process tree (the Python driver, the JVM it launches, and
the JVM's Python workers).
"""

from __future__ import annotations

import math
import os
import statistics
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")
TAIL_MIN_BEYOND = 10  # samples a reported tail percentile must leave above it
RSS_SAMPLE_S = 0.5


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` whose nearest-rank value has at
    least ``TAIL_MIN_BEYOND`` samples strictly above its rank, as ``(p, value)``.

    Nearest rank: the p-th percentile of n sorted samples is the one at
    1-based rank ``ceil(p * n / 100)``, which leaves ``n - rank`` beyond it.
    Returns None when even the median has fewer than that beyond it.
    """
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_MIN_BEYOND:
            return p, s[rank - 1]
    return None


def trend_per_pass(xs: list[float]) -> float | None:
    """Least-squares slope of pass times over pass index, as a share of
    their median per pass. Negative means later passes are faster, i.e.
    warm-up has not settled. None for fewer than two passes."""
    n = len(xs)
    if n < 2:
        return None
    mx = (n - 1) / 2
    my = sum(xs) / n
    num = sum((i - mx) * (x - my) for i, x in enumerate(xs))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den / statistics.median(xs)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, str, int, int] | None:
    """``(ppid, comm, cpu_ticks, rss_pages)`` of one process, or None if it
    has exited. ``cpu_ticks`` is utime + stime + cutime + cstime: a child's
    time moves into its parent's cutime/cstime when the parent reaps it, so
    summing this over the live processes of a tree counts every process of
    the tree once, including the ones that already exited."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may itself contain spaces and parentheses: split at the last ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2 :].split()
    utime, stime, cutime, cstime = (int(f) for f in fields[11:15])
    return int(fields[1]), raw[lpar + 1 : rpar], utime + stime + cutime + cstime, int(fields[21])


def process_tree(root: int, proc: str = "/proc") -> dict[int, tuple[int, str, int, int]]:
    """Stats of ``root`` and all its live descendants, keyed by pid."""
    stats = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return tree


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root`` and every descendant."""
    return sum(st[2] for st in process_tree(root, proc).values()) / CLK_TCK


def pyworker_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU seconds of the Python processes below the first ``java`` process
    under ``root``: Spark's Python worker daemon and the workers it forks."""
    tree = process_tree(root, proc)
    java = [pid for pid, st in tree.items() if st[1] == "java"]
    if not java:
        return 0.0
    below = process_tree(java[0], proc)
    return sum(st[2] for st in below.values() if st[1].startswith("python")) / CLK_TCK


def cpu_ticks(proc: str = "/proc") -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs since boot, from the first
    line of ``/proc/stat``. Steal is time the hypervisor ran something else
    while this machine's CPUs had work."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(st[3] for st in process_tree(root, proc).values()) * PAGE_SIZE


class PeakRss:
    """Samples the resident memory of a process tree on a thread and keeps
    the peak. Use as a context manager around the measured part of a run."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
