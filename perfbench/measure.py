"""Measurement helpers with no Spark dependency: the seed → input-range
mapping, the tail-percentile rule and the process-tree RSS sampler."""

from __future__ import annotations

import math
import os
import threading

# Each seed owns a disjoint block of corpus document indices, so two
# seeds never share a generated document.
SEED_STRIDE = 10**7


def seed_start(seed: int) -> int:
    """First corpus document index of ``seed``'s block."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    return seed * SEED_STRIDE


def seed_range(seed: int, n: int) -> range:
    """The ``n`` document indices a seed generates (``n`` must fit in
    the seed's block, so blocks of different seeds stay disjoint)."""
    if not 0 < n <= SEED_STRIDE:
        raise ValueError(f"n must be in 1..{SEED_STRIDE}, got {n}")
    s = seed_start(seed)
    return range(s, s + n)


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 1) of ``values``."""
    xs = sorted(values)
    return xs[max(1, math.ceil(p * len(xs))) - 1]


def tail_percentile(n: int, want: float = 0.90,
                    min_beyond: int = 10) -> float | None:
    """The highest percentile <= ``want`` whose nearest rank leaves at
    least ``min_beyond`` of ``n`` samples beyond it, in whole percent;
    None when not even one sample's rank does."""
    for pct in range(round(want * 100), 0, -1):
        rank = max(1, math.ceil(pct * n / 100))
        if n - rank >= min_beyond:
            return pct / 100
    return None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (from /proc)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Samples the summed RSS of this process and every descendant (the
    Spark JVM and its Python workers) on a background thread; ``peak``
    is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
