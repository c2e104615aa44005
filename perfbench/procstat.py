"""``/proc``-based samplers: process-tree memory and a fixed host-speed probe."""

from __future__ import annotations

import os
import statistics
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name sits in parentheses and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and all its descendants, skipping the subtrees in ``exclude``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it, so a tree's sum counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended while we read
        pass
    return 0


class PeakMemorySampler:
    """Samples the summed PSS of a process tree on a background thread and
    keeps the peak. Summed RSS would count pages shared by forked workers
    once per worker, and a JVM's whole heap twice while it spawns a child.
    Use as a context manager; ``exclude`` may grow while it runs (e.g. a
    helper server started later)."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        by_pid = {p: pss_bytes(p) for p in tree_pids(self.root, set(self.exclude))}
        total = sum(by_pid.values())
        if total > self.peak:
            self.peak, self.peak_by_pid = total, by_pid
        self.samples += 1

    def peak_breakdown(self) -> str:
        """Process names and PSS (MB) at the peak sample, largest first."""
        parts = []
        for pid, pss in sorted(self.peak_by_pid.items(), key=lambda kv: -kv[1]):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                name = "gone"
            parts.append(f"{name}:{pss / 1e6:.0f}")
        return " ".join(parts)

    def __enter__(self) -> "PeakMemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_probe_s(reps: int = 3, n: int = 1_000_000) -> float:
    """Median time of a fixed pure-Python loop: a host-speed reading kept in
    every run record to explain shifts between runs. It never rescales a
    metric."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
