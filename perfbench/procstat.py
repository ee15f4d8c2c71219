"""Process-tree CPU, resident memory and host steal, read from /proc.

The benchmark process, its Spark JVM and the JVM's Python workers form
one process tree. CPU time is summed over the tree including reaped
children (``cutime``/``cstime``), so a worker that exits between two
reads still counts once its parent has waited for it. Resident memory
(as proportional set size) is sampled by one thread at a fixed
interval; the peak is the largest sum seen.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')' so the field numbers below are stable
    return raw[raw.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree, each page counted once: the sum of
    the processes' proportional set sizes. Forked Python workers share
    most of their pages with the worker daemon; summing plain RSS would
    count those pages once per worker alive."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]  # user..steal; guest is in user
    return vals[7], sum(vals)


class TreeSampler:
    """One thread that samples the tree's resident memory every ``interval_s``.

    Use as a context manager; ``peak_rss_bytes`` holds the largest sample.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class CpuMeter:
    """Accumulates tree CPU seconds and host steal over timed sections."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.cpu_s = 0.0
        self.steal_ticks = 0
        self.total_ticks = 0

    def __enter__(self) -> "CpuMeter":
        self._cpu0 = tree_cpu_s(self.root)
        self._host0 = host_cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s += tree_cpu_s(self.root) - self._cpu0
        steal, total = host_cpu_ticks()
        self.steal_ticks += steal - self._host0[0]
        self.total_ticks += total - self._host0[1]

    @property
    def steal_frac(self) -> float:
        return self.steal_ticks / self.total_ticks if self.total_ticks else 0.0
