"""Statistics and /proc readers used by the benchmark.

Pure Python with no Spark import, so the tests in ``test_measure.py`` run
without a JVM. Every /proc reader takes the proc root as an argument so a
test can point it at a fake tree.
"""

from __future__ import annotations

import math
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tail_rank(n: int, beyond: int = 10) -> int:
    """The highest whole percentile p whose nearest rank in a sample of
    ``n`` leaves at least ``beyond`` ranks above it; 50 (the median) when
    ``n`` is too small for any.

    The benchmark takes ``n`` from its minimum sample, not from the sample
    it got, so the percentile it reports does not depend on how many
    samples a run had time for.
    """
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return 50


def nearest_rank(xs: list[float], p: int) -> float:
    """The ``p``-th percentile of a non-empty sample, by nearest rank."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    return s[max(math.ceil(p * len(s) / 100), 1) - 1]


def _stat_fields(proc: str, pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, which may hold
    spaces and parentheses; index 0 is the state (field 3 in proc(5))."""
    with open(f"{proc}/{pid}/stat") as fh:
        raw = fh.read()
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(proc, int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """User plus system CPU seconds of the tree, counting the reaped
    children of each live member (cutime/cstime)."""
    total = 0
    for pid in process_tree(root, proc):
        try:
            f = _stat_fields(proc, pid)
        except OSError:
            continue
        total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum over the live tree of each process's peak resident set
    (VmHWM), in MiB."""
    kb = 0
    for pid in process_tree(root, proc):
        try:
            with open(f"{proc}/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_steal_s(proc: str = "/proc") -> float:
    """Cumulative CPU time the hypervisor stole from this host's vCPUs."""
    with open(f"{proc}/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


def process_age_s(pid: int | None = None, proc: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) started."""
    start_ticks = int(_stat_fields(proc, pid or os.getpid())[19])
    with open(f"{proc}/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def cpu_probe_s(n: int = 200_000) -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reference that
    no change to the program can move."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0
