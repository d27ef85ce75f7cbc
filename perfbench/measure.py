"""Small measurement helpers: percentiles with their sample counts, process
age, peak RSS of a process tree, bytes on disk, host facts."""

from __future__ import annotations

import math
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples."""
    return max(1, math.ceil(q * n / 100 - 1e-9))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(q, len(ordered)) - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def supported_percentiles(n: int, candidates=(50, 90, 99, 99.9)) -> list[float]:
    """The candidate percentiles with at least ten samples beyond them."""
    return [q for q in candidates if n - _rank(q, n) >= 10]


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5); the first two are cut
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # /proc comm, cut at 15 chars


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime: fields 14, 15 of stat(5)


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds used so far by ``root`` (default: this
    process) and its live descendants, leaving out the JVM's JIT compiler
    threads. Time the hypervisor stole from the guest is not in it."""
    total = 0
    for pid in process_tree(root or os.getpid()):
        try:
            total += _ticks(f"/proc/{pid}/stat")
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        total -= _ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
    return total / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the RSS high-water marks of ``root`` (default: this process)
    and its live descendants: the driver, its JVM and any Python workers.
    Read before the session stops, so the JVM is still alive."""
    return sum(_hwm_kb(pid) for pid in process_tree(root or os.getpid())) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": _cpu_ticks(),
        "time": time.time(),
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time between two ``host_facts`` that the hypervisor
    gave to other guests."""
    delta = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return delta[7] / sum(delta) if sum(delta) else 0.0
