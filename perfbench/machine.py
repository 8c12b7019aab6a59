"""Machine probes: CPU clock, steal, calibration, process-tree memory.

The benchmark's time metrics are CPU seconds, not wall seconds. On a
shared host the hypervisor takes CPU away from this machine (steal):
on the same code and input, runs with 10-17% steal took 30-60% longer
in wall time, while the CPU time they used moved by under 10%. Guest
CPU accounting excludes stolen time, so CPU seconds measure the work
the program does; wall seconds are still recorded in the details line.
"""

from __future__ import annotations

import os
import time

# CPU nanoseconds used by every task of this machine (cgroup v1 root)
CPUACCT_USAGE = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by all processes on this machine, stolen
    time excluded. Nanosecond resolution from cpuacct when the machine
    has it, else 1/CLK_TCK resolution from /proc/stat."""
    try:
        with open(CPUACCT_USAGE) as f:
            return int(f.read()) / 1e9
    except (OSError, ValueError):
        pass
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq = (int(x) for x in f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / _TICK


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def calibrate_s() -> float:
    """Seconds for a fixed single-thread pure-Python loop: an effective
    CPU speed probe that host contention inflates (bench.py's method)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    if s < 0:
        raise AssertionError
    return time.perf_counter() - t0


def _proc_stat_fields(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(pid: int) -> set[int]:
    """``pid`` and all its live descendants."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                parent[int(entry)] = int(_proc_stat_fields(entry)[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_peak_rss_mb(pid: int) -> float:
    """Summed VmHWM (peak resident set) of ``pid`` and its descendants:
    the Python client, the JVM and the Python workers."""
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def pids_in_group(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                fields = _proc_stat_fields(entry)
                if int(fields[2]) == pgid and fields[0] != "Z":
                    pids.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return pids
