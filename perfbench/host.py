"""Host sizing and process-tree accounting, read from ``/proc``.

The engine's session defaults assume a much larger machine, so the bench
sizes Spark from the host it runs on (CPU affinity set and physical memory)
and hands the result to ``session`` through its environment variables.

CPU time and resident memory are summed over the bench's whole process
tree: the driver Python process, the JVM it launches and the Python UDF
workers the JVM forks.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# Local mode runs driver and executors in one JVM, so this heap serves both.
# A quarter of physical memory, capped: the inputs are sized so 2 GiB is
# ample, and the host is shared.
HEAP_CAP_MB = 2048


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return max(1024, min(HEAP_CAP_MB, host_mem_mb() // 4))


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / _CLK


def _stat_table() -> dict[int, list[str]]:
    """pid → the /proc/<pid>/stat fields after the command name."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                table[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
    return table


def _tree() -> dict[int, list[str]]:
    """pid → stat fields of this process and all its descendants."""
    root = os.getpid()
    table = _stat_table()
    kids: dict[int, list[int]] = {}
    for pid, fields in table.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
        todo.extend(kids.get(pid, []))
    return out


def pin_tree(cpus: set[int]) -> None:
    """Set the CPU affinity of every thread in the process tree. Threads and
    processes started afterwards inherit it from their creator."""
    for pid in _tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # exited meanwhile
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # thread exited meanwhile
                pass


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant, including
    children already reaped (their time moves into the parent's cutime)."""
    total = 0
    for f in _tree().values():
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_hwm_mb() -> float:
    """Sum of each live process's resident high-water mark (VmHWM). Unlike a
    sampled sum of RSS, it does not depend on whether the processes' peaks
    happened to coincide."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # exited meanwhile
            continue
    return total_kb / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
