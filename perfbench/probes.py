"""CPU-time and resident-memory probes (Linux ``/proc``)."""

from __future__ import annotations

import ctypes
import gc
import os
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in clock ticks), or None when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after its ')'
    fields = raw[raw.rfind(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_seconds(root_pid: int | None = None) -> float:
    """CPU seconds used so far by ``root_pid`` (default: this process)
    and every live descendant, each counted with the time of its reaped
    children. The driver's tree holds the Spark JVM and, under it, the
    Python workers, so a delta across a job is the job's whole CPU cost."""
    root = root_pid or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(children[pid])
    return ticks / _CLK_TCK


def reset_peak_rss() -> None:
    """Reset this process's peak-RSS mark to its current RSS, after
    handing freed heap back to the kernel, so that a job's peak starts
    from its live data rather than from what earlier jobs left behind."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:  # not glibc: the mark then includes freed heap
        pass
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """Peak resident set size of this process since the last reset, MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")
