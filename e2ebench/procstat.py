"""Readings from ``/proc``: process-group CPU, peak RSS, steal share and a
fixed single-thread canary. Linux only; nothing here imports Spark."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def group_cpu_s(pgid: int) -> float:
    """Core-seconds used so far by every live process of group ``pgid``,
    including the children each of them has already reaped.

    A session's group holds the Python driver, the JVM that pyspark
    launches and the ``pyspark.daemon`` with its forked workers; the
    workers still alive when the job ends are counted, and a worker that
    exits moves its time into the daemon's ``cutime``, so a delta of two
    readings counts each tick once."""
    total = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        fields = data[data.rindex(")") + 2 :].split()
        if int(fields[2]) != pgid:
            continue
        # utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` jiffies of the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def canary_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-thread integer loop: a probe of how
    fast this core runs right now, independent of the program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0
