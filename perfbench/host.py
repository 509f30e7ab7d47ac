"""Host context for every record: cores, CPU steal, load and versions,
plus the peak resident memory of the JVM that PySpark launched and its
Python workers, all read from ``/proc``."""

from __future__ import annotations

import os
import platform
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return round(100.0 * (end[0] - start[0]) / total, 3) if total > 0 else 0.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def versions() -> dict[str, str]:
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of per-process peak RSS over ``root_pid`` and its live
    descendants (the JVM, the PySpark daemon and its workers). Each
    process's own peak is summed, so this bounds the tree's peak from
    above."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return round(total / 1024.0, 3)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process and by
    ``root_pid`` with its descendants, reaped children included. Time the
    host's hypervisor gives to other guests (steal) is not in it."""
    kids = _children()
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(kids.get(pid, ()))
    return time.process_time() + ticks / _TICK


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down the JVM PySpark launched (its Python workers end with
    it) and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=timeout_s)


def jvm_pid(spark) -> int:
    """Pid of the JVM that PySpark launched for ``spark``."""
    return int(spark.sparkContext._gateway.proc.pid)
