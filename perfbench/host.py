"""Host sizing, load stamps, process-tree memory and Spark lifetime.

Everything here reads only this process's own view of the host
(``/proc``) and starts or stops only the benchmark's own processes.
"""

from __future__ import annotations

import os
import signal
import time


def cores() -> int:
    """CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A driver heap that fits the host: a quarter of RAM, 1-4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so it includes
    interpreter start-up and imports)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Stamp:
    """1-min load and CPU steal share over an interval."""

    def __init__(self):
        self.load_before = os.getloadavg()[0]
        self.cpu_before = _cpu_jiffies()

    def close(self) -> dict:
        after = _cpu_jiffies()
        d = [a - b for a, b in zip(after, self.cpu_before)]
        total = sum(d) or 1
        return {
            "load1_before": round(self.load_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "steal_pct": round(100.0 * d[7] / total, 3),
            "busy_pct": round(100.0 * (total - d[3] - d[4]) / total, 1),
        }


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the driver JVM and the Python workers)."""
    ticks = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: the driver JVM and the Python workers."""
    kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(x.split()[1]) for x in f if x.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (Python workers included) has exited."""
    from pyspark import SparkContext

    children = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        while any(_alive(p) for p in children) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in children:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
