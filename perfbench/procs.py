"""Process-tree accounting for the benchmark: CPU time and peak memory of
this process plus every process under it (the JVM and its Python
workers), and an orderly stop of the JVM the session launched."""

from __future__ import annotations

import dataclasses
import os
import signal
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> list[int]:
    """Process ids of every live descendant of ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, frontier = [], [root_pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants,
    including what they have collected from exited children."""
    total = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def host_steal_ticks() -> int:
    """Clock ticks the hypervisor has taken from this host's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


@dataclasses.dataclass(frozen=True)
class Timing:
    """One measured call: its wall time, the CPU seconds of this process
    tree, and the share of all CPUs' time the hypervisor took from this
    host while it ran. The last two are diagnostics; only wall time is
    gated."""

    wall_s: float
    cpu_s: float
    steal_share: float


def measure(fn):
    """Run ``fn()``; return its result and its ``Timing``."""
    c0, s0 = tree_cpu_s(), host_steal_ticks()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    stolen = (host_steal_ticks() - s0) / (wall * os.cpu_count() * CLK_TCK)
    return out, Timing(wall, tree_cpu_s() - c0, min(stolen, 1.0))


def stop_spark(spark) -> None:
    """Stop the session, end the JVM the session launched, and wait until
    it and every Python worker under it have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited since the listing


class MemorySampler(threading.Thread):
    """Peak summed proportional set size (PSS) of this process and all its
    descendants (the JVM and its Python workers), sampled from /proc. PSS
    splits pages shared between forked workers, so the sum does not count
    them once per process as a sum of RSS would."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_pss_kib(root_pid: int) -> int:
        total = 0
        for p in [root_pid, *descendants(root_pid)]:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kib = max(self.peak_kib, self.tree_pss_kib(pid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
