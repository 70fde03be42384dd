"""Host and process-tree readings from /proc, and orderly JVM shutdown.

CPU is summed over the benchmark process and every descendant (the Spark
JVM, the Python workers the JVM forks). A descendant that exits and is
reaped moves its time into its parent's `cutime`/`cstime`, so counting
utime+stime+cutime+cstime of the live tree counts every CPU second once.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime+cutime+cstime of `pids`, in seconds."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of this process, CPU seconds of its whole tree)."""
    me = os.getpid()
    return cpu_seconds([me]), cpu_seconds(descendants(me))


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the tree."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


class HostNoise:
    """Steal share of all CPU time over a window, and load averages, so a run
    on a busy host shows in its own output."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self._cpu0 = self._proc_stat()
        self.load_end = self.load_start
        self.steal_share = 0.0

    @staticmethod
    def _proc_stat() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def close(self) -> None:
        cpu1 = self._proc_stat()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8])  # user..steal; guest time is inside user
        self.steal_share = delta[7] / total if total else 0.0
        self.load_end = os.getloadavg()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM and every process it started
    have exited. The gateway JVM only exits on stdin EOF, so close it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    tree = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - still running: killed below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = [p for p in tree if (_stat(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived the Spark session")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)
