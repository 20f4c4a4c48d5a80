"""The benchmark's process tree: RSS sampling and orderly shutdown.

The tree is this Python process, the Spark JVM it launches, and the
Python workers the JVM forks. Linux ``/proc`` only.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        boot = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user + system, that this process and its live
    descendants have used since they started, their reaped children
    included."""
    ticks = 0
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def thread_ticks() -> dict[tuple[int, int], int]:
    """User + system CPU ticks of every live thread in the tree, keyed
    by (pid, tid), leaving out the JVM's JIT compiler threads: they
    start and stop on their own, and their share of the CPU keeps
    falling through a run as the JVM's own code gets compiled."""
    me, out = os.getpid(), {}
    for pid in [me] + descendants(me):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited while listing
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat.rsplit(")", 1)
            if "CompilerThre" in name:
                continue
            fields = rest.split()
            out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def cpu_seconds_between(before: dict, after: dict) -> float:
    """CPU seconds the threads of ``after`` used since ``before``."""
    ticks = sum(t - before.get(k, 0) for k, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the machine's CPUs since boot. Steal is
    time the hypervisor ran something else on a CPU this guest wanted."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class PeakRss:
    """Samples the summed RSS of the whole tree on a thread while the
    ``with`` block runs; ``peak`` holds the maximum in bytes."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, rss_bytes([me] + descendants(me)))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM PySpark launched, and wait until
    every process it started (the JVM and its Python workers) is gone."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = [p for p in tree if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
