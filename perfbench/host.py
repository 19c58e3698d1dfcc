"""Host context (not gated) and the memory reading for ``peak_rss_mb``."""

from __future__ import annotations

import os
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def membw_probe(seconds: float = 0.3) -> float:
    """Streaming-read MB/s of one core over a 64 MiB array. The host's DRAM
    bandwidth drifts between sessions, so each run records it."""
    a = np.random.rand(64 * 1024 * 1024 // 8)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        a.sum()
        n += 1
    return round(n * 64 / (time.perf_counter() - t0), 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[0] is the state, so utime..cstime are fields[11:15]
    return sum(int(x) for x in fields[11:15])


def cpu_seconds() -> float:
    """CPU time this process and every process below it (the Spark JVM,
    the Python daemon and its workers) have used so far."""
    kids = _children()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(pid)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the Spark JVM plus every process below it
    (the Python daemon and its workers): the sum of each one's VmHWM."""
    kids = _children()
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0
