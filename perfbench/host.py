"""Host evidence and process measurements for one benchmark run."""

from __future__ import annotations

import os
import time


def _probe_work(n: int = 1_000_000) -> int:
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1000000007
    return acc


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop. Taken before and after a run:
    identical work, so a drift between the two readings is the host (CPU
    throttling, other tenants), not the engine."""
    t0 = time.perf_counter()
    _probe_work()
    return time.perf_counter() - t0


def loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of all cores since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the hypervisor ran another
    guest: on a shared host it slows a run without showing in its load."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
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


def reset_peak_rss() -> None:
    """Reset this process's peak resident set (VmHWM) to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(exclude: set[int] = frozenset()) -> dict[int, float]:
    """Peak resident set (VmHWM, MB) of this process and of every
    descendant — the Spark driver JVM and any Python workers — except the
    pids in ``exclude`` (the load generator) and their descendants."""
    kids = _children()
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out[pid] = _hwm_kb(pid) / 1024.0
        todo.extend(kids.get(pid, []))
    return out
