"""Run-validity telemetry and memory sampling, read from /proc and the
cgroup filesystem.

A sample taken while the hypervisor stole more than ``STEAL_BOUND`` of
the machine's CPU time is invalid: it measures the neighbours, not the
engine. The benchmark drops such samples instead of reporting them.
"""

from __future__ import annotations

import os
import threading
import time

STEAL_BOUND = 0.10          # share of CPU time stolen during one sample
LATENESS_BOUND_S = 0.5      # how late the stream generator may write a file

_CGROUP_STATS = ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat",
                 "/sys/fs/cgroup/cpu,cpuacct/cpu.stat")


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def _throttling() -> tuple[int, float] | None:
    """(throttled periods, throttled seconds) of this cgroup, if any."""
    for path in _CGROUP_STATS:
        try:
            with open(path) as f:
                kv = dict(line.split() for line in f if line.strip())
        except OSError:
            continue
        if "throttled_usec" in kv:
            return int(kv.get("nr_throttled", 0)), int(kv["throttled_usec"]) / 1e6
        if "throttled_time" in kv:
            return int(kv.get("nr_throttled", 0)), int(kv["throttled_time"]) / 1e9
    return None


def snapshot() -> dict:
    steal, total = _cpu_jiffies()
    return {"t": time.time(), "loadavg1": os.getloadavg()[0],
            "steal": steal, "total": total, "throttle": _throttling()}


def delta(before: dict, after: dict) -> dict:
    """Validity record of one sample between two snapshots."""
    dt = max(after["total"] - before["total"], 1)
    out = {"loadavg1_before": before["loadavg1"],
           "loadavg1_after": after["loadavg1"],
           "steal_frac": (after["steal"] - before["steal"]) / dt,
           "throttled_periods": None, "throttled_s": None}
    if before["throttle"] and after["throttle"]:
        out["throttled_periods"] = after["throttle"][0] - before["throttle"][0]
        out["throttled_s"] = after["throttle"][1] - before["throttle"][1]
    out["valid"] = out["steal_frac"] <= STEAL_BOUND
    return out


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            out[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def process_tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its descendants, minus ``exclude`` and the transient
    children a JVM forks to spawn commands (they share, and would
    double-count, the JVM's pages until they exec)."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        ppid, name = procs.get(pid, (0, ""))
        if procs.get(ppid, (0, ""))[1] == "java" and not name.startswith("python"):
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def cpu_seconds(pids: list[int]) -> float:
    """user+system CPU seconds of the given processes, their reaped
    children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in v[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def python_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    out = []
    for pid in process_tree(root, exclude):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            continue
    return out


class RssSampler:
    """Background sampler of the summed RSS of this process and its
    descendants (the driver JVM and the Python workers), minus
    ``exclude`` (the input generator)."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        rss = sum(_rss_bytes(p) for p in process_tree(os.getpid(), self.exclude))
        self.peak = max(self.peak, rss)
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.peak = 0
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join()
        self.sample()
