"""Process-tree and machine probes read from /proc.

The engine's work runs in three kinds of process: the Python process, the
JVM it launches, and the JVM's Python workers. `tree_cpu_s` adds their
user and system time (including reaped children) so CPU cost covers all
of them, not just the interpreter that runs the benchmark.
"""

from __future__ import annotations

import hashlib
import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after the command name: utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _HZ


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def du_mb(path: str) -> float:
    """Bytes under `path`, in MB (0 when it does not exist)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total / 1e6


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) if len(fields) > 8 else 0


def _calibration_s() -> float:
    """Time of a fixed amount of single-threaded work (64 MB of sha256)."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def drift_receipt() -> dict:
    """Machine state: a fixed-work probe, load average and steal ticks.

    Recorded beside the metrics, never used to rescale them."""
    with open("/proc/loadavg") as f:
        load = f.read().split()
    return {
        "unix_ts": time.time(),
        "calibration_s": _calibration_s(),
        "load_1m": float(load[0]),
        "load_5m": float(load[1]),
        "steal_ticks": _steal_ticks(),
    }
