"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the driver Python, the JVM it launched and the JVM's Python
workers. A process's ticks include its reaped children (``cutime``,
``cstime``), so a worker that exits mid-pass still counts through its
parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu(st: list[str]) -> float:
    # utime, stime, cutime, cstime are fields 14..17 of /proc/PID/stat
    return sum(int(x) for x in st[11:15]) / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by ``root`` (default: this process) and every
    live descendant."""
    total = 0.0
    for pid in _tree(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            total += _cpu(st)
    return total


def py_worker_cpu_s(root: int | None = None) -> float:
    """CPU-seconds of the PySpark worker daemons under ``root`` and their
    forked workers (the Python/Arrow UDF layer)."""
    total = 0.0
    for pid in _tree(root or os.getpid()):
        if "pyspark.daemon" in _cmdline(pid):
            st = _stat(pid)
            if st is not None:
                total += _cpu(st)
    return total


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def reset_peak_rss() -> bool:
    """Reset this process's peak RSS to its current RSS (Linux >= 4.0)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK
