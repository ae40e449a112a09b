"""Readings from /proc: CPU time and peak memory of a process tree, host
steal and load. Linux only; the benchmark reads nothing else about the
machine."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")  # jiffies per second


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may contain spaces; fields after it start at state (field 3)
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """utime+stime of the tree, plus that of its reaped children
    (cutime+cstime), so short-lived workers are not lost."""
    total = 0
    for pid in pids or tree():
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / TICK


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the tree, in MB."""
    kb = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def reset_peak_rss(pids: list[int]) -> None:
    """Restart VmHWM at the current RSS (Linux clear_refs value 5)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def load_1m() -> float:
    return os.getloadavg()[0]


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
