"""Process-tree and host counters read from ``/proc``."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of ``root`` and every live descendant, including
    the reaped children each one has waited for (the JVM, the Python worker
    daemon and its workers, and this process)."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_hwm_mib(root: int | None = None) -> dict[str, float]:
    """Peak resident set (``VmHWM``) summed over the process tree, split
    into the JVM, the Python workers (and their daemon) and the rest."""
    root = root or os.getpid()
    out = {"jvm": 0.0, "workers": 0.0, "driver": 0.0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/status") as f:
                kib = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread without memory
        kind = "jvm" if b"java" in cmd else "workers" if b"pyspark" in cmd and pid != root else "driver"
        out[kind] += kib / 1024
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs any more (exited or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    alive += [pid] if f.read().rsplit(")", 1)[1].split()[0] != "Z" else []
            except OSError:
                pass
        if not alive:
            return
        pids = alive
        time.sleep(0.05)


def host_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_window(a: list[int], b: list[int]) -> dict:
    """steal% and busy% of all host CPUs between two ``host_ticks``."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {
        "steal_pct": 100 * steal / total,
        "busy_pct": 100 * (total - idle - steal) / total,
    }


def reset_peaks(root: int | None = None) -> None:
    """Reset ``VmHWM`` to the current resident set for ``root`` and every
    live descendant, so a later ``tree_hwm_mib`` holds only what follows."""
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue  # exited
