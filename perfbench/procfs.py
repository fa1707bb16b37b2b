"""Process-tree and host counters read from ``/proc``.

The benchmark runs Spark in local mode, so one run is a tree of processes:
this Python process, the JVM it launches and the Python UDF workers the JVM
forks. ``tree_cpu_s`` and ``tree_hwm_mib`` sum over that tree; ``HostCpu``
samples ``/proc/stat`` so a slow run can be attributed to host steal.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exited moves its time into its parent's ``cutime``)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_hwm_mib(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live tree, in MiB."""
    kib = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


class HostCpu:
    """Host-wide jiffies from ``/proc/stat``; ``steal_pct`` is the share of
    non-idle cycles stolen by other guests since construction."""

    def __init__(self):
        self.busy0, self.steal0 = self._sample()

    @staticmethod
    def _sample() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return vals[0] + vals[1] + vals[2] + steal, steal

    def steal_pct(self) -> float:
        busy, steal = self._sample()
        db = busy - self.busy0
        return 100.0 * (steal - self.steal0) / db if db > 0 else 0.0
