"""CPU and memory of a process tree, read from /proc.

The tree is the driver Python process, the JVM it launches and the
Python workers under the JVM. CPU counts each live process's own time
plus the time of the children it has reaped, so workers that exit
between two readings are still counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(comm, ppid, own cpu ticks, reaped-children cpu ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    return comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


class Tree:
    def __init__(self, root: int):
        self.root = root

    def _members(self) -> dict[int, tuple]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        keep = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, st in stats.items():
                if pid not in keep and st[1] in keep:
                    keep.add(pid)
                    grew = True
        return {p: stats[p] for p in keep if p in stats}

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds by part: ``driver`` (this Python
        process), ``jvm`` (the JVM's own threads) and ``pyworker`` (the
        Python worker daemon, its forks and everything the JVM reaped)."""
        out = {"driver": 0, "jvm": 0, "pyworker": 0}
        for pid, (comm, _, own, reaped) in self._members().items():
            if pid == self.root:
                out["driver"] += own + reaped
            elif comm == "java":
                out["jvm"] += own
                out["pyworker"] += reaped
            else:
                out["pyworker"] += own + reaped
        return {k: v / _TICK for k, v in out.items()}

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}

    def peak_rss_mb(self) -> float:
        """Sum over live tree processes of each one's peak RSS (VmHWM)."""
        kb = 0
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024
