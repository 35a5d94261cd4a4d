"""CPU, memory and disk-write counters of a process tree, read from /proc.

The tree is the benchmark's own Python process plus every descendant:
the Spark JVM and the Python workers it forks.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class TreeCounters:
    """Cumulative counters of the tree rooted at this process.

    CPU and bytes written keep the last value seen for each process, so
    a process that exits between two readings still counts what it did
    up to the earlier reading. Peak memory is the sum of each process's
    own peak resident set (VmHWM), an upper bound of the tree's peak.
    """

    def __init__(self):
        self.root = os.getpid()
        self._cpu: dict[int, float] = {}
        self._written: dict[int, int] = {}
        self._hwm: dict[int, int] = {}

    def _refresh(self) -> None:
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is not None:
                # utime + stime only: the children's own entries count them
                self._cpu[pid] = (int(st[11]) + int(st[12])) / _TCK
            try:
                with open(f"/proc/{pid}/io") as f:
                    io = dict(line.split(": ") for line in f.read().splitlines())
                self._written[pid] = int(io["write_bytes"])
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self._hwm[pid] = max(self._hwm.get(pid, 0), int(line.split()[1]) * 1024)
            except OSError:
                pass

    def read(self) -> tuple[float, int]:
        """CPU seconds and bytes written to storage, so far."""
        self._refresh()
        return sum(self._cpu.values()), sum(self._written.values())

    def peak_rss_bytes(self) -> int:
        self._refresh()
        return sum(self._hwm.values())
